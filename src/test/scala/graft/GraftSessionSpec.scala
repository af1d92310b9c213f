package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.operators.VersionedTable

/** `GraftSession` is the one place a graft session is configured: the
  * fixture gets the engine from the preset alone (extension class and
  * catalog conf, no per-suite registration), and no other code builds
  * a session or registers rules at runtime. */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("shuffle partitions follow the resolved master") {
    assert(GraftSession.shufflePartitionsFor("local[2]", 8) == 2)
    assert(GraftSession.shufflePartitionsFor("local[3,2]", 8) == 3)
    assert(GraftSession.shufflePartitionsFor("local[*]", 8) == 8)
    assert(GraftSession.shufflePartitionsFor("local", 8) == 8)
    assert(GraftSession.shufflePartitionsFor("spark://h:7077", 8) == 200)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4",
      "the local[4] fixture plans 4 shuffle partitions on any box")
  }

  test("the fixture carries the extension and the catalog from the preset") {
    assert(spark.conf.get("spark.sql.extensions")
      .split(',').map(_.trim).contains(classOf[GraftExtensions].getName))
    assert(spark.conf.getOption("spark.sql.catalog.graft")
      .contains("graft.sources.VtCatalog"))
  }

  test("a whole-table count over a catalog table folds with no registration") {
    val d = java.nio.file.Files.createTempDirectory("graft_preset_").toFile
    d.deleteOnExit()
    val t = new java.io.File(d, "t").getAbsolutePath
    VersionedTable.commit((0L until 100L).toDF("id").coalesce(2), t,
      overwrite = true)
    val df = spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]),
      s"count(*) must fold to the manifest:\n$plan")
    assert(df.collect()(0).getLong(0) == 100L)
  }

  test("no session builder or runtime rule registration outside the preset") {
    val self = "GraftSessionSpec.scala"
    val roots = Seq("src/main/scala", "src/test/scala").map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"missing source root $r"))
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = for {
      f <- roots.flatMap(files) if f.getName != self
      (line, i) <- {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList.zipWithIndex finally src.close()
      }
      bad = (line.contains("SparkSession.builder(") &&
          f.getName != "GraftSession.scala") ||
        (line.contains("ensureRegistered(") && f.getName != "MergeAsOf.scala")
      if bad
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
