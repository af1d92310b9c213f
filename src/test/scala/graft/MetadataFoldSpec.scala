package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.operators.VersionedTable

/** One fold path for the metadata rules: every aggregate the folds
  * answer equals the plain scan of a session without them — whole-
  * table, under a WHERE and under a GROUP BY, on clean, DV'd, empty,
  * column-mapped and time-travelled tables and on a zero-row file
  * without stats — and the source keeps one shape recognizer and one
  * manifest read. */
class MetadataFoldSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** The fixture's context with the masked-scan rewrite only (DV'd and
    * mapped versions need it to scan at all) and no metadata rule. */
  private lazy val bare: SparkSession =
    org.apache.spark.sql.graftbridge.Bridge.sessionWithExtensions(
      spark.sparkContext,
      _.injectOptimizerRule(_ => graft.plans.VtMaskedScanRewrite))

  private def tmpTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_fold_").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getAbsolutePath
  }

  private val statsCols = Seq("id", "v", "g", "s", "dec")

  /** 400 rows in 4 id-clustered files: `g` constant per file, `v`
    * null on every 9th row, `x` outside every query; stats on all but
    * `x`. */
  private def base(from: Long = 0L): DataFrame =
    (from until from + 400L).map(i =>
      (i, if (i % 9 == 0) None else Some(i * 3 - 500), i / 100,
        f"s$i%04d", BigDecimal(i) / 4, i))
      .toDF("id", "v", "g", "s", "dec", "x")
      .withColumn("dec", col("dec").cast("decimal(10,2)"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")

  private val aggs = Seq("count(*)", "count(v)", "min(id)", "max(id)",
    "min(s)", "max(s)", "sum(v)", "avg(v)", "sum(dec)",
    "count(DISTINCT g)", "approx_count_distinct(g)")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def foldsToLocal(q: String): Boolean =
    spark.sql(q).queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  /** Every aggregate, whole-table, under a WHERE and per group, equals
    * the rule-free scan over `from`; returns the aggregates whose
    * whole-table query folded to a LocalRelation. */
  private def differential(from: String): Set[String] = {
    aggs.foreach { a =>
      Seq(s"SELECT $a AS x FROM $from",
        s"SELECT $a AS x FROM $from WHERE id >= 150",
        s"SELECT g, $a AS x FROM $from GROUP BY g").foreach { q =>
        assert(rows(spark.sql(q)) == rows(bare.sql(q)), q)
      }
    }
    aggs.filter(a => foldsToLocal(s"SELECT $a AS x FROM $from")).toSet
  }

  test("clean table: folds equal the scan, whole-table folds stay") {
    val t = tmpTable("clean")
    VersionedTable.commit(base(), t, overwrite = true, statsCols = statsCols)
    assert(differential(s"graft.`$t`") == aggs.toSet)
  }

  test("DV'd table: folds equal the scan, counts still fold") {
    val t = tmpTable("dv")
    VersionedTable.commit(base(), t, overwrite = true, statsCols = statsCols)
    // masks both extrema (ids 0 and 399), nulls and every Σ
    VersionedTable.deleteWhere(spark, t,
      col("id") % 7 === 0 || col("id") === 399L, deletionVectors = true)
    assert(differential(s"graft.`$t`") ==
      Set("count(*)", "count(DISTINCT g)"))
  }

  test("empty table: every whole-table aggregate folds") {
    val t = tmpTable("empty")
    VersionedTable.commit(base().limit(0), t, overwrite = true,
      statsCols = statsCols)
    assert(differential(s"graft.`$t`") == aggs.toSet)
  }

  test("a zero-row file without stats folds whatever it lacks") {
    val t = tmpTable("zero")
    VersionedTable.commit(base().limit(0).coalesce(1), t, overwrite = true)
    VersionedTable.commit(base(), t, overwrite = false,
      statsCols = statsCols)
    val es = VersionedTable.readEntries(spark, t, 1)
    assert(es.exists(e => e.nRows == 0L && e.stats.isEmpty),
      es.map(e => (e.nRows, e.stats.keySet)))
    assert(differential(s"graft.`$t`") == aggs.toSet)
  }

  test("column-mapped table: folds equal the scan, count(*) folds") {
    val t = tmpTable("mapped")
    VersionedTable.commit(base(), t, overwrite = true, statsCols = statsCols)
    VersionedTable.renameColumn(spark, t, "x", "y")
    assert(differential(s"graft.`$t`") == Set("count(*)"))
  }

  test("VERSION AS OF: the pinned version folds its own metadata") {
    val t = tmpTable("travel")
    VersionedTable.commit(base(), t, overwrite = true, statsCols = statsCols)
    VersionedTable.commit(base(400L), t, overwrite = false)
    VersionedTable.deleteWhere(spark, t, col("id") % 5 === 0,
      deletionVectors = true)
    assert(differential(s"graft.`$t` VERSION AS OF 0") == aggs.toSet)
    assert(differential(s"graft.`$t` VERSION AS OF 1") == aggs.toSet)
  }

  test("src/main keeps one fold path and one manifest read in plans/") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    def lines(f: java.io.File): List[String] = {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val base = new java.io.File("src/main/scala/graft")
    val offenders = scalaFiles(base).flatMap { f =>
      val rel = base.toPath.relativize(f.toPath).toString
      lines(f).zipWithIndex.flatMap { case (line, i) =>
        val shared = rel.startsWith("plans/") && rel != "plans/VtFiles.scala"
        (Seq("foldAll").filter(line.contains) ++
          (if (shared) Seq("requireVisibleVersion(", "readEntrySubset(")
            .filter(line.contains) else Nil))
          .map(tok => s"$rel:${i + 1} [$tok] ${line.trim}")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    val traits = lines(new java.io.File(base, "plans/VtMetadataAgg.scala"))
      .flatMap(l => "sealed trait (\\w+)".r.findFirstMatchIn(l)
        .map(_.group(1)))
    assert(traits == Seq("Shape", "SumKind"),
      s"one aggregate-shape ADT beside the sum kinds: $traits")
  }
}
