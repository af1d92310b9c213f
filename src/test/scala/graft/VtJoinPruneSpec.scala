package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VersionedTable

/** Join-key dynamic file pruning: a selective broadcast-class build
  * side prunes the versioned probe side's manifest files before the
  * scan — results stay identical to the unpruned join. */
class VtJoinPruneSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vtdfp_").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getAbsolutePath
  }

  private def mkFact(t: String, nKeys: Long, nFiles: Int): Unit = {
    val fact = spark.range(0, nKeys).select(
      $"id".as("fk"), ($"id" * 7 % 100).as("measure"))
    VersionedTable.commit(
      fact.repartitionByRange(nFiles, col("fk"))
        .sortWithinPartitions("fk"),
      t, overwrite = true, statsCols = Seq("fk"))
  }

  test("a selective dimension filter prunes fact files (IN-set path)") {
    val t = tmpTable("fact")
    mkFact(t, 4000L, 8)
    val n = VersionedTable.readEntries(spark, t, 0).size
    assume(n >= 4)
    val dim = (0L until 4000L by 40L).map(i => (i, s"d$i"))
      .toDF("dk", "dname")
    dim.where($"dk" < 300).createOrReplaceTempView("dim_sel")
    val q = spark.sql(s"SELECT f.fk, f.measure, d.dname " +
      s"FROM graft.`$t` f JOIN dim_sel d ON f.fk = d.dk")
    val expected = VersionedTable.read(spark, t)
      .join(dim.where($"dk" < 300), $"fk" === $"dk")
      .select($"fk", $"measure", $"dname")
    assert(q.collect().toSet == expected.collect().toSet)
    assert(q.inputFiles.length < n,
      s"selective dim must prune fact files: ${q.inputFiles.length}/$n")
  }

  test("range path beyond the IN-set cap still prunes") {
    spark.conf.set("spark.graft.dfp.inSetCap", "10")
    try {
      val t = tmpTable("fact2")
      mkFact(t, 4000L, 8)
      val n = VersionedTable.readEntries(spark, t, 0).size
      assume(n >= 4)
      val dim = (0L until 500L).map(i => (i, s"d$i")).toDF("dk", "dname")
      dim.where($"dk" >= 100 && $"dk" < 400)
        .createOrReplaceTempView("dim_rng")
      val q = spark.sql(s"SELECT f.fk, d.dname FROM graft.`$t` f " +
        "JOIN dim_rng d ON f.fk = d.dk")
      val expected = VersionedTable.read(spark, t)
        .join(dim.where($"dk" >= 100 && $"dk" < 400), $"fk" === $"dk")
        .select($"fk", $"dname")
      assert(q.collect().toSet == expected.collect().toSet)
      assert(q.inputFiles.length < n,
        s"range DFP must prune: ${q.inputFiles.length}/$n")
    } finally spark.conf.unset("spark.graft.dfp.inSetCap")
  }

  test("left semi prunes; outer joins and bare builds stay untouched") {
    val t = tmpTable("fact3")
    mkFact(t, 2000L, 8)
    val n = VersionedTable.readEntries(spark, t, 0).size
    assume(n >= 4)
    val dim = (0L until 2000L by 100L).map(i => (i, i % 3))
      .toDF("dk", "grp")
    dim.where($"dk" < 200).createOrReplaceTempView("dim_semi")
    dim.createOrReplaceTempView("dim_all")
    val semi = spark.sql(s"SELECT f.fk FROM graft.`$t` f LEFT SEMI " +
      "JOIN dim_semi d ON f.fk = d.dk")
    assert(semi.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 100L))
    assert(semi.inputFiles.length < n)
    // LEFT OUTER keeps unmatched probe rows: no pruning allowed
    val outer = spark.sql(s"SELECT f.fk, d.grp FROM graft.`$t` f " +
      "LEFT JOIN dim_semi d ON f.fk = d.dk")
    assert(outer.count() == 2000L)
    // an unfiltered dimension is not selective: plan untouched
    val bare = spark.sql(s"SELECT f.fk FROM graft.`$t` f " +
      "JOIN dim_all d ON f.fk = d.dk")
    assert(bare.inputFiles.length == n,
      "a bare build side must not trigger a plan-time job")
  }

  test("empty and all-null build sides give empty joins, not errors") {
    val t = tmpTable("fact4")
    mkFact(t, 1000L, 4)
    val dimE = Seq.empty[(Long, String)].toDF("dk", "dname")
    dimE.where($"dk" > 0).createOrReplaceTempView("dim_empty")
    val q = spark.sql(s"SELECT f.fk FROM graft.`$t` f " +
      "JOIN dim_empty d ON f.fk = d.dk")
    assert(q.count() == 0L)
    val dimN = Seq((Option.empty[Long], "x"), (Option.empty[Long], "y"))
      .toDF("dk", "dname")
    dimN.where($"dname" =!= "z").createOrReplaceTempView("dim_null")
    val qn = spark.sql(s"SELECT f.fk FROM graft.`$t` f " +
      "JOIN dim_null d ON f.fk = d.dk")
    assert(qn.count() == 0L,
      "null keys never equi-match; the pruned join is empty")
  }

  test("nondeterministic builds decline (executed-twice hazard)") {
    val t = tmpTable("fact5")
    mkFact(t, 1000L, 4)
    val n = VersionedTable.readEntries(spark, t, 0).size
    val dim = spark.range(0, 1000).select(
      (rand(7) * 1000).cast("long").as("dk")).where($"dk" >= 0)
    dim.createOrReplaceTempView("dim_rand")
    val q = spark.sql(s"SELECT f.fk FROM graft.`$t` f " +
      "JOIN dim_rand d ON f.fk = d.dk")
    assert(q.inputFiles.length == n,
      "a nondeterministic build side must never prune")
  }
}
