package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VersionedTable

/** ORDER BY col LIMIT k file skipping over versioned catalog tables:
  * only files whose manifest span can reach the provable top-k open;
  * the answer stays bit-identical to the full sort (the Sort + Limit
  * still execute over the kept subset). */
class VtTopKSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vttopk_").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getAbsolutePath
  }

  test("ORDER BY LIMIT opens only the provable file subset") {
    val t = tmpTable("topk")
    val df = (0L until 4000L).map(i => (i, s"r$i")).toDF("ts", "s")
    VersionedTable.commit(
      df.repartitionByRange(8, col("ts")).sortWithinPartitions("ts"),
      t, overwrite = true, statsCols = Seq("ts"))
    val nFiles = VersionedTable.readEntries(spark, t, 0).size
    assume(nFiles >= 4)
    val trusted = VersionedTable.read(spark, t)

    val qd = spark.sql(
      s"SELECT ts, s FROM graft.`$t` ORDER BY ts DESC LIMIT 100")
    assert(qd.collect().toSeq == trusted.orderBy($"ts".desc)
      .limit(100).collect().toSeq)
    assert(qd.inputFiles.length < nFiles,
      s"DESC top-k scanned ${qd.inputFiles.length}/$nFiles files")

    val qa = spark.sql(
      s"SELECT ts FROM graft.`$t` ORDER BY ts LIMIT 10")
    assert(qa.collect().map(_.getLong(0)).toSeq == (0L until 10L))
    assert(qa.inputFiles.length < nFiles,
      s"ASC top-k scanned ${qa.inputFiles.length}/$nFiles files")

    // multi-key ORDER BY prunes on the first key, keeps exact order
    val qm = spark.sql(
      s"SELECT ts, s FROM graft.`$t` ORDER BY ts DESC, s LIMIT 50")
    assert(qm.collect().toSeq == trusted.orderBy($"ts".desc, $"s")
      .limit(50).collect().toSeq)
    assert(qm.inputFiles.length < nFiles)

    // k beyond the table: no pruning, answer still exact
    val qall = spark.sql(
      s"SELECT ts FROM graft.`$t` ORDER BY ts LIMIT 999999")
    assert(qall.count() == 4000L)
  }

  test("ties at the k-th value, nulls, and NaN files stay exact") {
    val t = tmpTable("topk_hostile")
    // file 1: high band with TIES at the boundary value 100
    val f1 = Seq((100L, "a"), (100L, "b"), (99L, "c")).toDF("v", "s")
    // file 2: all ties at 100 as well — must be kept for k small
    val f2 = Seq((100L, "d"), (50L, "e")).toDF("v", "s")
    // file 3: strictly below — prunable
    val f3 = Seq((10L, "f"), (9L, "g")).toDF("v", "s")
    // file 4: nulls only
    val f4 = Seq((Option.empty[java.lang.Long], "h")).toDF("v", "s")
    VersionedTable.commit(f1.coalesce(1), t, overwrite = true,
      statsCols = Seq("v"))
    Seq(f2, f3, f4).foreach(f =>
      VersionedTable.commit(f.coalesce(1), t, overwrite = false))
    val trusted = VersionedTable.read(spark, t)
    val q = spark.sql(
      s"SELECT v, s FROM graft.`$t` ORDER BY v DESC, s LIMIT 3")
    assert(q.collect().toSeq == trusted.orderBy($"v".desc, $"s")
      .limit(3).collect().toSeq)
    assert(q.inputFiles.length <= 2,
      s"tie-keeping must still prune low/null files: " +
        s"${q.inputFiles.length}")
    // ASC NULLS FIRST: the null file must be in the answer
    val qa = spark.sql(s"SELECT v, s FROM graft.`$t` ORDER BY v LIMIT 2")
    assert(qa.collect().toSeq == trusted.orderBy($"v", $"s".asc_nulls_first)
      .limit(2).collect().toSeq.take(2) ||
      qa.collect().map(_.isNullAt(0)).headOption.contains(true))

    // NaN doubles: the NaN-bearing file records no span, sorts first
    // under DESC, and must be kept
    val t2 = tmpTable("topk_nan")
    val g1 = Seq(1.0, 2.0, 3.0).toDF("d")
    val g2 = Seq(Double.NaN, 0.5).toDF("d")
    VersionedTable.commit(g1.coalesce(1), t2, overwrite = true,
      statsCols = Seq("d"))
    VersionedTable.commit(g2.coalesce(1), t2, overwrite = false)
    val qn = spark.sql(s"SELECT d FROM graft.`$t2` ORDER BY d DESC LIMIT 2")
    val got = qn.collect().map(_.getDouble(0)).toSeq
    assert(got.head.isNaN && got(1) == 3.0, s"NaN must rank first: $got")
  }

  test("DV'd files weaken the guarantee but never break exactness") {
    val t = tmpTable("topk_dv")
    val f1 = (0L until 100L).map(i => (i, s"x$i")).toDF("v", "s")
    val f2 = (100L until 200L).map(i => (i, s"y$i")).toDF("v", "s")
    VersionedTable.commit(f1.coalesce(1), t, overwrite = true,
      statsCols = Seq("v"))
    VersionedTable.commit(f2.coalesce(1), t, overwrite = false)
    // mask the top 90 values of the high file via a deletion vector
    VersionedTable.deleteWhere(spark, t, col("v") >= 110L,
      deletionVectors = true)
    val trusted = VersionedTable.read(spark, t)
    val q = spark.sql(s"SELECT v FROM graft.`$t` ORDER BY v DESC LIMIT 20")
    assert(q.collect().map(_.getLong(0)).toSeq ==
      trusted.orderBy($"v".desc).limit(20).collect()
        .map(_.getLong(0)).toSeq)
  }

  test("translatable WHEREs fold into the guarantee; opaque ones " +
      "and expression keys stay exact") {
    val t = tmpTable("topk_where")
    val df = (0L until 1000L).map(i => (i, s"s$i")).toDF("v", "s")
    VersionedTable.commit(
      df.repartitionByRange(4, col("v")).sortWithinPartitions("v"),
      t, overwrite = true, statsCols = Seq("v"))
    val n = VersionedTable.readEntries(spark, t, 0).size
    assume(n >= 4)
    val trusted = VersionedTable.read(spark, t)
    // all-out files prune outright; the all-in band funds the
    // threshold: top-5 of WHERE v < 500 lives in one file
    val qw = spark.sql(s"SELECT v FROM graft.`$t` " +
      "WHERE v < 500 ORDER BY v DESC LIMIT 5")
    assert(qw.collect().map(_.getLong(0)).toSeq ==
      (499L to 495L by -1L))
    assert(qw.inputFiles.length < n,
      s"WHERE-folded top-k must prune: ${qw.inputFiles.length}/$n")
    // a boundary (straddled) file keeps but guarantees nothing — the
    // answer can still come FROM it
    val qb = spark.sql(s"SELECT v FROM graft.`$t` " +
      "WHERE v >= 100 ORDER BY v LIMIT 5")
    assert(qb.collect().map(_.getLong(0)).toSeq == (100L to 104L))
    assert(qb.inputFiles.length < n,
      s"boundary-aware ASC top-k must prune: ${qb.inputFiles.length}/$n")
    // an un-indexed filter column: every file is boundary, nothing
    // guaranteed → no pruning, values exact
    val qf = spark.sql(s"SELECT v FROM graft.`$t` " +
      "WHERE s LIKE 's1%' ORDER BY v DESC LIMIT 5")
    assert(qf.collect().map(_.getLong(0)).toSeq ==
      trusted.where("s LIKE 's1%'").orderBy($"v".desc).limit(5)
        .collect().map(_.getLong(0)).toSeq)
    // expression sort key: declines, stays exact
    val qe = spark.sql(
      s"SELECT v FROM graft.`$t` ORDER BY v % 7 DESC, v LIMIT 5")
    assert(qe.collect().map(_.getLong(0)).toSeq ==
      trusted.orderBy(($"v" % 7).desc, $"v").limit(5)
        .collect().map(_.getLong(0)).toSeq)
  }
}
