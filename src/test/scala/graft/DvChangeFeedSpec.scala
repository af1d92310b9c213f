package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.graftspec.JobCounter

import graft.operators.VersionedTable

/** The change feed of a deletion-vector commit is one masked scan of
  * the files whose vector changed: the same rows as the sidecar-frame
  * lane (forced by a zero broadcast cap), no shuffle, no join, and two
  * jobs — the new mask's collect and the feed itself. */
class DvChangeFeedSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private val Cap = "spark.graft.dv.broadcastMaxPositions"

  private def tmpTable(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dvcf_").toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getAbsolutePath
  }

  /** Rows as sorted strings, columns in name order. */
  private def bag(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect()
      .map(_.toSeq.mkString("|")).sorted.toSeq

  /** Data rows by position (a rename changes names, not values). */
  private def values(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  /** Exchanges and joins of an executed plan, looking through AQE. */
  private def shuffleOrJoin(p: SparkPlan): Seq[String] = p match {
    case a: AdaptiveSparkPlanExec => shuffleOrJoin(a.executedPlan)
    case q: QueryStageExec => q.nodeName +: shuffleOrJoin(q.plan)
    case e: Exchange => e.nodeName +: e.children.flatMap(shuffleOrJoin)
    case j: BaseJoinExec => j.nodeName +: j.children.flatMap(shuffleOrJoin)
    case other => other.children.flatMap(shuffleOrJoin)
  }

  test("DV commits' feed: masked scan equals the frame lane, no shuffle, 2 jobs") {
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 400L).map(i => (i, i * 10L, s"s$i")).toDF("id", "x", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    assert(VersionedTable.files(spark, t, 0).size == 2)
    // v1: a renamed (column-mapped) column
    assert(VersionedTable.renameColumn(spark, t, "x", "amount") == 1)
    // v2: a DV delete over both files — one sidecar shared by both.
    // Its feed is counted first, before any read caches its mask.
    assert(VersionedTable.deleteWhere(spark, t, col("id") % 7 === 0,
      deletionVectors = true) == 2)
    val e2 = VersionedTable.readEntries(spark, t, 2)
    assert(e2.flatMap(_.dv.map(_._1)).distinct.size == 1 &&
      e2.forall(_.dv.nonEmpty), e2)
    val jobs = JobCounter.jobsIn(spark.sparkContext) {
      VersionedTable.readChanges(spark, t, 2).collect(): Unit
    }
    assert(jobs <= 2, s"DV-delete feed ran $jobs jobs")
    // v3: a DV update of the low file only — its vector absorbs the
    // shared sidecar's positions; the high file keeps the shared one
    assert(VersionedTable.updateWhere(spark, t,
      col("id") < 150L && col("id") % 11 === 1,
      Map("amount" -> (col("amount") + 1L)), deletionVectors = true) == 3)
    val e3 = VersionedTable.readEntries(spark, t, 3)
    assert(e3.flatMap(_.dv.map(_._1)).distinct.size == 2, e3)
    // v4: a DV merge — upserts, a tombstone and a fresh key
    val src = Seq((250L, -1L, "u250", false), (390L, -1L, "u390", false),
      (260L, 0L, "", true), (1000L, 7L, "n", false))
      .toDF("id", "amount", "s", "del")
    assert(VersionedTable.mergeInto(spark, t, src, Seq("id"),
      tombstoneCol = Some("del"), deletionVectors = true) == 4)
    // v5: restore across the DV delete — vectors shrink to none
    assert(VersionedTable.restoreTo(spark, t, 1) == 5)
    // v6, v7: a fresh vector, then one absorbing it
    assert(VersionedTable.deleteWhere(spark, t, col("id") % 13 === 0,
      deletionVectors = true) == 6)
    assert(VersionedTable.deleteWhere(spark, t, col("id") % 3 === 0,
      deletionVectors = true) == 7)

    val dvVersions = Set(2, 3, 4, 6, 7)
    (1 to 7).foreach { v =>
      val feed = VersionedTable.readChanges(spark, t, v)
      val got = bag(feed)
      val frameLane = {
        spark.conf.set(Cap, "0")
        try bag(VersionedTable.readChanges(spark, t, v))
        finally spark.conf.unset(Cap)
      }
      assert(got == frameLane, s"v$v: masked lane != frame lane")
      // and the feed is the exact step: v-1 - deletes + inserts == v
      val cols = VersionedTable.read(spark, t, Some(v)).columns.toSeq
      def typed(ct: String) = values(feed.where(col("_change_type") === ct)
        .select(cols.map(col): _*))
      val (before, del, ins) = (
        values(VersionedTable.read(spark, t, Some(v - 1))),
        typed("delete"), typed("insert"))
      assert(del.diff(before).isEmpty, s"v$v deletes rows it never had")
      assert((before.diff(del) ++ ins).sorted ==
        values(VersionedTable.read(spark, t, Some(v))), s"v$v")
      if (dvVersions(v)) {
        assert(del.nonEmpty, s"v$v")
        val plan = feed.queryExecution.executedPlan
        assert(shuffleOrJoin(plan).isEmpty, s"v$v:\n$plan")
      }
    }
    // the restore brings back exactly the rows v2-v4 masked
    val restored = VersionedTable.readChanges(spark, t, 5)
    assert(restored.where(col("_change_type") === "insert")
      .select("id").as[Long].collect().toSet ==
      (0L until 400L).filter(i => i % 7 == 0 ||
        (i < 150L && i % 11 == 1) || Set(250L, 260L, 390L)(i)).toSet)
  }
}
