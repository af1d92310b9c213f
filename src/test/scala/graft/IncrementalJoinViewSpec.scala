package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{IncrementalJoinView, VersionedTable}

/** Join IVM: the materialized view must track `L ⋈ R` through any
  * sequence of commits on either side, each sync reading only deltas
  * and pruned snapshot slices. The randomized sweep is the real
  * guarantee: every verb mix must equal the full recompute. */
class IncrementalJoinViewSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_ijv_").toFile
    d.deleteOnExit()
    d
  }

  private def left(rows: Seq[(Long, Long, String)]) =
    rows.toDF("o_id", "o_cust", "o_tag")
  private def right(rows: Seq[(Long, String)]) =
    rows.toDF("c_id", "c_name")

  private def viewSet(t: String): Set[(Long, Long, String, Long, String)] =
    VersionedTable.read(spark, t)
      .select("o_id", "o_cust", "o_tag", "c_id", "c_name")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSet

  private def expected(l: String, r: String):
      Set[(Long, Long, String, Long, String)] =
    VersionedTable.read(spark, l)
      .join(VersionedTable.read(spark, r),
        col("o_cust") === col("c_id"), "inner")
      .select("o_id", "o_cust", "o_tag", "c_id", "c_name")
      .collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getString(2),
        row.getLong(3), row.getString(4))).toSet

  test("initial sync materializes the join; incremental follows both sides") {
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(left(Seq((1L, 10L, "a"), (2L, 20L, "b"),
      (3L, 10L, "c"))), l, overwrite = true, statsCols = Seq("o_cust"))
    VersionedTable.commit(right(Seq((10L, "alice"), (20L, "bob"),
      (30L, "carol"))), r, overwrite = true, statsCols = Seq("c_id"))

    val on = Seq("o_cust" -> "c_id")
    val w0 = IncrementalJoinView.sync(spark, v, l, r, on,
      Seq("o_id"), Seq("c_id"))
    assert(w0.contains(((-1, 0), (-1, 0))))
    assert(viewSet(v) == expected(l, r))
    // already current -> None
    assert(IncrementalJoinView.sync(spark, v, l, r, on,
      Seq("o_id"), Seq("c_id")).isEmpty)

    // left-only change: append an order for carol
    VersionedTable.commit(left(Seq((4L, 30L, "d"))), l, overwrite = false)
    assert(IncrementalJoinView.sync(spark, v, l, r, on,
      Seq("o_id"), Seq("c_id")).contains(((0, 1), (0, 0))))
    assert(viewSet(v) == expected(l, r))

    // right-only change: delete bob (cascades his orders out of the view)
    VersionedTable.deleteWhere(spark, r, col("c_id") === 20L)
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    assert(viewSet(v) == expected(l, r))
    assert(!viewSet(v).exists(_._4 == 20L))

    // both sides in one window: update order 1's tag (merge) AND
    // re-insert a customer 20
    VersionedTable.mergeInto(spark, l,
      left(Seq((1L, 10L, "a2"))), Seq("o_id"))
    VersionedTable.commit(right(Seq((20L, "bob2"))), r, overwrite = false)
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    assert(viewSet(v) == expected(l, r))
    assert(viewSet(v).exists(t => t._1 == 1L && t._3 == "a2"))
    assert(viewSet(v).exists(t => t._1 == 2L && t._5 == "bob2"))
  }

  test("join-key change on the left moves the pair, lane-1 priority holds") {
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(left(Seq((1L, 10L, "a"))), l, overwrite = true)
    VersionedTable.commit(right(Seq((10L, "alice"), (20L, "bob"))), r,
      overwrite = true)
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    // reassign order 1 from alice to bob, while ALSO renaming bob —
    // the one-window both-sides case where only lane 1 sees final
    // content on both sides
    VersionedTable.mergeInto(spark, l,
      left(Seq((1L, 20L, "a"))), Seq("o_id"))
    VersionedTable.mergeInto(spark, r,
      right(Seq((20L, "bobby"))), Seq("c_id"))
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    assert(viewSet(v) == expected(l, r))
    assert(viewSet(v) ==
      Set((1L, 20L, "a", 20L, "bobby")))
  }

  test("replayed window no-ops; foreign view refused; expired re-baselines") {
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(left(Seq((1L, 10L, "a"))), l, overwrite = true)
    VersionedTable.commit(right(Seq((10L, "alice"))), r, overwrite = true)
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    VersionedTable.commit(left(Seq((2L, 10L, "b"))), l, overwrite = false)
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    val before = viewSet(v)
    // a second sync over the same source versions is None, view intact
    assert(IncrementalJoinView.sync(spark, v, l, r, on,
      Seq("o_id"), Seq("c_id")).isEmpty)
    assert(viewSet(v) == before)

    // foreign view dir (commits, no vtjsync txn) refuses
    val foreign = new java.io.File(d, "foreign").getAbsolutePath
    VersionedTable.commit(left(Seq((9L, 9L, "x")))
      .join(right(Seq((9L, "z"))), col("o_cust") === col("c_id")),
      foreign, overwrite = true)
    intercept[IllegalArgumentException] {
      IncrementalJoinView.sync(spark, foreign, l, r, on,
        Seq("o_id"), Seq("c_id"))
    }

    // expiring the left past the watermark raises the re-baseline signal
    VersionedTable.commit(left(Seq((3L, 10L, "c"))), l, overwrite = false)
    VersionedTable.commit(left(Seq((4L, 10L, "d"))), l, overwrite = false)
    VersionedTable.expire(spark, l, keepLast = 1)
    intercept[VersionedTable.VersionExpiredException] {
      IncrementalJoinView.sync(spark, v, l, r, on,
        Seq("o_id"), Seq("c_id"))
    }
  }

  test("expired VIEW watermark re-baselines instead of bricking") {
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(left(Seq((1L, 10L, "a"), (2L, 20L, "b"))), l,
      overwrite = true)
    VersionedTable.commit(right(Seq((10L, "alice"), (20L, "bob"))), r,
      overwrite = true)
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    // the failure shape from ADVICE r11: a maintenance commit on the
    // VIEW (compact carries no vtjsync txn) followed by aggressive
    // retention drops every sync-tagged version
    VersionedTable.compact(spark, v)
    VersionedTable.expire(spark, v, keepLast = 1)
    assert(VersionedTable.versions(spark, v)
      .forall(_.txnId.forall(!_.startsWith("vtjsync"))))
    // new source data + sync: must NOT refuse — the ownership marker
    // proves the view is ours, so sync re-baselines with a full join
    VersionedTable.commit(left(Seq((3L, 20L, "c"))), l, overwrite = false)
    val w = IncrementalJoinView.sync(spark, v, l, r, on,
      Seq("o_id"), Seq("c_id"))
    assert(w.nonEmpty)
    assert(viewSet(v) == expected(l, r))
    assert(viewSet(v).exists(_._1 == 3L))
    // and incremental maintenance resumes normally afterwards
    VersionedTable.deleteWhere(spark, r, col("c_id") === 10L)
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    assert(viewSet(v) == expected(l, r))
  }

  test("sync releases every checkpoint it pins: 20 syncs, no growth") {
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(left(Seq((1L, 10L, "a"))), l, overwrite = true)
    VersionedTable.commit(right(Seq((10L, "alice"), (20L, "bob"))), r,
      overwrite = true)
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    val start = SparkFixture.pinnedIds
    (1 to 20).foreach { i =>
      // left-only, right-only and both-sides windows in turn
      if (i % 3 != 2) VersionedTable.commit(
        left(Seq((100L + i, 10L + 10L * (i % 2), s"t$i"))), l,
        overwrite = false)
      if (i % 3 != 1) VersionedTable.mergeInto(spark, r,
        right(Seq((20L, s"bob$i"))), Seq("c_id"))
      IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    }
    assert(SparkFixture.pinnedSince(start).isEmpty,
      SparkFixture.pinnedSince(start))
    assert(viewSet(v) == expected(l, r))
  }

  test("a failed delta fails sync with no job running and nothing pinned") {
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(
      left((1L to 40L).map(i => (i, 10L * (i % 3), s"t$i"))), l,
      overwrite = true)
    VersionedTable.commit(right(Seq((0L, "zed"), (10L, "alice"),
      (20L, "bob"))), r, overwrite = true)
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))
    // both sides move by a copy-on-write rewrite; the left rewrite's
    // only output file then goes missing, so its delta job fails
    val lv = VersionedTable.updateWhere(spark, l, col("o_id") === 1L,
      Map("o_tag" -> lit("u")))
    VersionedTable.mergeInto(spark, r, right(Seq((20L, "bobby"))),
      Seq("c_id"))
    val written = VersionedTable.files(spark, l, lv)
      .filter(_.startsWith(f"v$lv%05d-"))
    assert(written.size == 1, written)
    assert(new java.io.File(l, written.head).delete())
    val start = SparkFixture.pinnedIds
    intercept[Exception](IncrementalJoinView.sync(spark, v, l, r, on,
      Seq("o_id"), Seq("c_id")))
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    assert(SparkFixture.pinnedSince(start).isEmpty,
      SparkFixture.pinnedSince(start))
  }

  test("a compaction-only right side plans the left's empty shape") {
    // lane 2 joins L@old with an EMPTY right delta: its snapshot side is
    // the recorded schema, not a read of a DV'd version (which collects
    // the version's masks just to be limited to zero rows)
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    VersionedTable.commit(left((0L until 40L).map(i =>
      (i, (i % 4 + 1) * 10L, s"t$i"))).repartitionByRange(2, col("o_id")),
      l, overwrite = true, statsCols = Seq("o_cust"))
    VersionedTable.commit(right((1L to 4L).map(i => (i * 10L, s"n$i")))
      .repartition(2), r, overwrite = true, statsCols = Seq("c_id"))
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"),
      Seq("c_id")): Unit
    // two DV deletes on the left, each touching one of its two files
    // and each synced: the version now masks both files at once
    Seq(col("o_id") < 20L, col("o_id") >= 20L).foreach { half =>
      VersionedTable.deleteWhere(spark, l, half && col("o_id") % 5 === 0,
        deletionVectors = true): Unit
      IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"),
        Seq("c_id")): Unit
    }
    VersionedTable.compact(spark, r, targetFileBytes = 1L << 30): Unit
    val jobs = org.apache.spark.graftspec.JobCounter.jobsIn(
        spark.sparkContext) {
      IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"),
        Seq("c_id")): Unit
    }
    // the empty delta's key probe alone (finding no key proves the
    // empty shape); a read of the DV'd snapshot would add one mask
    // collect per sidecar (2)
    assert(jobs == 1, s"sync ran $jobs jobs")
    assert(viewSet(v) == expected(l, r))
  }

  test("randomized differential: any verb mix equals the full recompute") {
    val rnd = new scala.util.Random(0x60 + 11)
    val d = tmpDir()
    val (l, r, v) = (new java.io.File(d, "l").getAbsolutePath,
      new java.io.File(d, "r").getAbsolutePath,
      new java.io.File(d, "v").getAbsolutePath)
    var nextOrder = 100L
    def someOrders(n: Int) = (0 until n).map { _ =>
      nextOrder += 1
      (nextOrder, (rnd.nextInt(8) + 1) * 10L, s"t${rnd.nextInt(5)}")
    }
    VersionedTable.commit(left(someOrders(20)), l, overwrite = true,
      statsCols = Seq("o_cust"))
    VersionedTable.commit(
      right((1 to 8).map(i => (i * 10L, s"c$i"))), r,
      overwrite = true, statsCols = Seq("c_id"))
    val on = Seq("o_cust" -> "c_id")
    IncrementalJoinView.sync(spark, v, l, r, on, Seq("o_id"), Seq("c_id"))

    for (round <- 1 to 8) {
      // 1-2 mutations per round, either side, any verb
      for (_ <- 0 to rnd.nextInt(2)) rnd.nextInt(5) match {
        case 0 => // left append
          VersionedTable.commit(left(someOrders(3)), l, overwrite = false)
        case 1 => // left merge: retag a random live order
          val live = VersionedTable.read(spark, l).select("o_id")
            .as[Long].collect()
          if (live.nonEmpty) {
            val id = live(rnd.nextInt(live.length))
            VersionedTable.mergeInto(spark, l,
              left(Seq((id, (rnd.nextInt(8) + 1) * 10L,
                s"u$round"))), Seq("o_id"))
          }
        case 2 => // left delete
          val live = VersionedTable.read(spark, l).select("o_id")
            .as[Long].collect()
          if (live.nonEmpty) {
            val id = live(rnd.nextInt(live.length))
            VersionedTable.deleteWhere(spark, l, col("o_id") === id)
          }
        case 3 => // right merge: rename a customer
          VersionedTable.mergeInto(spark, r,
            right(Seq(((rnd.nextInt(8) + 1) * 10L,
              s"r$round"))), Seq("c_id"))
        case 4 => // right delete + maybe re-add another id
          val id = (rnd.nextInt(8) + 1) * 10L
          VersionedTable.deleteWhere(spark, r, col("c_id") === id)
          if (rnd.nextBoolean())
            VersionedTable.mergeInto(spark, r,
              right(Seq((id, s"n$round"))), Seq("c_id"))
      }
      IncrementalJoinView.sync(spark, v, l, r, on,
        Seq("o_id"), Seq("c_id"))
      assert(viewSet(v) == expected(l, r),
        s"round $round: view diverged from the full join")
    }
  }
}
