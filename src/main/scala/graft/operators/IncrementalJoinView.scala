package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.VtPushdown

/** Incremental maintenance of a MATERIALIZED EQUI-JOIN — the missing
  * half of the engine's IVM story ([[IncrementalAgg]] maintains
  * rollups; this maintains `L ⋈ R` itself), driven by the row-level
  * CHANGE FEEDS of two [[VersionedTable]]s and materialized as a
  * third, so downstream consumers can CDC off the view in turn
  * (composable IVM chains: join view → synced rollup → stream source).
  *
  * THE DELTA RULE. With `L' = L + ΔL`, `R' = R + ΔR`:
  *
  * {{{  L' ⋈ R'  =  L ⋈ R  +  ΔL ⋈ R'  +  L ⋈ ΔR  }}}
  *
  * (expand the product; the ΔL ⋈ ΔR cross term is absorbed by giving
  * the ΔL lane the NEW right snapshot). Each sync therefore computes
  * two DELTA-SIZED joins — never a view rescan, never an L ⋈ R
  * recompute:
  *
  *   - lane 1: ΔL ⋈ R@new — every changed-left pair, joined against
  *     the final right state;
  *   - lane 2: L@old ⋈ ΔR — every changed-right pair, joined against
  *     the left state the PREVIOUS sync saw (so pairs both lanes
  *     produce carry identical content, and lane 1 wins below).
  *
  * The snapshot side of each lane is PRUNED by the delta's join-key
  * span through the manifest ([[VersionedTable.prunedReadWhere]]) —
  * at 100 TB a small CDC batch reads a handful of the snapshot's
  * files, and AQE broadcasts the delta side of both joins. Applying
  * the result is a [[VersionedTable.mergeInto]] keyed by
  * `leftPk ++ rightPk`, which rewrites only the view files whose
  * spans/blooms can hold a touched pair.
  *
  * ROW SEMANTICS, not bag algebra: the view is keyed by the two
  * tables' primary keys, so the signed multiset arithmetic above
  * collapses to one ACTION per touched view key — the LAST event
  * wins, ordered by (lane, commit version, delete &lt; insert):
  *
  *   - a view key whose final event is an insert upserts the joined
  *     row (content: final left × final right for lane-1 keys; for
  *     keys only lane 2 touched, the left side is unchanged by
  *     definition of the window, so L@old content IS final);
  *   - a view key whose final event is a delete tombstones the pair
  *     (a tombstone for a pair the view never held no-ops through
  *     mergeInto's delete-by-match);
  *   - lane 1 outranks lane 2 per view key: when BOTH sides changed
  *     in one window, only ΔL ⋈ R@new reflects both final states
  *     (lane 2's left content is pre-window by construction).
  *
  * EXACTLY-ONCE like the agg sync: the watermark IS the view's commit
  * txn — every sync commits with txnId `vtjsync_<lv>_<rv>`, recovered
  * from the view's own version history, so "view advanced" and
  * "watermark advanced" are one atomic manifest write, and a replayed
  * window no-ops through the normal txn probe. Expired source
  * watermarks raise the distinguishable
  * [[VersionedTable.VersionExpiredException]] ("re-baseline"), never
  * wrong rows.
  *
  * Requirements (checked loudly): the two tables' column names are
  * disjoint (TPC-H-style prefixes; the view carries both sides'
  * columns verbatim), `leftPk`/`rightPk` are the tables' unique keys,
  * and the view table is OWNED by this operator (a view dir with
  * commits but no `vtjsync` txn is refused, not silently absorbed).
  */
object IncrementalJoinView {

  /** One maintenance step: fold every left/right commit since the
    * last sync into the view. Returns the synced windows
    * `((lvFrom, lvTo), (rvFrom, rvTo))`, or None when already
    * current. First call (no view yet) materializes the full join of
    * both CURRENT versions as view version 0.
    *
    * `on` is the equi-join condition as (leftCol, rightCol) pairs. */
  def sync(spark: SparkSession, viewPath: String,
      leftPath: String, rightPath: String,
      on: Seq[(String, String)],
      leftPk: Seq[String], rightPk: Seq[String]):
      Option[((Int, Int), (Int, Int))] = {
    require(on.nonEmpty, "IncrementalJoinView: no join columns")
    require(leftPk.nonEmpty && rightPk.nonEmpty,
      "IncrementalJoinView: both primary keys are required — the view " +
        "is keyed by leftPk ++ rightPk")
    val lt = VersionedTable.latestVersion(spark, leftPath).getOrElse(
      throw new IllegalStateException(
        s"no committed versions at $leftPath"))
    val rt = VersionedTable.latestVersion(spark, rightPath).getOrElse(
      throw new IllegalStateException(
        s"no committed versions at $rightPath"))

    val wm = watermark(spark, viewPath)
    wm match {
      case None =>
        val l = VersionedTable.read(spark, leftPath, Some(lt))
        val r = VersionedTable.read(spark, rightPath, Some(rt))
        checkShapes(l, r, on, leftPk, rightPk)
        writeOwnerMarker(spark, viewPath)
        VersionedTable.commit(l.join(r, cond(on), "inner"), viewPath,
          overwrite = true, txnId = Some(s"vtjsync_${lt}_$rt"),
          statsCols = (leftPk ++ rightPk).take(2)): Unit
        Some(((-1, lt), (-1, rt)))

      case Some((lv, rv)) =>
        if (lv >= lt && rv >= rt) return None
        // Materialize each MOVED side's delta ONCE: the CDC plan (per-
        // version file diffs + DV anti-joins) is otherwise re-executed
        // by the lane's key probe, its span-bounds aggregate, AND the
        // lane join inside the merge's materialization — three scans
        // of the same delta-sized feed. The checkpoint is bounded by
        // the CDC window (delta-sized by contract) and cuts all three
        // to one execution. An unmoved side contributes no lane and
        // is never materialized.
        val dl0 = VersionedTable.readChangesRange(spark, leftPath, lv,
          Some(lt))
        val dr0 = VersionedTable.readChangesRange(spark, rightPath, rv,
          Some(rt))
        // Both-sides window: the two delta materializations are
        // independent reads of different tables — overlap them
        // (guide-§2.6 back-fill; actions are only sequential because
        // the driver calls them sequentially).
        // Both are awaited even when one fails, so no job outlives the
        // call and a side that did materialize is released before the
        // failure surfaces.
        val (dl, dr) =
          if (lt > lv && rt > rv) {
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            val fl = Future(dl0.localCheckpoint())
            val fr = Future(dr0.localCheckpoint())
            val sides = Seq(fl, fr).map(f => Await.ready(f, Duration.Inf)
              .value.get)
            sides.collectFirst { case scala.util.Failure(e) => e }.foreach {
              e =>
                sides.foreach(_.foreach(Bridge.releaseCheckpoint))
                throw e
            }
            (sides(0).get, sides(1).get)
          }
          else (if (lt > lv) dl0.localCheckpoint() else dl0,
                if (rt > rv) dr0.localCheckpoint() else dr0)
        try {
          checkShapes(
            dl.drop("_change_type", "_commit_version"),
            dr.drop("_change_type", "_commit_version"),
            on, leftPk, rightPk)
          // a side whose version did not move contributes no lane at
          // all — the other snapshot is never even planned
          val lanes = Seq(
            // lane 1: ΔL ⋈ R@new (right snapshot pruned by ΔL's keys)
            if (lt > lv) Some(laneJoin(spark, dl, rightPath, rt,
              on, deltaIsLeft = true).withColumn("_lane", lit(1)))
            else None,
            // lane 2: L@old ⋈ ΔR (left snapshot at the PREVIOUS sync)
            if (rt > rv) Some(laneJoin(spark, dr, leftPath, lv,
              on.map(_.swap), deltaIsLeft = false)
              .withColumn("_lane", lit(0)))
            else None).flatten
          val pk = (leftPk ++ rightPk).map(col)
          val w = Window.partitionBy(pk: _*).orderBy(
            col("_lane").desc, col("_cv").desc,
            when(col("_ct") === "insert", 1).otherwise(0).desc)
          val actions = lanes.reduce(_.unionByName(_))
            .withColumn("_rn", row_number().over(w))
            .where(col("_rn") === 1)
            .withColumn("_vt_del", col("_ct") === "delete")
            .drop("_rn", "_lane", "_cv", "_ct")
          VersionedTable.mergeInto(spark, viewPath, actions,
            keys = leftPk ++ rightPk,
            txnId = Some(s"vtjsync_${lt}_$rt"),
            tombstoneCol = Some("_vt_del")): Unit
          Some(((lv, lt), (rv, rt)))
        // the merge has consumed the deltas: drop their blocks
        } finally Seq(dl, dr).foreach(Bridge.releaseCheckpoint)
    }
  }

  /** Largest delta key-set that routes through the MEMBERSHIP-pruned
    * snapshot read ([[VersionedTable.prunedReadIn]]): scattered CDC
    * keys make a min/max span cover the whole snapshot (pruning-
    * blind), while an IN-span + footer-bloom probe opens O(|keys|)
    * files on a clustered layout. Above the cap (or for multi-column
    * keys) the span path applies — a huge delta's span is usually
    * honest anyway. */
  private val MaxInProbeKeys = 4096

  /** Delta ⋈ snapshot, the snapshot read pruned by the delta's
    * join keys: a BOUNDED single-column key set probes membership
    * (IN-spans + footer blooms); otherwise the delta's min/max span
    * plans the read (sound either way — rows outside the delta's keys
    * cannot join). `on` is (deltaCol, snapshotCol) pairs. */
  private def laneJoin(spark: SparkSession, delta: DataFrame,
      snapPath: String, snapVersion: Int, on: Seq[(String, String)],
      deltaIsLeft: Boolean): DataFrame = {
    val d = delta
      .withColumnRenamed("_change_type", "_ct")
      .withColumnRenamed("_commit_version", "_cv")
    // single-column key: try the bounded distinct-key probe first; a
    // complete probe (within the cap) may be empty
    val inKeys: Option[Seq[Any]] =
      if (on.size != 1) None
      else {
        val dc = on.head._1
        val ks = d.select(col(dc)).where(col(dc).isNotNull).distinct()
          .limit(MaxInProbeKeys + 1).collect().map(_.get(0)).toSeq
        if (ks.size <= MaxInProbeKeys) Some(ks) else None
      }
    val aggs = on.flatMap { case (dc, _) =>
      Seq(min(col(dc)).as(s"__mn_$dc"), max(col(dc)).as(s"__mx_$dc")) }
    lazy val bounds = d.agg(aggs.head, aggs.tail: _*).collect()(0)
    // collected bounds are external values (java.sql.Date/Timestamp…):
    // the span-domain conversion is what lets DATE/TIMESTAMP keys prune
    lazy val preds = on.flatMap { case (dc, sc) =>
      VtPushdown.rangeOfExternal(sc,
        bounds.get(bounds.fieldIndex(s"__mn_$dc")),
        bounds.get(bounds.fieldIndex(s"__mx_$dc")), d.schema(dc).dataType)
    }
    val snap =
      if (inKeys.exists(_.nonEmpty))
        VersionedTable.prunedReadIn(spark, snapPath, on.head._2,
          inKeys.get, Some(snapVersion))
      // no non-null key (a complete probe found none, or every bound
      // is null): the delta is empty or all-null-keyed, which joins
      // nothing — plan the snapshot's SHAPE, not its files, with no
      // further job
      else if (inKeys.nonEmpty ||
          (0 until bounds.length).forall(bounds.isNullAt))
        VersionedTable.emptyAt(spark, snapPath, snapVersion)
      else if (preds.nonEmpty)
        VersionedTable.prunedReadWhere(spark, snapPath, preds,
          Some(snapVersion))
      else VersionedTable.read(spark, snapPath, Some(snapVersion))
    val c = on.map { case (dc, sc) => col(dc) === col(sc) }
      .reduce(_ && _)
    if (deltaIsLeft) d.join(snap, c, "inner")
    else snap.join(d, c, "inner")
  }

  private def cond(on: Seq[(String, String)]): Column =
    on.map { case (l, r) => col(l) === col(r) }.reduce(_ && _)

  private def checkShapes(l: DataFrame, r: DataFrame,
      on: Seq[(String, String)], leftPk: Seq[String],
      rightPk: Seq[String]): Unit = {
    val overlap = l.columns.toSet & r.columns.toSet
    require(overlap.isEmpty,
      s"IncrementalJoinView: column names must be disjoint, both " +
        s"sides carry ${overlap.mkString(",")}")
    val missing = on.collect {
      case (lc, _) if !l.columns.contains(lc) => lc
      case (_, rc) if !r.columns.contains(rc) => rc
    } ++ leftPk.filterNot(l.columns.contains) ++
      rightPk.filterNot(r.columns.contains)
    require(missing.isEmpty,
      s"IncrementalJoinView: missing columns ${missing.mkString(",")}")
    val reserved = Seq("_vt_del", "_lane", "_cv", "_ct", "_rn")
      .filter(c => l.columns.contains(c) || r.columns.contains(c))
    require(reserved.isEmpty,
      s"IncrementalJoinView: reserved column names ${reserved.mkString(",")}")
  }

  /** The last synced (leftVersion, rightVersion), recovered from the
    * view's commit history: newest live version whose txnId is a
    * `vtjsync` record. Two no-record cases are DISTINGUISHED by the
    * ownership marker [[writeOwnerMarker]] leaves in the view dir
    * (expire never touches non-log files):
    *
    *   - commits but no marker → a foreign directory this operator
    *     did not build: REFUSE rather than double-apply on top of it;
    *   - marker present but every vtjsync-tagged version was expired
    *     (e.g. `expire(keepLast=1)` right after a compaction commit
    *     left only an `optimize` version live) → the watermark is
    *     gone but the view is OURS: log loudly and return None, so
    *     sync() re-baselines with a full-join overwrite — expensive
    *     but always correct, instead of bricking the pipeline. */
  private def watermark(spark: SparkSession,
      viewPath: String): Option[(Int, Int)] = {
    if (VersionedTable.latestVersion(spark, viewPath).isEmpty)
      return None
    val syncs = VersionedTable.versions(spark, viewPath).reverseIterator
      .flatMap(_.txnId)
      .collectFirst { case Txn(lv, rv) => (lv.toInt, rv.toInt) }
    if (syncs.isEmpty) {
      require(hasOwnerMarker(spark, viewPath),
        s"IncrementalJoinView: $viewPath holds commits with no vtjsync " +
          "record — it was not built by sync(); use a fresh viewPath")
      System.err.println(
        s"[graft] IncrementalJoinView: every vtjsync watermark at " +
          s"$viewPath was expired (retention dropped all sync-tagged " +
          "versions); RE-BASELINING with a full-join overwrite. Keep " +
          "expire() retention on the view longer than the sync cadence " +
          "to avoid this.")
      None
    } else syncs
  }

  /** Ownership marker: a tiny `_graft_vtjsync_owner` file in the view
    * dir, written before the first baseline commit. NOT part of the
    * watermark protocol (the watermark stays the atomic vtjsync commit
    * txn) — it only lets [[watermark]] tell "our view whose sync
    * history was expired" apart from "a foreign table". */
  private def writeOwnerMarker(spark: SparkSession,
      viewPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(viewPath, MarkerName)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write("graft IncrementalJoinView owner marker\n"
        .getBytes("UTF-8"))
      finally out.close()
    }
  }

  private def hasOwnerMarker(spark: SparkSession,
      viewPath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(viewPath, MarkerName)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private val MarkerName = "_graft_vtjsync_owner"

  private val Txn = """vtjsync_(\d+)_(\d+)""".r
}
