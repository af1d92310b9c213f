package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** MULTI-TABLE TRANSACTIONS over [[VersionedTable]]s — several tables,
  * one all-or-nothing commit (the lakehouse-layer gap single-table
  * serializable writes leave open: "move these rows from A to B",
  * "publish the fact table and its rollup together").
  *
  * PROTOCOL (presumed-abort two-phase commit with a decision file):
  *
  *   1. STAGE — for each table, run the full normal commit machinery
  *      (constraints, schema evolution, stats harvest, optimistic slot
  *      retries) but write the manifest with a `pending:<uri>`
  *      header line. A pending manifest OCCUPIES its version slot (so
  *      racing single-table writers resolve against it normally) but
  *      is NOT a version: readers resolve the latest DECIDED manifest
  *      and skip it.
  *   2. DECIDE — promote ONE decision file (first line `commit` or
  *      `abort`) at `<decisionDir>/<txnId>.decision` through the
  *      [[CommitCoordinator]] seam. This single atomic promote IS the
  *      commit point for EVERY table at once: visibility of all the
  *      staged manifests flips together, so no reader interleave can
  *      observe table A's half without table B's.
  *
  * Crash analysis (all-or-nothing at every point):
  *   - before any promote: staged data files are vacuum debris.
  *   - between the table promotes: pending manifests exist, decision
  *     absent — NOTHING visible. Readers see the pre-txn state of both
  *     tables; writers to the touched tables refuse with
  *     [[VersionedTable.TxnInDoubtException]] until the txn is decided
  *     (re-drive [[commit]] to roll FORWARD, or [[abort]] — safe
  *     exactly because no commit decision exists).
  *   - after the decision promote: EVERYTHING visible (or, on abort,
  *     permanently nothing). The decision file is immutable; replays
  *     observe it and no-op.
  *
  * SERIALIZABILITY: staging uses the tables' own optimistic machinery,
  * so a concurrent single-table winner forces the usual re-stage; once
  * a table's pending manifest holds the tail slot, later writers
  * refuse (in-doubt) rather than base a carried file list on the
  * pre-txn state — the lost-update guard. Readers are never blocked.
  *
  * SCALE: everything data-sized runs through the normal distributed
  * commit path; the txn adds exactly one small decision-file promote
  * plus one header probe per pending manifest per unresolved read
  * (cached process-wide once decided).
  */
object MultiTableTxn {

  /** One table's operation inside the transaction. Delete/merge/update
    * stage through their DELTA-SIZED verbs (touched files only) — at
    * 100 TB an atomic "move rows from A to B" is a
    * [[TableDelete]]+[[TableWrite]] pair rewriting O(touched) files,
    * never an overwrite of either table. */
  sealed trait TableOp { def path: String }
  /** Append (`overwrite = false`) or replace the table's content. */
  final case class TableWrite(df: DataFrame, path: String,
      overwrite: Boolean, statsCols: Seq[String] = Seq.empty)
    extends TableOp
  /** [[VersionedTable.deleteWhere]] inside the txn. NOTE: a delete
    * matching nothing commits nothing — the table simply isn't part
    * of the txn (its returned version is the current one). */
  final case class TableDelete(path: String, predicate: Column)
    extends TableOp
  /** [[VersionedTable.mergeInto]] (upsert / CDC apply) inside the txn. */
  final case class TableMerge(path: String, source: DataFrame,
      keys: Seq[String], tombstoneCol: Option[String] = None)
    extends TableOp
  /** [[VersionedTable.updateWhere]] inside the txn (same
    * nothing-matched caveat as [[TableDelete]]). */
  final case class TableUpdate(path: String, predicate: Column,
      set: Map[String, Column]) extends TableOp

  def decisionUri(decisionDir: String, txnId: String): String =
    s"$decisionDir/$txnId.decision"

  /** Commit all `writes` atomically. Returns each table's committed
    * version, in `writes` order. Re-driving the same (decisionDir,
    * txnId) after any crash ROLLS FORWARD: already-staged tables are
    * reused, missing ones staged, and an existing commit decision
    * makes the whole call an idempotent no-op. Throws
    * `IllegalStateException` when the txn was already ABORTED. */
  def commit(spark: SparkSession, writes: Seq[TableOp],
      decisionDir: String, txnId: String): Seq[Int] = {
    require(writes.nonEmpty, "MultiTableTxn: no writes")
    require(writes.map(_.path).distinct.size == writes.size,
      "MultiTableTxn: one operation per table — combine frames first")
    require(txnId.nonEmpty && !txnId.exists(c => c < ' ' || c == '/'),
      s"txnId must be printable and slash-free: $txnId")
    val uri = decisionUri(decisionDir, txnId)
    val fs = new Path(decisionDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(decisionDir))
    VersionedTable.txnDecision(fs, uri) match {
      case Some(false) => throw new IllegalStateException(
        s"multi-table txn $txnId was ABORTED — a new txnId is required")
      case Some(true) =>
        // replay after a completed commit: resolve the versions the
        // txn landed through the FULL-HISTORY txn lookup (checkpoint
        // index + header scan) — the tail walk findStaged uses for
        // roll-forward stops at the latest visible version, so any
        // commit landing AFTER this txn would hide its manifests from
        // it. −1 = that op committed nothing (empty delta) or its
        // manifest was since expired.
        return writes.zipWithIndex.map { case (w, i) =>
          VersionedTable.findCommittedTxn(spark, w.path,
            perTableTxn(txnId, i)).getOrElse(-1)
        }
      case None => ()
    }
    // STAGE (or reuse a crash survivor) per table; any failure aborts
    // the whole txn so its pendings never block the tables forever
    val versions =
      try writes.zipWithIndex.map { case (w, i) =>
        val t = perTableTxn(txnId, i)
        findStaged(spark, w.path, t).getOrElse(w match {
          case TableWrite(df, path, overwrite, statsCols) =>
            VersionedTable.commitImpl(df, path, overwrite,
              txnId = Some(t), statsCols = statsCols, maxRetries = 5,
              onBeforeManifestCommit = () => (),
              pendingTxn = Some(uri))
          case TableDelete(path, predicate) =>
            VersionedTable.deleteWhere(spark, path, predicate,
              txnId = Some(t), pendingTxn = Some(uri))
          case TableMerge(path, source, keys, tombstoneCol) =>
            VersionedTable.mergeInto(spark, path, source, keys,
              txnId = Some(t), tombstoneCol = tombstoneCol,
              pendingTxn = Some(uri))
          case TableUpdate(path, predicate, set) =>
            VersionedTable.updateWhere(spark, path, predicate, set,
              txnId = Some(t), pendingTxn = Some(uri))
        })
      } catch {
        case e: Throwable =>
          try abort(spark, decisionDir, txnId) catch { case _: Throwable => () }
          throw e
      }
    // DECIDE — the one atomic promote that flips every table at once
    if (!decide(spark, fs, uri, "commit")) {
      VersionedTable.txnDecision(fs, uri) match {
        case Some(true) => () // a concurrent re-drive won; same outcome
        case _ => throw new IllegalStateException(
          s"multi-table txn $txnId lost the decision race to an ABORT " +
            "— its staged manifests are void")
      }
    }
    versions
  }

  /** Abort an undecided txn (the operator's lever for an in-doubt
    * table). SAFE exactly when no commit decision exists — the promote
    * races honestly: if a commit decision already landed, abort
    * refuses. Returns true when this call decided the abort. */
  def abort(spark: SparkSession, decisionDir: String,
      txnId: String): Boolean = {
    val uri = decisionUri(decisionDir, txnId)
    val fs = new Path(decisionDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(decisionDir))
    val won = decide(spark, fs, uri, "abort")
    if (!won && VersionedTable.txnDecision(fs, uri).contains(true))
      throw new IllegalStateException(
        s"multi-table txn $txnId already COMMITTED — abort refused")
    won
  }

  private def perTableTxn(txnId: String, i: Int) = s"mtxn_${txnId}_$i"

  /** This txn's manifest at `path`, decided or not — the roll-forward
    * probe. Undecided pendings are always at the tail (writers refuse
    * past them), so the walk stops at the first DECIDED manifest. */
  private def findStaged(spark: SparkSession, path: String,
      tableTxn: String): Option[Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val latest = try VersionedTable.latestVisible(fs, root,
      forWrite = false) catch { case _: Throwable => None }
    VersionedTable.versionsRaw(fs, root).reverseIterator
      .takeWhile(v => latest.forall(v >= _))
      .find(v => VersionedTable.readHeader(fs, root, v).txnId
        .contains(tableTxn))
  }

  /** Promote the decision file with `outcome` as its first line.
    * True = THIS call decided; false = a decision already existed. */
  private def decide(spark: SparkSession, fs: FileSystem, uri: String,
      outcome: String): Boolean = {
    val dest = new Path(uri)
    val tmp = new Path(dest.getParent,
      s".${dest.getName}.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$outcome\nts:${System.currentTimeMillis()}\n"
      .getBytes("UTF-8"))
    finally out.close()
    val won = VersionedTable.commitCoordinator.tryPublish(fs, tmp, dest)
    if (!won) fs.delete(tmp, false)
    won
  }
}
