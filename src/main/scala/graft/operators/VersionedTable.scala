package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.{Bridge, WriteHarvest}
import org.apache.spark.sql.types.{ArrayType, DateType, LongType, MapType, StringType, StructField, StructType, TimestampNTZType}

import graft.sources.VtPushdown

/** Versioned parquet table with a commit log and time-travel reads —
  * the manifest/transaction layer [[TargetedDelete]]'s scaladoc defers
  * to ("snapshot isolation across files needs a manifest/transaction
  * log (Delta/Iceberg-style) layered above"). A table directory holds
  * immutable data files plus a `_graft_log/` of full-snapshot
  * manifests; readers resolve a version's exact file list from ONE
  * manifest and never race a writer.
  *
  * Layout:
  * {{{
  *   table/
  *     v00000-part-....parquet     // data files, immutable once committed
  *     v00001-part-....parquet
  *     _graft_log/
  *       v00000.manifest           // full file list of version 0
  *       v00001.manifest           // full file list of version 1
  *       s-<uuid>.segment          // shared entry lists (segmented
  *                                 // layout — large tables)
  *       _checkpoint               // latest-version pointer + txn index
  * }}}
  *
  * Commit protocol (the ACID story, same discipline as the engine's
  * other at-rest ops):
  *   1. STAGE — write the batch with Spark's own committer into a
  *      hidden sibling dir (unique per attempt), so task retries/
  *      speculation are already handled below us, and two concurrent
  *      committers can never collide in staging.
  *   2. PUBLISH — per-file metadata renames into the table root under
  *      the version prefix. Data files are invisible to versioned
  *      readers until a manifest references them.
  *   3. COMMIT — write the manifest to a temp name and PROMOTE it to
  *      `_graft_log/v<N>.manifest`. The promotion IS the commit point
  *      and is atomic-no-overwrite (see below): a crash before it
  *      leaves orphaned data files (cleaned by [[vacuumUnreferenced]]
  *      after a TTL) and the table state unchanged; after it, the
  *      version is durable.
  *
  * COMMIT-POINT ATOMICITY CONTRACT. Two racing committers targeting
  * the same version number must resolve to exactly one winner, with
  * the loser observing the loss — never a silent overwrite. The
  * promotion therefore never uses bare rename-onto-destination, whose
  * semantics are filesystem-dependent (HDFS refuses an existing
  * destination, but POSIX `rename(2)` — and hence Hadoop's
  * `RawLocalFileSystem` — silently replaces it):
  *   - `file:` — promote via `Files.createLink` (POSIX `link(2)`),
  *     which atomically fails with `EEXIST` when the destination
  *     exists. No check-then-act window at all.
  *   - HDFS — `fs.rename` per the HDFS contract: rename onto an
  *     existing destination returns false atomically at the NameNode.
  *   - Object stores without atomic no-overwrite (plain S3 et al.):
  *     install a [[ConditionalPutCoordinator]] via
  *     [[setCommitCoordinator]] — the promotion seam is pluggable
  *     ([[CommitCoordinator]], Delta's `LogStore` posture), with the
  *     conditional-put contract (S3 `If-None-Match`, GCS
  *     generation-match) as the atomic point there.
  *
  * CONCURRENCY is optimistic (Delta's check-and-retry): a committer
  * that loses the commit-point race re-resolves the new latest
  * version, re-prefixes its already published files to the next
  * version number (O(#files) metadata renames — the data never
  * moves), recomputes the carried file list against the winner's
  * manifest, and retries, bounded by `maxRetries`. Blind
  * appends/overwrites are commutative so the retry is serializable;
  * predicate deletes ([[deleteWhere]]) and merges ([[mergeInto]])
  * instead restart their whole discovery — their carried set depends
  * on data a concurrent winner may have changed.
  *
  * Manifests are FULL snapshots (every live file of that version), so
  * a read resolves from exactly one manifest — no log replay. Each
  * file line also carries its row count and per-column min/max spans
  * harvested from the parquet FOOTER at commit time (no extra data
  * scan — the writer already put the stats there): [[prunedRead]]
  * plans a range scan from the manifest alone, the Delta `stats` /
  * Iceberg-manifest design, composing time travel with
  * [[ZoneMapIndex]]-style file skipping without a separately
  * refreshed sidecar. Each manifest also records the
  * committed SCHEMA, giving appends a checked evolution contract
  * (added columns back-fill null in older files; a changed type
  * refuses loudly) and time-travel reads the exact shape of their
  * version.
  *
  * LOG COST IS FLAT IN HISTORY LENGTH. The manifest header (one
  * format, [[Header]], with a `features:` line naming the reader
  * features the version uses) carries everything version resolution
  * needs (mode, txn id, stats columns, file count, schema), so
  * [[versions]] reads nine lines per manifest, never the file list;
  * and `_graft_log/_checkpoint` (the `_last_checkpoint` analog)
  * indexes `version → txnId` up to its watermark so the idempotence
  * probe reads ONE small file plus at most [[CheckpointInterval]]
  * manifest headers — a commit's log work
  * does not grow with the number of historical versions (the probe:
  * `ScaleProbe vtlog`). What a commit does pay is one full read of
  * the PREVIOUS manifest (the carried snapshot) — cached per
  * immutable segment past [[segmentThreshold]] — and, for the WRITE,
  * O(delta): past the threshold manifests switch to the SEGMENTED
  * layout (feature `segments`), where entry lists live in immutable
  * `_graft_log/s-<uuid>.segment` files and each version's manifest
  * just references them. An append carries every previous segment by
  * reference and writes one delta-sized segment; a delete rewrites
  * only the segments it touches (the Iceberg manifest-list posture —
  * measured 21× less metadata written per commit at a mere 512 files,
  * `ScaleProbe vtseg`; at 100 TB ≈ 800k files the inline rewrite
  * would be ~80 MB per commit). Below the threshold manifests stay
  * inline (one self-contained file — simplest to read and debug).
  *
  * The log grows O(versions × files-per-version); [[expire]] drops
  * old versions and deletes the files — and segments — only they
  * reference. At 100 TB the listing cost a reader pays is ONE
  * small-file read (plus its immutable, process-cached segments)
  * instead of a recursive directory walk.
  *
  * Reads go through [[read]]: a bare `spark.read.parquet(table/)`
  * would see the union of ALL versions' files. The manifest's file
  * list feeds a plain parquet scan, so column pruning and predicate
  * pushdown are untouched.
  */
object VersionedTable {

  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.VersionedTable")

  private val LogDir = "_graft_log"
  /** The one manifest format. Lines 0–8 are a fixed header, then the
    * body:
    * {{{
    *   graft-vt-v9
    *   <mode>                      append | overwrite | delete | …
    *   txn:<id>|-
    *   stats:<col,…>|-
    *   nfiles:<live entries>
    *   schema:<url-encoded schema record>
    *   ts:<commit epoch ms>
    *   pending:<url-encoded txn decision uri>|-
    *   features:<feature,…>|-
    *   <entry line>… | seg:<name>:<n>…
    * }}}
    * `features:` names the reader features the version uses (the
    * Delta table-features posture): a reader refuses a manifest naming
    * a feature it does not know, by name, instead of parsing bits it
    * would answer WRONG from (resurrected DV-deleted rows, logical
    * names scanned over physical files, span tags it cannot decode).
    * Only `segments` changes how the body parses — `seg:` refs
    * instead of entry lines. */
  private val Header = "graft-vt-v9"
  private val SegHeader = "graft-vt-seg-v9"
  private val FDeletionVectors = "deletionVectors"
  private val FColumnMapping = "columnMapping"
  private val FTaggedSpans = "taggedSpans"
  private val FSegments = "segments"
  private val KnownFeatures =
    Set(FDeletionVectors, FColumnMapping, FTaggedSpans, FSegments)
  /** Body start: the header lines above. */
  private val HeaderLines = 9

  /** Does any recorded span of `e` carry a unit-tagged timestamp
    * (`T…`) or a decimal (`C…`) — the `taggedSpans` feature? */
  private def hasTaggedSpan(e: FileEntry): Boolean =
    e.stats.valuesIterator.exists(_.exists(s =>
      s._1.isInstanceOf[TsMicros] || s._2.isInstanceOf[TsMicros] ||
        s._1.isInstanceOf[java.math.BigDecimal] ||
        s._2.isInstanceOf[java.math.BigDecimal]))

  /** Entry count at which commits switch to the segmented manifest
    * layout. Default keeps small tables on the inline single-file
    * manifest (simplest to read and debug); deployments
    * with large tables lower it or simply let growth cross it.
    * Process-wide, settable once at startup (and by specs). */
  @volatile private var segmentThresholdVar: Int = 4096
  def setSegmentThreshold(n: Int): Unit = {
    require(n >= 1, s"segmentThreshold must be >= 1: $n")
    segmentThresholdVar = n
  }
  def segmentThreshold: Int = segmentThresholdVar

  /** Max `seg:` refs a segmented manifest may carry before the commit
    * rewrites all entries into fresh segments: bounds both read fan-in
    * and the one-entry-segment accretion of a per-commit DML pattern
    * (full metadata rewrite once per ~[[MaxSegments]] commits keeps
    * the amortized metadata cost O(delta)). */
  private val MaxSegments = 48

  /** Max entries per segment file — the rewrite granularity: a
    * delete touching one file rewrites at most this many entry lines,
    * not the whole table's list. */
  private val SegmentMaxEntries = 100000

  /** Process-wide cache of parsed segment files, keyed by absolute
    * segment path. Segments are IMMUTABLE once referenced (new content
    * always gets a new uuid name), so cached parses never go stale;
    * expire/vacuum deleting a segment leaves at most a harmless cached
    * copy. Bounded by total cached entries: past the cap the whole map
    * clears (crude, safe — the next reads just re-parse). */
  private val segmentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()
  private val segmentCacheEntries = new java.util.concurrent.atomic.AtomicLong(0)
  private val segmentCacheHitsVar = new java.util.concurrent.atomic.AtomicLong(0)
  private val SegmentCacheMaxEntries = 8L * 1000 * 1000
  /** Segment-count threshold past which [[readEntries]] fetches a
    * segmented manifest's segments with bounded parallel IO (16
    * threads) instead of a sequential loop. Var only so specs can
    * force the parallel path on small fixtures. */
  private[graft] var parallelSegmentThreshold: Int = 16

  /** Process-wide bounded pool for parallel segment fetches — daemon
    * threads (a stray in-flight read never blocks JVM exit) shared
    * across every cold manifest open instead of a fresh pool each.
    * 16 concurrent reads saturate an object store's per-connection
    * latency without stampeding it; callers queue beyond that. */
  private lazy val segmentFetchPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(16,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-segment-fetch-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
  /** Observability hook for specs: cumulative segment-cache hits. */
  def segmentCacheHits: Long = segmentCacheHitsVar.get
  /** Parsed-manifest cache (committed manifests are immutable; keys
    * carry mtime+length so a recreated table never serves stale
    * entries). Same clear-wholesale posture as the segment cache. */
  private val entriesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileEntry]]()
  private val entriesCacheCount =
    new java.util.concurrent.atomic.AtomicLong(0)
  private val entriesCacheHitsVar =
    new java.util.concurrent.atomic.AtomicLong(0)
  private val EntriesCacheMaxEntries = 4L * 1000 * 1000
  /** Observability hook for specs: cumulative entries-cache hits. */
  def entriesCacheHits: Long = entriesCacheHitsVar.get
  /** Probe/spec hook: drop the parsed-manifest cache. */
  private[graft] def clearEntriesCache(): Unit = {
    entriesCache.clear()
    entriesCacheCount.set(0L)
  }
  /** Probe/spec hook: drop the segment cache so the next read is cold. */
  private[graft] def clearSegmentCache(): Unit = {
    segmentCache.clear()
    segmentCacheEntries.set(0L)
  }
  private val CkptName = "_checkpoint"
  private val CkptHeader = "graft-vt-ckpt-v1"
  private val ConstraintsName = "_constraints"
  private val ConstraintsHeader = "graft-vt-constraints-v1"

  /** Every N-th commit refreshes `_graft_log/_checkpoint`; the txn
    * probe thus reads the checkpoint plus at most this many manifest
    * headers. */
  private val CheckpointInterval = 10

  /** Txn-dedup horizon of the `_checkpoint` index: ids older than the
    * most recent this-many are forgotten (a replay that stale would
    * re-commit). Keeps per-commit checkpoint I/O bounded at
    * streaming-sink cadence. */
  private val MaxCheckpointTxns = 10000

  /** [[mergeInto]] collects at most this many distinct source keys for
    * the footer-bloom probe; a larger key set skips the bloom layer.
    * The cap is set by BLOOM MATH, not collect cost: probing K keys
    * against a per-file bloom keeps the file with probability
    * `1-(1-fpp)^K`, so at the written fpp of 1e-4 ([[BloomFpp]]) a
    * 1,000-key probe false-keeps ~10% of untouched files — still a
    * ~10× discovery cut — while K=10,000 would false-keep ~63% and
    * the default parquet fpp of 1% would keep EVERYTHING past K≈100
    * (measured in `ScaleProbe vtmerge`). */
  private val BloomProbeMaxKeys = 1000

  /** [[mergeInto]] fuses its four pre-flight questions (empty probe,
    * key-uniqueness check, per-key-column span bounds, bloom-probe key
    * collect) into ONE bounded job — the distinct key tuples with
    * per-tuple counts — whenever the delta holds at most this many
    * distinct key tuples. Past the cap the answers fall back to one
    * fused aggregate (uniqueness + bounds) and the bloom probe is
    * skipped, exactly as the unfused path did. Sized above
    * [[BloomProbeMaxKeys]] so every bloom-eligible delta also gets the
    * fused path; 64k rows of keys is a few MB of driver state (still
    * trivially bounded — the merge contract says the source is
    * delta-sized) and the resulting LOCAL-relation key set stays well
    * under the broadcast cap for the exact-probe joins. */
  private val MergeProfileMaxKeys = 65536

  /** False-positive rate for the footer blooms [[stageAndPublish]]
    * writes (parquet's default 1% is sized for single-key point
    * lookups, not multi-key probes — see [[BloomProbeMaxKeys]]).
    * ~19 bits/distinct-key: a 500k-NDV file costs ~1.2 MB of footer,
    * and parquet's 1 MB bloom cap means files beyond that NDV degrade
    * gracefully to "maybe" (conservative keep, never wrong). */
  private val BloomFpp = "0.0001"

  /** Thrown when an incremental consumer's watermark version has been
    * [[expire]]d out of the log — distinguishable from "never
    * committed" so a poller can re-baseline instead of crashing. */
  final class VersionExpiredException(msg: String)
    extends IllegalStateException(msg)

  /** Thrown when a write (or an explicit read of the pending version)
    * encounters an UNDECIDED multi-table transaction at the table's
    * tail: the txn's pending manifest holds the next version slot and
    * its fate is unknown, so proceeding could violate serializability
    * either way. Wait for the coordinator to decide, or — if the
    * coordinator crashed — resolve it with [[MultiTableTxn.abort]]
    * (safe exactly because no commit decision exists). Readers are
    * never blocked: a snapshot read simply resolves the latest
    * DECIDED version. */
  /** An explicit version resolves to a DECIDED-ABORTED multi-table
    * pending: the slot holds no committed data (typed so callers like
    * DROP TABLE's emptiness sweep can classify it without matching
    * message text). */
  final class TxnAbortedSlotException(msg: String)
    extends IllegalStateException(msg)

  final class TxnInDoubtException(msg: String)
    extends IllegalStateException(msg)

  /** One manifest line: file name, row count, and per-stats-column
    * span.
    * `stats` key absent → stats were never collected for that column
    * (the file can never be pruned on it); `None` → collected and the
    * column is entirely null in the file (provably excluded from any
    * range predicate); `Some((min, max))` → the span, normalized to
    * Long / Double / String.
    *
    * `nRows` is always the file's PHYSICAL row count (the footer's);
    * `dv = Some((sidecar, nDeleted))` marks a DELETION VECTOR — the
    * sidecar parquet (columns `file`,`pos`) lists `nDeleted` row
    * positions of this file that are deleted in this version. Live
    * rows = `nRows - nDeleted`; readers mask the positions out
    * ([[deleteWhere]]'s `deletionVectors = true` path). Spans stay
    * the PHYSICAL file's — conservative for pruning (a masked row can
    * only narrow the true span), which is exactly what file skipping
    * needs. */
  final case class FileEntry(name: String, nRows: Long,
      stats: Map[String, Option[(Any, Any)]], size: Long = -1L,
      dv: Option[(String, Long)] = None,
      nulls: Map[String, Long] = Map.empty,
      sums: Map[String, Option[java.math.BigDecimal]] = Map.empty,
      dsets: Map[String, Set[Any]] = Map.empty,
      ndvs: Map[String, Seq[Long]] = Map.empty) {
    /** Rows a reader actually sees from this file. */
    def liveRows: Long = nRows - dv.map(_._2).getOrElse(0L)
    /** The file's HLL++ NDV sketch for `col` (register words at the
      * write-time precision — the word count identifies the register
      * layout), harvested by the in-write tracker with the exact hash
      * `approx_count_distinct` uses. PHYSICAL like spans/sums: a
      * deletion vector demotes fold consumers to the scan. Absent =
      * not harvested (footer path, pre-field manifest, sketch
      * disabled). */
    def ndvOf(col: String): Option[Seq[Long]] = ndvs.get(col)
    /** Exact Σ of the PHYSICAL file's non-null `col` values, when it
      * was harvested at write time (integral/decimal stats columns
      * only — float sums are summation-order-dependent and never
      * recorded). `None` = unknown (pre-field manifest, float column,
      * harvest declined); `Some(None)` = provably no non-null rows
      * (SQL `sum` = NULL); `Some(Some(σ))` = the exact sum. A
      * deletion vector makes the recorded sum merely PHYSICAL — fold
      * consumers must rescan DV'd files, exactly like spans. */
    def sumOf(col: String): Option[Option[java.math.BigDecimal]] =
      if (nRows == 0) Some(None) // no rows: Σ over the empty set
      else sums.get(col)
  }

  /** Commit `df` as the next version. `overwrite=true` makes the new
    * version exactly `df`; `overwrite=false` appends to the previous
    * version's files (zero data movement for history — the new
    * manifest lists old + new files). Returns the committed version.
    *
    * `txnId` makes the commit IDEMPOTENT: if any manifest already
    * carries the same id, the data is not even staged and that version
    * is returned. This is what closes the streaming exactly-once gap —
    * a micro-batch replayed after its commit landed but before Spark's
    * checkpoint advanced (the crash window foreachBatch docs call out)
    * re-offers the same batchId and becomes a no-op instead of a
    * double-append. The probe reads the checkpoint's txn index plus at
    * most [[CheckpointInterval]] manifest headers — O(1) in history.
    *
    * `statsCols` are the columns whose per-file min/max go into the
    * manifest (harvested from parquet footers — O(#new files) driver
    * metadata reads, no data scan). Empty = inherit the previous
    * manifest's stats columns, so one declaration at table creation
    * keeps every later append/compaction/delete pruned the same way.
    *
    * SCHEMA EVOLUTION (appends): a column the table lacks is ADDED —
    * older files back-fill it with null at read time (mergeSchema
    * semantics, planned from the manifest's recorded schema instead of
    * per-file footer merging). A column whose type differs from the
    * recorded one REFUSES loudly — silent cross-type reads are how a
    * 100 TB table gets corrupted by one bad producer. Overwrites may
    * reshape the schema freely (the table is replaced). */
  def commit(df: DataFrame, path: String, overwrite: Boolean,
      txnId: Option[String] = None, statsCols: Seq[String] = Seq.empty,
      maxRetries: Int = 5, expectVersion: Option[Int] = None): Int =
    commitImpl(df, path, overwrite, txnId, statsCols, maxRetries, () => (),
      expectVersion = expectVersion)

  /** [[commit]] with fault-injection seams: `onBeforeManifestCommit`
    * runs between PUBLISH and COMMIT (the window where a concurrent
    * committer can win the race and force a retry);
    * `onBeforePromote` runs INSIDE the commit point, after the
    * manifest temp file is written and immediately before the atomic
    * promotion — the narrowest possible interleaving, where two true
    * racers both hold a finished temp manifest for the SAME version.
    * Specs use them to interleave writers deterministically. */
  private[graft] def commitImpl(df: DataFrame, path: String,
      overwrite: Boolean, txnId: Option[String], statsCols: Seq[String],
      maxRetries: Int, onBeforeManifestCommit: () => Unit,
      onBeforePromote: () => Unit = () => (),
      pendingTxn: Option[String] = None,
      expectVersion: Option[Int] = None): Int = {
    require(txnId.forall(t => t.nonEmpty && !t.exists(_ < ' ')),
      s"txnId must be non-empty printable text: $txnId")
    val spark = df.sparkSession
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    fs.mkdirs(new Path(root, LogDir))
    val nums0 = listVersionNumbers(fs, root)
    txnId.foreach { t =>
      findTxn(fs, root, nums0, t).foreach(v => return v)
    }
    // CHECK constraints gate the batch BEFORE staging (and AFTER the
    // txn probe above: a replayed batch that landed pre-constraint
    // must still no-op, not refuse)
    enforceConstraints(df, constraintsOf(fs, root), s"commit to $path")
    val v0 = nums0.lastOption.map(_ + 1).getOrElse(0)
    // slot pinning (CREATE TABLE): a commit whose whole meaning is
    // "version N or nothing" must refuse when the slot moved between
    // the caller's existence probe and this listing — retrying at a
    // later slot would silently replace another creator's table
    expectVersion.foreach(ev => if (v0 != ev)
      throw new IllegalStateException(
        s"versioned commit at $path lost the slot-$ev race " +
          s"(next slot is $v0) — giving up"))
    // resolve the indexed columns BEFORE staging so the data files get
    // their footer blooms (a lost-race retry keeps the files as-is —
    // bloom presence is opportunistic, the manifest stats are re-
    // resolved per attempt)
    val prevHeader0 = latestVisible(fs, root, forWrite = true)
      .map(l => readHeader(fs, root, l))
    val cols0 = resolveStatsCols(prevHeader0, statsCols)
    // appends stage under the table's PHYSICAL column names (column
    // mapping); an overwrite replaces the table and resets the mapping.
    // Validate the evolution contract BEFORE staging: a refusal (type
    // change, physical-history collision) must not leave staged debris
    // or hit the physicalizing select with a colliding name.
    if (!overwrite)
      resolveSchema(df.schema, prevHeader0, overwrite, path): Unit
    val stageSchema =
      if (overwrite) None else prevHeader0.map(_.schemaJson)
    val staged0 = stageAndPublish(df, fs, root, v0, cols0, stageSchema)
    val published = staged0.names

    // not @tailrec: the non-local txn-idempotence return blocks the
    // optimization; depth is bounded by maxRetries (tiny)
    def attempt(v: Int, entries: Seq[FileEntry], cached: Seq[FileEntry],
        triesLeft: Int): Int = {
      val nums = listVersionNumbers(fs, root)
      // Idempotence must hold across the retry too: if the same txnId
      // landed concurrently, our staged files are debris — drop them
      // (first attempt: the just-published names; retries: the
      // reprefixed entries).
      txnId.foreach { t =>
        findTxn(fs, root, nums, t).foreach { w =>
          val ours = if (entries.nonEmpty) entries.map(_.name)
                     else published
          ours.foreach(n => fs.delete(new Path(root, n), false))
          return w
        }
      }
      // carried/prev state comes from the latest DECIDED version; an
      // undecided multi-table pending at the tail refuses loudly here
      // (lost-update guard), and the slot computation below stays RAW
      // so we never collide with a pending's occupied slot
      val latest = latestVisibleIn(fs, root, nums, forWrite = true)
      val prevHeader = latest.map(l => readHeader(fs, root, l))
      val cols = resolveStatsCols(prevHeader, statsCols)
      val schemaJson = resolveSchema(df.schema, prevHeader, overwrite, path)
      val fresh =
        if (entries.nonEmpty) entries
        // first attempt, same stats columns as staging resolved: the
        // in-write harvest already built the entries (zero re-reads);
        // a retry that resolved DIFFERENT cols re-harvests below
        else if (cols == staged0.cols &&
            (staged0.entries.nonEmpty || staged0.names.isEmpty))
          staged0.entries
        else harvestEntries(spark, fs, conf, root, published, cols,
          if (overwrite) None else prevHeader.map(_.schemaJson))
      val carried =
        if (overwrite) Seq.empty
        else if (cached.nonEmpty) cached
        else latest.map(l => readEntries(spark, path, l)).getOrElse(Seq.empty)
      onBeforeManifestCommit()
      if (tryWriteManifest(fs, root, v,
          if (overwrite) "overwrite" else "append", txnId, cols,
          schemaJson, carried ++ fresh, onBeforePromote,
          pendingTxn = pendingTxn)) {
        // a pending manifest is not (yet) a committed version — the
        // checkpoint indexes it after its txn decides (watermark logic)
        if (pendingTxn.isEmpty) maybeCheckpoint(fs, root, v)
        v
      } else if (triesLeft <= 0)
        throw new IllegalStateException(
          s"versioned commit at $path lost the manifest race " +
            s"$maxRetries times — giving up (staged files remain for " +
            "vacuumUnreferenced)")
      else {
        val v2 = listVersionNumbers(fs, root).lastOption.map(_ + 1)
          .getOrElse(0)
        // carried list is stale after a loss: recompute against the
        // winner's manifest on the next attempt
        attempt(v2, reprefix(fs, root, fresh, v, v2), Seq.empty,
          triesLeft - 1)
      }
    }
    attempt(v0, Seq.empty, Seq.empty, maxRetries)
  }

  /** One attempt's base in [[commitRewrite]]: the latest visible
    * version `v`, its header, and the commit slot `v2` taken from the
    * SAME listing (see [[latestVisibleIn]]). */
  private[graft] final class WriteBase(val spark: SparkSession,
      val path: String, val fs: FileSystem, val root: Path, val v: Int,
      val v2: Int, val header: ManifestHeader) {
    lazy val entries: Seq[FileEntry] = readEntries(spark, path, v)
    def schemaJson: String = header.schemaJson
    private[VersionedTable] val pinned =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    /** `df.localCheckpoint()` for this attempt only: the core releases
      * it when the attempt ends — committed, lost or thrown. */
    def pin(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      pinned += c
      c
    }
  }

  /** What one attempt commits on top of its base: the entries it
    * keeps (carried by reference, or re-masked by [[applyDvPositions]]),
    * the DV sidecars it published, and the frame it stages as new files
    * (already shaped to its output-file count). Restore and column DDL
    * record their own schema and stats columns; every other verb
    * inherits the base's. */
  private[graft] final case class Change(keep: Seq[FileEntry],
      sidecars: Seq[String] = Seq.empty, stage: Option[DataFrame] = None,
      schemaJson: Option[String] = None,
      statsCols: Option[Seq[String]] = None)

  /** THE write core of every versioned-table rewrite — delete, update,
    * merge, replaceWhere, restore, column DDL and the OPTIMIZE family.
    * One attempt:
    *   1. list the log once; a `txnId` that already landed returns its
    *      version (replay no-op);
    *   2. base = the latest DECIDED version of that listing (an
    *      undecided multi-table pending refuses — the lost-update
    *      guard), slot = the listing's last + 1;
    *   3. `change(base)` is the verb proper — discovery and validation
    *      against the base; None means nothing to do and returns the
    *      base untouched;
    *   4. STAGE + PUBLISH its frame under the slot, then COMMIT the
    *      manifest (kept entries ++ staged ones). A won commit
    *      refreshes the txn checkpoint — except a multi-table pending,
    *      which the checkpoint indexes once its txn decides.
    *
    * A LOST race deletes everything the attempt published (data files
    * and sidecars) and, in the retrying mode, re-runs the whole attempt
    * against the winner's version: unlike a blind append, a rewrite's
    * kept set depends on data the winner may have changed, so
    * re-running discovery is the only serializable retry. After
    * `maxRetries` losses it gives up loudly ("`verb` at `path` lost the
    * manifest race"). `advisory` (maintenance) makes ONE attempt: a
    * loss returns the base version — packing is never worth a retry
    * loop against live commits. Every checkpoint the attempt
    * [[WriteBase.pin]]ned is released when the attempt ends, however it
    * ends. `onBeforeManifestCommit` is the spec seam between PUBLISH
    * and COMMIT, as in [[commitImpl]]. */
  private[graft] def commitRewrite(spark: SparkSession, path: String,
      mode: String, verb: String, txnId: Option[String] = None,
      maxRetries: Int = 5, pendingTxn: Option[String] = None,
      advisory: Boolean = false,
      onBeforeManifestCommit: () => Unit = () => ())(
      change: WriteBase => Option[Change]): Int = {
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    var triesLeft = maxRetries
    while (true) {
      val nums = listVersionNumbers(fs, root)
      txnId.foreach { t =>
        findTxn(fs, root, nums, t).foreach(w => return w)
      }
      val v = latestVisibleIn(fs, root, nums, forWrite = true)
        .getOrElse(
          throw new IllegalStateException(s"no committed versions at $path"))
      // slot from the SAME listing as the base (latestVisibleIn doc):
      // holes between them are decided-aborted and can never revive
      val b = new WriteBase(spark, path, fs, root, v,
        math.max(v, nums.lastOption.getOrElse(-1)) + 1,
        readHeader(fs, root, v))
      val won =
        try change(b) match {
          case None => return v
          case Some(c) =>
            val cols = c.statsCols.getOrElse(
              resolveStatsCols(Some(b.header), Seq.empty))
            val staged = c.stage.map(stageAndPublish(_, fs, root, b.v2,
              cols, Some(b.schemaJson)))
            val fresh = staged.map(entriesOf(_, spark, fs, conf, root,
              Some(b.schemaJson))).getOrElse(Seq.empty)
            onBeforeManifestCommit()
            val ok = tryWriteManifest(fs, root, b.v2, mode, txnId, cols,
              c.schemaJson.getOrElse(b.schemaJson), c.keep ++ fresh,
              pendingTxn = pendingTxn)
            if (ok) {
              if (pendingTxn.isEmpty) maybeCheckpoint(fs, root, b.v2)
            } else // vacuum-class debris, swept eagerly
              (c.sidecars ++ staged.toSeq.flatMap(_.names))
                .foreach(n => fs.delete(new Path(root, n), false))
            ok
        } finally b.pinned.foreach(Bridge.releaseCheckpoint)
      if (won) return b.v2
      if (advisory) return v
      triesLeft -= 1
      if (triesLeft < 0) throw new IllegalStateException(
        s"$verb at $path lost the manifest race $maxRetries times — " +
          "giving up")
    }
    -1 // unreachable
  }

  /** What a DML attempt's discovery found against its base. */
  private[graft] sealed trait Found { def isEmpty: Boolean }
  /** Deletion vectors: the pinned hit rows, counted per file — the
    * counts, the sidecar and any post-image read the same pinned set,
    * so they can't diverge. */
  private[graft] final case class DvHits(rows: DataFrame, fileC: String,
      posC: String, perFile: Map[String, Long]) extends Found {
    def isEmpty: Boolean = perFile.isEmpty
  }
  /** Copy-on-write: the files holding a hit, and the rest, carried. */
  private[graft] final case class CowFiles(rewrite: Seq[FileEntry],
      carried: Seq[FileEntry]) extends Found {
    def isEmpty: Boolean = rewrite.isEmpty
  }

  /** One discovery pass over `hits` — a masked probe of the base
    * carrying its (file, pos) identity columns: DV pins the hits and
    * counts them per file, COW lists the files they touch. */
  private[graft] def discover(b: WriteBase, deletionVectors: Boolean,
      hits: DataFrame, fileC: String, posC: String): Found =
    if (!deletionVectors) touchedSplit(b, hits, fileC)
    else {
      val rows = b.pin(hits)
      DvHits(rows, fileC, posC, rows.groupBy(col(fileC)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    }

  private def touchedSplit(b: WriteBase, hits: DataFrame,
      fileC: String): CowFiles = {
    val touched = hits.select(col(fileC)).distinct()
      .collect().map(_.getString(0)).toSet
    val (rewrite, carried) = b.entries.partition(e => touched(e.name))
    CowFiles(rewrite, carried)
  }

  /** The entries a DML commit keeps and the sidecars it published: DV
    * masks the hits in one sidecar (every file stays, re-pointed, or
    * drops when fully dead); COW keeps the untouched files. */
  private[graft] def kept(b: WriteBase,
      f: Found): (Seq[FileEntry], Seq[String]) = f match {
    case DvHits(rows, fileC, posC, perFile) =>
      applyDvPositions(b.spark, b.fs, b.root, b.path, b.entries,
        rows.select(col(fileC).as("file"), col(posC).as("pos")),
        perFile, b.v2)
    case CowFiles(_, carried) => (carried, Seq.empty)
  }

  /** Row-level DELETE as a NEW VERSION (the [[TargetedDelete]]
    * semantics lifted onto the commit log): rewrite ONLY the files
    * that contain a matching row, carry every untouched file forward
    * BY REFERENCE (no data movement, stats intact), and commit the
    * result as the next version. The prior version stays
    * time-travelable until [[expire]]; a crash anywhere leaves the
    * table at the old version with orphaned staging debris for
    * [[vacuumUnreferenced]] — there is no in-place mutation to repair.
    *
    * Rows where `predicate` is TRUE are removed (SQL WHERE-delete
    * semantics: a NULL predicate keeps the row). Discovery is one scan
    * of the current version projecting only the predicate's columns —
    * parquet footer stats and bloom filters prune it the same way they
    * prune any read. Returns the new version, or the CURRENT version
    * untouched when nothing matches (a no-op delete commits nothing).
    * A lost manifest race re-runs discovery ([[commitRewrite]]).
    *
    * `deletionVectors = true` commits the delete as DV SIDECARS
    * instead of rewriting: every touched file carries forward BY NAME
    * with a deletion-vector entry masking exactly the predicate-hit
    * row positions (one delta-sized sidecar parquet per commit — the
    * only bytes written), so an OFF-CLUSTER delete that would rewrite
    * every file costs O(deleted rows), not O(touched bytes) — the
    * write-amplification fix Delta ships as deletion vectors. A file
    * whose rows are ALL dead drops from the manifest outright. Reads
    * (time travel, pruned reads, the change feed, every rewrite base)
    * mask exactly; [[compact]]/[[compactSmall]] MATERIALIZE vectors —
    * their rewrites read masked, so the outputs are vector-free and
    * the sidecars age out with [[expire]]. Trade-offs, documented:
    * metadata [[statsSpan]] turns conservative (spans are the physical
    * file's), and the `graft-vt` relation / SQL catalog scan surfaces
    * REFUSE DV-carrying versions (a FileIndex cannot mask) until a
    * compaction materializes them — the Scala read surface is exact
    * throughout. */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
      txnId: Option[String] = None, maxRetries: Int = 5,
      pendingTxn: Option[String] = None,
      deletionVectors: Boolean = false): Int =
    commitRewrite(spark, path, "delete", "versioned delete", txnId,
        maxRetries, pendingTxn) { b =>
      if (b.entries.isEmpty) None
      else {
        // discovery reads MASKED with (file, pos) identity: a row an
        // earlier vector already deleted can be neither touched nor
        // re-deleted
        val (probe, fileC, posC) =
          maskedReadWithPos(spark, b.schemaJson, path, b.entries)
        val found = discover(b, deletionVectors,
          probe.where(predicate).select(col(fileC), col(posC)), fileC, posC)
        if (found.isEmpty) None
        else {
          val (keep, side) = kept(b, found)
          Some(Change(keep, side, found match {
            case CowFiles(rewrite, _) => Some(
              maskedRead(spark, b.schemaJson, path, rewrite)
                .where(!coalesce(predicate, lit(false))))
            case _ => None // DV: the sidecar is the whole write
          }))
        }
      }
    }

  /** Row-level UPDATE ... SET ... WHERE as a versioned commit — the
    * everyday mutation between [[deleteWhere]] (remove matching rows)
    * and [[replaceWhere]] (replace a whole slice with new content):
    * rows where `predicate` is TRUE get each `set` column replaced by
    * its expression (evaluated against the row — `set("price",
    * col("price") * 1.1)` composes), every other row — and every file
    * holding no matching row — is untouched. Only files that CAN hold
    * a match are rewritten (one discovery scan, footer-pruned like any
    * read); everything else carries into the new version BY REFERENCE.
    * The prior version stays time-travelable; `txnId` replays no-op;
    * a lost manifest race re-runs discovery ([[commitRewrite]]).
    * `deletionVectors = true` masks the pre-images and APPENDS the
    * post-images instead of rewriting the touched files: an
    * off-cluster UPDATE writes O(updated rows), never O(touched bytes).
    *
    * Contract: `set` keys must be existing table columns and each
    * expression must keep its column's recorded TYPE (an UPDATE that
    * silently reshapes a 100 TB table's schema is how cross-type reads
    * are born — evolution goes through [[commit]]); CHECK constraints
    * are enforced on the POST-IMAGE of the touched rows before
    * anything stages. Commits as mode `update` (non-append:
    * append-only incremental readers refuse or skip per their policy;
    * the row-level change feed derives its delete/insert pairs from
    * the manifest diff as for any rewrite). `clusterBy` re-sorts the
    * rewritten files so a clustered table's spans stay tight under
    * UPDATE traffic — the same preventive lever [[mergeInto]] carries. */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
      set: Map[String, Column], txnId: Option[String] = None,
      maxRetries: Int = 5, clusterBy: Seq[String] = Seq.empty,
      pendingTxn: Option[String] = None,
      deletionVectors: Boolean = false): Int = {
    require(set.nonEmpty, "updateWhere: empty SET clause")
    commitRewrite(spark, path, "update", "versioned update", txnId,
        maxRetries, pendingTxn) { b =>
      if (b.entries.isEmpty) None
      else {
        val tableSchema = decodeSchema(b.schemaJson)
        val tableCols = tableSchema.fieldNames.toSeq
        val missing = set.keys.filterNot(tableCols.contains)
        require(missing.isEmpty,
          s"updateWhere: SET targets non-existent column(s) " +
            s"${missing.mkString(",")} — schema evolution goes through " +
            "commit(), not UPDATE")
        // masked discovery + masked rewrite base: a DV-deleted row can
        // neither touch a file nor be resurrected by the rewrite
        val (probe, fileC, posC) =
          maskedReadWithPos(spark, b.schemaJson, path, b.entries)
        val found = discover(b, deletionVectors, probe.where(predicate),
          fileC, posC)
        if (found.isEmpty) None
        else {
          // (post-image, the rows the CHECK gate sees, output files)
          val (post, checked, nOut) = found match {
            case d: DvHits =>
              // DV: the post-image of the pinned hits in ONE select over
              // the PRE-image (every hit row satisfies the predicate, so
              // SET applies unconditionally); it is APPENDED
              val post = d.rows.select(tableCols.map(c =>
                set.get(c).fold(col(c))(e => e.as(c))): _*)
              (post, post, 1)
            case CowFiles(rewrite, _) =>
              val base = maskedRead(spark, b.schemaJson, path, rewrite)
              // SET applies exactly where the predicate is TRUE (SQL
              // UPDATE semantics — a NULL predicate leaves the row
              // alone). ONE select computes every SET expression AND the
              // touched flag against the PRE-IMAGE simultaneously: a
              // chained withColumn would let `SET a=b+1, b=a+1` (or a
              // predicate referencing a SET column) see another SET's
              // post-image — torn updates.
              val p = coalesce(predicate, lit(false))
              // the flag column must not collide with a real table
              // column of the same name (col() would be ambiguous and
              // the whole update would fail loudly) — suffix until free
              val touchedFlag = Iterator.from(0)
                .map(i => if (i == 0) "__graft_preimage_touched"
                          else s"__graft_preimage_touched_$i")
                .find(n => !tableCols.contains(n)).get
              val projected = base.select(
                tableCols.map { c =>
                  set.get(c).fold(col(c))(e => when(p, e).otherwise(col(c)))
                    .as(c)
                } :+ p.as(touchedFlag): _*)
              // CHECK gate on the PRE-IMAGE touched flag: re-evaluating
              // the predicate on the post-image would skip a row whose
              // update moves it out of the predicate (SET price=price*10
              // WHERE price<10 under CHECK price<=50), letting the
              // violation commit unchecked.
              (projected.select(tableCols.map(col): _*),
                projected.where(col(touchedFlag))
                  .select(tableCols.map(col): _*),
                rewrite.size)
          }
          // type contract: the post-image keeps every SET column's type
          val got = post.schema.fields.map(f => f.name -> f.dataType).toMap
          tableSchema.fields.filter(f => set.contains(f.name)).foreach { f =>
            require(got(f.name) == f.dataType,
              s"updateWhere: SET changes ${f.name}'s type " +
                s"${f.dataType.simpleString} -> " +
                s"${got(f.name).simpleString} — refuse (evolution goes " +
                "through commit())")
          }
          enforceConstraints(checked, constraintsOf(b.fs, b.root),
            s"updateWhere post-image at $path")
          val (keep, side) = kept(b, found)
          Some(Change(keep, side, Some(clusterOut(post, clusterBy, nOut))))
        }
      }
    }
  }

  /** Shape contract of an incoming frame (merge source, replaceWhere
    * data): exactly the table's columns, and their TYPES modulo
    * nullability, not just names — an insert-only batch bypasses the
    * rewrite path, so a mismatched type would land physical files that
    * contradict the manifest's recorded schema, bricking every later
    * read. Refused here, like commit()'s resolveSchema. */
  private def requireTableShape(who: String, noun: String, mid: String,
      data: StructType, dataCols: Seq[String], table: StructType): Unit = {
    require(dataCols.sorted.sameElements(table.fieldNames.sorted),
      s"$who: $noun columns ${dataCols.sorted.mkString(",")} " +
        s"!= table columns ${table.fieldNames.sorted.mkString(",")}")
    val typeConflicts = table.flatMap(f =>
      data.find(_.name == f.name)
        .filter(sf => Bridge.asNullable(sf.dataType) !=
          Bridge.asNullable(f.dataType))
        .map(sf => s"${f.name}: ${f.dataType.simpleString} vs " +
          s"${sf.dataType.simpleString}"))
    require(typeConflicts.isEmpty,
      s"$who: $noun column types differ from the table's " +
        s"(${typeConflicts.mkString("; ")}) — schema evolution " +
        s"composes via a prior commit, not $mid")
  }

  /** MERGE INTO (upsert) as a versioned commit — [[SnapshotMerge]]'s
    * semantics lifted onto the commit log the way [[deleteWhere]]
    * lifted [[TargetedDelete]]: target rows whose key tuple matches a
    * `source` row are REPLACED by that row (update), source rows
    * matching nothing are INSERTED, and only the files holding a
    * matched row are rewritten — everything else carries into the new
    * version by reference. The prior version stays time-travelable;
    * `txnId` gives CDC pipelines the same replay-no-op idempotence as
    * [[commit]].
    *
    * Discovery is two-phase and scale-shaped: (1) a COARSE manifest
    * prune — one tiny aggregate computes the source's per-key-column
    * min/max, and any file whose recorded span misses one of them can
    * hold no match (a necessary condition on every key column); (2) an
    * EXACT probe of only the surviving candidate files, projecting the
    * key columns plus `input_file_name` into a semi-join against the
    * distinct source keys (delta-sized — AQE broadcasts it). A merge
    * of a key-range-clustered CDC batch thus rewrites O(touched
    * files), never the table.
    *
    * Contract: `source` must carry exactly the table's columns (same
    * types modulo nullability — schema evolution composes via a prior
    * [[commit]], not mid-merge), and its key tuples must be UNIQUE
    * (checked; "last row wins" hides producer bugs). Null-keyed source
    * rows match nothing (SQL join semantics) and are inserted as-is.
    * An empty source returns the current version untouched.
    *
    * `tombstoneCol` names an extra BOOLEAN column on `source` (NOT a
    * table column) marking CDC DELETE records — WHEN MATCHED THEN
    * DELETE: a tombstoned row removes its key from the table and is
    * not inserted; a tombstone matching nothing is a no-op (the
    * at-least-once CDC replay case). One feed, one commit, all three
    * verbs — the Debezium-shaped apply loop. */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], txnId: Option[String] = None,
      maxRetries: Int = 5, tombstoneCol: Option[String] = None,
      clusterBy: Seq[String] = Seq.empty,
      pendingTxn: Option[String] = None,
      deletionVectors: Boolean = false): Int = {
    require(keys.nonEmpty, "mergeInto: no key columns")
    require(keys.forall(source.columns.contains),
      s"mergeInto: source lacks key columns " +
        s"${keys.filterNot(source.columns.contains).mkString(",")}")
    require(tombstoneCol.forall(source.columns.contains),
      s"mergeInto: source lacks tombstone column $tombstoneCol")
    require(tombstoneCol.forall(c => !keys.contains(c)),
      s"mergeInto: tombstone column $tombstoneCol cannot be a key")
    // One stable snapshot of the (delta-sized) source: it is consumed
    // by the uniqueness check, the span aggregate, the discovery join,
    // the rewrite, and possibly a retry — recomputing a non-
    // deterministic source per consumer would un-serialize the merge.
    // Released once the merge has committed (or given up).
    val src = source.localCheckpoint()
    try mergeSnapshot(spark, path, src, keys, txnId, maxRetries,
      tombstoneCol, clusterBy, pendingTxn, deletionVectors)
    finally Bridge.releaseCheckpoint(src)
  }

  /** [[mergeInto]] over its checkpointed source `src`. */
  private def mergeSnapshot(spark: SparkSession, path: String,
      src: DataFrame, keys: Seq[String], txnId: Option[String],
      maxRetries: Int, tombstoneCol: Option[String], clusterBy: Seq[String],
      pendingTxn: Option[String], deletionVectors: Boolean): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val nonNullKeys = keys.map(col(_).isNotNull).reduce(_ && _)
    // FUSED DELTA PROFILE — one bounded job where the unfused path ran
    // four (empty probe, uniqueness check, span aggregate, bloom-key
    // collect): the distinct matchable key tuples with per-tuple
    // counts. `limit(cap+1)` makes completeness detectable — <= cap
    // rows back means EVERY group was returned; cap+1 means the delta
    // is oversized and the per-question fallbacks below apply.
    val cntAlias = Iterator.from(0)
      .map(i => if (i == 0) "__graft_mrg_cnt" else s"__graft_mrg_cnt_$i")
      .find(n => !src.columns.contains(n)).get
    val profile: Option[Array[Row]] = {
      val g = src.where(nonNullKeys).groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(cntAlias))
        .limit(MergeProfileMaxKeys + 1).collect()
      if (g.length <= MergeProfileMaxKeys) Some(g) else None
    }
    // empty-source early return: a complete-but-empty profile can still
    // hide null-keyed rows (they match nothing but DO insert) — only
    // then is the separate empty probe needed
    if (profile.exists(_.isEmpty) && src.isEmpty)
      return latestVisible(fs, root, forWrite = true).getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
    // uniqueness applies to MATCHABLE keys only: null-keyed rows match
    // nothing (SQL join semantics) and are all inserted as-is, so two
    // of them are not a conflict. Complete profile: read the counts
    // directly; oversized delta: fused into the bounds aggregate below.
    profile.foreach(g => require(g.forall(_.getLong(keys.length) == 1L),
      s"mergeInto: source keys ${keys.mkString(",")} are not unique"))
    // coarse-prune span bounds per key column, in the span domain
    // ([[VtPushdown.spanOfExternal]] — collected DATE/TIMESTAMP keys
    // are `java.sql` values a span never compares with). Complete
    // profile: a driver-side [[hull]] with the comparator the manifest
    // prune applies; a key type with no span domain or an incomparable
    // pair drops its pred, which only keeps MORE candidates (the exact
    // probe decides). Oversized delta: ONE aggregate job answers
    // uniqueness and bounds together.
    val preds: Seq[ExactPred] = profile match {
      case Some(g) if g.isEmpty => Seq.empty
      case Some(g) =>
        keys.zipWithIndex.flatMap { case (k, i) =>
          val dt = src.schema(k).dataType
          val vs = g.toSeq.map(r => VtPushdown.spanOfExternal(r.get(i), dt))
          if (vs.contains(None)) None
          else hull(vs.flatten.map(x => (x, x))).flatten
            .map { case (lo, hi) => ExactRange.between(k, lo, hi) }
        }
      case None =>
        val aggs = max(col(cntAlias)).as("__graft_mrg_mxc") +:
          keys.flatMap(k => Seq(min(col(k)).as(s"__mn_$k"),
            max(col(k)).as(s"__mx_$k")))
        val row = src.where(nonNullKeys).groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as(cntAlias))
          .agg(aggs.head, aggs.tail: _*).collect()(0)
        require(row.isNullAt(row.fieldIndex("__graft_mrg_mxc")) ||
            row.getLong(row.fieldIndex("__graft_mrg_mxc")) == 1L,
          s"mergeInto: source keys ${keys.mkString(",")} are not unique")
        keys.flatMap(k => VtPushdown.rangeOfExternal(k,
          row.get(row.fieldIndex(s"__mn_$k")),
          row.get(row.fieldIndex(s"__mx_$k")), src.schema(k).dataType))
    }
    var consChecked = false
    commitRewrite(spark, path, "merge", "versioned merge", txnId,
        maxRetries, pendingTxn) { b =>
      if (!consChecked) { // post-txn-probe: replays no-op, not refuse
        enforceConstraints(
          tombstoneCol.map(c => src.where(!coalesce(col(c), lit(false))))
            .getOrElse(src),
          constraintsOf(fs, root), s"mergeInto at $path")
        consChecked = true
      }
      val entries = b.entries
      val tableSchema = decodeSchema(b.schemaJson)
      requireTableShape("mergeInto", "source", "mid-merge", src.schema,
        src.columns.filterNot(tombstoneCol.contains).toSeq, tableSchema)
      // coarse manifest prune: a file can hold a match only if its span
      // overlaps the source's [min, max] on EVERY key column
      val candidates = pruneEntriesWhere(entries, preds)
      // distinct matchable keys: a complete profile becomes a LOCAL
      // relation (the delta-sized build side the joins below broadcast
      // — no re-scan of src, no distinct shuffle per consumer);
      // oversized deltas compute it as before
      val srcKeys = profile match {
        case Some(g) =>
          spark.createDataFrame(
            java.util.Arrays.asList(g.map(r =>
              Row.fromSeq(keys.indices.map(r.get))): _*),
            StructType(keys.map(k => src.schema(k))))
        case None => src.select(keys.map(col): _*)
          .where(nonNullKeys).distinct()
      }
      // bloom layer: when the key set is delta-sized, footer blooms
      // drop candidate files whose key chunks provably hold no source
      // key — the span prune's blind spot (scattered keys span every
      // file). Composite keys prune per column: a file can hold a
      // matching TUPLE only if every key column's bloom says "maybe"
      // for some source value. Keys come straight from the profile (no
      // collect job); an oversized or bloom-ineligible key set skips
      // the layer and the exact probe below carries the full load.
      val probed = profile match {
        case Some(g) if candidates.nonEmpty && g.nonEmpty &&
            g.length <= BloomProbeMaxKeys =>
          keys.zipWithIndex.foldLeft(candidates) {
            case (cand, (kc, i)) =>
              if (cand.isEmpty) cand
              else bloomPrune(spark, path, cand,
                physicalOf(Some(b.schemaJson)).getOrElse(kc, kc),
                g.map(_.get(i)).distinct.toSeq)
          }
        case _ => candidates
      }
      // every matched target row leaves (update AND delete verbs);
      // only non-tombstoned source rows come back
      val upserts = tombstoneCol.map(c =>
        src.where(!coalesce(col(c), lit(false)))).getOrElse(src)
      val ordered = upserts.select(tableSchema.fieldNames.map(col).toSeq: _*)
      val found =
        if (probed.isEmpty) CowFiles(Seq.empty, entries)
        else {
          // masked probe: a key whose only rows are DV-deleted must
          // not drag its file into the rewrite
          val (kprobe, kFileC, kPosC) =
            maskedReadWithPos(spark, b.schemaJson, path, probed)
          discover(b, deletionVectors,
            kprobe.select(keys.map(col) :+ col(kFileC) :+ col(kPosC): _*)
              .join(srcKeys, keys, "left_semi")
              .select(col(kFileC), col(kPosC)), kFileC, kPosC)
        }
      val (keep, side) = kept(b, found)
      // DV masks the matched pre-images and APPENDS the upserts: a
      // scattered CDC batch writes O(|batch|) bytes + one sidecar. COW
      // rewrites each touched file minus its matched rows, plus the
      // upserts; the rewritten-file count is the layout-preserving
      // output target (insert-only: one file), and opt-in clustering
      // keeps CDC traffic from widening spans between OPTIMIZE runs
      val (out, nOut) = found match {
        case CowFiles(rewrite, _) if rewrite.nonEmpty =>
          (maskedRead(spark, b.schemaJson, path, rewrite)
            .join(srcKeys, keys, "left_anti")
            .unionByName(ordered), rewrite.size)
        case _ => (ordered, 1)
      }
      Some(Change(keep, side, Some(clusterOut(out, clusterBy, nOut))))
    }
  }

  /** RESTORE the table to the content of an earlier `version`, as a
    * NEW commit — rollback without losing history (Delta's `RESTORE
    * TABLE ... TO VERSION AS OF`). The restored state is METADATA-ONLY:
    * the target version's file entries are carried by reference (zero
    * data movement at any table size — immutable data files make
    * rollback a manifest write), its recorded schema and stats columns
    * become current again, and every intermediate version stays
    * time-travelable until [[expire]] (whose unreferenced-file sweep
    * sees the restore manifest and keeps its files alive). A restore
    * to the CURRENT version is a no-op returning it; a restore to an
    * expired version refuses loudly (its manifest — the only record of
    * its file set — is gone). `txnId` gives replay idempotence as in
    * [[commit]].
    *
    * Race posture: the restored content is pinned to `version`, so a
    * manifest-race loss recomputes nothing — the restore just re-tries
    * at the next number (the last writer's restore wins, which is the
    * serializable order of two racing rollbacks). Commits as mode
    * `restore` — non-append, so incremental append readers refuse (or
    * skip) it and the change feed derives the exact row-level
    * undo-diff from the touched files. */
  def restoreTo(spark: SparkSession, path: String, version: Int,
      txnId: Option[String] = None, maxRetries: Int = 5): Int =
    commitRewrite(spark, path, "restore", "versioned restore", txnId,
        maxRetries) { b =>
      require(version <= b.v,
        s"cannot restore $path to version $version: latest is ${b.v}")
      if (version == b.v) None // already at that state
      else {
        // throws "never committed (or expired)" when the target is gone
        val target = readHeader(b.fs, b.root, version)
        requireVisible(b.fs, path, version, target) // no restore to a hole
        Some(Change(readEntries(spark, path, version),
          schemaJson = Some(target.schemaJson),
          statsCols = Some(target.statsCols)))
      }
    }

  /** Deep CLONE of a committed version into a fresh table at
    * `dstPath` (Delta's `CREATE TABLE ... DEEP CLONE src VERSION AS OF
    * v`): the data files are copied byte-for-byte by a DISTRIBUTED
    * copy job — one task per file, so a 100 TB clone is a full-
    * bandwidth parallel copy, never a driver loop — and the clone's
    * v0 manifest carries the source version's entries verbatim:
    * identical bytes mean the recorded row counts, stats spans,
    * footer blooms, and schema all remain true with NO re-harvest and
    * no data scan. CHECK constraints copy too (same invariants, same
    * gate). The clone is then a fully independent table — its own
    * log, its own history, diverging freely; the source is never
    * touched (a time-traveled clone of yesterday's version is the
    * standard dev/staging fork).
    *
    * The destination must not already be a versioned table (refused
    * loudly — a clone is CREATE, not INSERT). Returns the clone's
    * version (always 0). The clone commits as mode `clone`: v0 is the
    * baseline every reader treats as its initial snapshot. */
  def cloneTo(spark: SparkSession, srcPath: String, dstPath: String,
      asOfVersion: Option[Int] = None): Int = {
    val srcRoot = new Path(srcPath)
    val conf = spark.sessionState.newHadoopConf()
    val fs = srcRoot.getFileSystem(conf)
    val v = asOfVersion.orElse(latestVisible(fs, srcRoot, forWrite = false))
      .getOrElse(throw new IllegalStateException(
        s"no committed versions at $srcPath"))
    val header = readHeader(fs, srcRoot, v)
    // an explicit version can name an UNDECIDED/ABORTED multi-table
    // pending manifest — cloning it would fork never-committed data
    // into an independent table (latestVisible already filtered these)
    asOfVersion.foreach(_ => requireVisible(fs, srcPath, v, header))
    val entries = readEntries(spark, srcPath, v)
    val dstRoot = new Path(dstPath)
    val dfs = dstRoot.getFileSystem(conf)
    require(listVersionNumbers(dfs, dstRoot).isEmpty,
      s"cloneTo: $dstPath is already a versioned table — a clone " +
        "creates, it never merges into existing history")
    dfs.mkdirs(new Path(dstRoot, LogDir))
    if (entries.nonEmpty) {
      val sconf = new org.apache.spark.util.SerializableConfiguration(conf)
      val srcStr = srcRoot.toString
      val dstStr = dstRoot.toString
      // data files AND any DV sidecars: identical bytes keep the
      // entries' dv references true in the clone
      val toCopy = artifactNames(entries)
      val slices = math.max(1, math.min(toCopy.size,
        spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(toCopy, slices)
        .foreach { n =>
          val c = sconf.value
          val from = new Path(srcStr, n)
          val to = new Path(dstStr, n)
          org.apache.hadoop.fs.FileUtil.copy(
            from.getFileSystem(c), from, to.getFileSystem(c), to,
            false /* deleteSource */, true /* overwrite: re-run safe */, c)
        }
    }
    // same bytes ⇒ the source entries (rows, spans) are the truth for
    // the copies too; constraints carry the table's invariants along
    constraintsOf(fs, srcRoot) match {
      case cs if cs.nonEmpty => writeConstraints(dfs, dstRoot, cs)
      case _ => ()
    }
    if (!tryWriteManifest(dfs, dstRoot, 0, "clone", None,
        header.statsCols, header.schemaJson, entries))
      throw new IllegalStateException(
        s"cloneTo: a concurrent writer created $dstPath mid-clone")
    0
  }

  /** RENAME a column WITHOUT rewriting a byte of data (Delta's column
    * mapping): one metadata-only `alter` commit records the new
    * LOGICAL name while the field keeps its immutable PHYSICAL name
    * (the name the parquet files carry — rides in field metadata).
    * Reads alias physical→logical at plan time; appends stage under
    * physical names; footer stats/blooms keep working (harvest and
    * probes translate); manifest span stats re-key to the new name in
    * the same commit, so [[prunedRead]] on the new name prunes
    * exactly as before. Every earlier version time-travels with ITS
    * OWN names. The old name's physical slot stays occupied: re-adding
    * a column under it refuses (see [[resolveSchema]]) until an
    * overwrite commit rewrites the table.
    *
    * Refuses when a CHECK constraint references the old name (the
    * constraint would silently stop analyzing — drop or re-add it
    * first) or when `to` already exists. The `graft-vt` relation /
    * SQL catalog scan surfaces refuse mapped versions (a plain file scan cannot
    * alias) — `commit(read(spark, path), path, overwrite = true)`
    * materializes the mapping away. */
  def renameColumn(spark: SparkSession, path: String, from: String,
      to: String, maxRetries: Int = 5): Int =
    alterColumnsBatch(spark, path,
      Seq(ColumnChange.Rename(from, to)), maxRetries)

  /** ADD a column without rewriting data: a metadata-only `alter`
    * commit extends the recorded schema — every existing file
    * back-fills the new column with null at read time (the same
    * planned-merge the append evolution path uses), later appends
    * populate it. The column must be NULLABLE by construction (the
    * history cannot conjure values), and its name must not carry
    * PHYSICAL history — a name some column was renamed away from, or
    * one a [[dropColumn]] retired — because old files still hold that
    * physical data and would silently resurrect it (the exact check
    * the append path enforces in [[resolveSchema]]). Earlier versions
    * time-travel without the column. */
  def addColumn(spark: SparkSession, path: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      maxRetries: Int = 5): Int =
    alterColumnsBatch(spark, path,
      Seq(ColumnChange.Add(name, dataType)), maxRetries)

  /** Re-declare the table's STATS/INDEX columns without rewriting
    * data: a metadata-only `alter` commit re-records which columns get
    * manifest spans + footer blooms. Files written AFTER the change
    * collect for the new set; existing files keep whatever they
    * collected — a newly-indexed column reads fine everywhere but
    * prunes only the files that recorded it (OPTIMIZE rewrites them
    * with full stats). The operational shape: you discover mid-life
    * that a 100 TB table needs an index on another column, and the
    * declaration must not cost a table rewrite. */
  def setStatsCols(spark: SparkSession, path: String, cols: Seq[String],
      maxRetries: Int = 5): Int =
    alterColumnsBatch(spark, path,
      Seq(ColumnChange.SetStats(cols)), maxRetries)

  /** DROP a column without rewriting data: a metadata-only `alter`
    * commit removes the field from the recorded schema — reads plan
    * the remaining columns only (the physical data stays in the files,
    * invisible), the column's span stats leave the manifest, and its
    * PHYSICAL name is recorded as RETIRED so a later append can never
    * re-bind it to the stale bytes ([[resolveSchema]] refuses; an
    * overwrite commit frees the name). Earlier versions time-travel
    * with the column intact. Refuses on the last column and when a
    * CHECK constraint references it. */
  def dropColumn(spark: SparkSession, path: String, name: String,
      maxRetries: Int = 5): Int =
    alterColumnsBatch(spark, path,
      Seq(ColumnChange.Drop(name)), maxRetries)

  /** One metadata-only column DDL step, for [[alterColumnsBatch]] —
    * the vocabulary a multi-change `ALTER TABLE` statement composes
    * into ONE atomic commit. */
  sealed trait ColumnChange
  object ColumnChange {
    final case class Add(name: String,
        dataType: org.apache.spark.sql.types.DataType) extends ColumnChange
    final case class Rename(from: String, to: String) extends ColumnChange
    final case class Drop(name: String) extends ColumnChange
    final case class SetStats(cols: Seq[String]) extends ColumnChange
  }

  /** Evolving (schema, retired physical names, stats cols, entry-key
    * re-mapper) state threaded through a change sequence. The mapper
    * renames/drops STAT KEYS and applies to every per-column entry
    * map — spans AND null counts (a rename that forgot the null
    * counts would silently retire the all-in proofs the metadata
    * count relies on). */
  private type AlterState = (StructType, Seq[String], Seq[String],
    String => Option[String])

  private def rekeyMap[V](rekey: String => Option[String],
      m: Map[String, V]): Map[String, V] =
    m.flatMap { case (k, v) => rekey(k).map(_ -> v) }

  private def applyColumnChange(path: String, state: AlterState,
      change: ColumnChange): AlterState = {
    val (st, retired, statsCols, rekey) = state
    change match {
      case ColumnChange.Add(name, dataType) =>
        // CASE-INSENSITIVE collision checks: Spark SQL resolves
        // case-insensitively by default, so a case-variant twin would
        // commit fine and then wedge every SQL read on
        // AMBIGUOUS_REFERENCE
        require(!st.fields.exists(_.name.equalsIgnoreCase(name)),
          s"addColumn: column $name already exists at $path")
        val usedPhysical = (st.fields.map(physicalNameOf).toSeq ++
          retired).map(_.toLowerCase).toSet
        require(!usedPhysical.contains(name.toLowerCase),
          s"addColumn: $name carries physical history at $path " +
            "(renamed or dropped) — old files still hold that " +
            "physical data; pick another name or rewrite via an " +
            "overwrite commit")
        (StructType(st.fields :+ org.apache.spark.sql.types.StructField(
          name, dataType, nullable = true)),
          retired, statsCols, rekey)
      case ColumnChange.Rename(from, to) =>
        require(from != to, s"renameColumn: $from -> $to is a no-op")
        val f = st.fields.find(_.name == from).getOrElse(
          throw new IllegalArgumentException(
            s"renameColumn: no column $from at $path (columns: " +
              s"${st.fieldNames.mkString(",")})"))
        require(!st.fields.exists(f =>
            f.name.equalsIgnoreCase(to) && f.name != from),
          s"renameColumn: column $to already exists at $path")
        val nf = f.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(PhysicalKey, physicalNameOf(f)).build())
        (StructType(st.fields.map(x => if (x.name == from) nf else x)),
          retired,
          statsCols.map(c => if (c == from) to else c),
          (k: String) => rekey(k).map(k2 => if (k2 == from) to else k2))
      case ColumnChange.Drop(name) =>
        val f = st.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"dropColumn: no column $name at $path (columns: " +
              s"${st.fieldNames.mkString(",")})"))
        require(st.fields.length > 1,
          s"dropColumn: $name is the last column of $path")
        (StructType(st.fields.filterNot(_.name == name)),
          retired :+ physicalNameOf(f),
          statsCols.filterNot(_ == name),
          (k: String) => rekey(k).filter(_ != name))
      case ColumnChange.SetStats(cols) =>
        require(cols.forall(c => c.nonEmpty &&
            !c.exists(ch => ch == ',' || ch == '\t' || ch < ' ')),
          s"bad stats column names: $cols")
        val missing = cols.filterNot(st.fieldNames.contains)
        require(missing.isEmpty,
          s"setStatsCols: no column(s) ${missing.mkString(",")} at " +
            s"$path (columns: ${st.fieldNames.mkString(",")})")
        (st, retired, cols, rekey)
    }
  }

  /** Apply a SEQUENCE of column DDL changes as ONE atomic `alter`
    * commit — what a multi-change `ALTER TABLE` statement needs:
    * either every change lands (one new version) or none does, and
    * the changes compose left-to-right against the evolving schema
    * (an added column can be renamed in the same statement). The
    * single-change verbs ([[addColumn]]/[[renameColumn]]/
    * [[dropColumn]]/[[setStatsCols]]) are each a batch of one. */
  def alterColumnsBatch(spark: SparkSession, path: String,
      changes: Seq[ColumnChange], maxRetries: Int = 5): Int = {
    require(changes.nonEmpty, "alterColumnsBatch: no changes")
    alterColumns(spark, path, maxRetries, changes.mkString("; ")) {
      (st, retired, statsCols) =>
        changes.foldLeft(
          (st, retired, statsCols,
            (k: String) => Some(k): Option[String]): AlterState)(
          applyColumnChange(path, _, _))
    }
  }

  /** Shared machinery of the metadata-only column DDL: resolve the
    * latest schema, transform (schema, retired, statsCols, and an
    * entry-stats re-keyer), validate constraints still analyze, and
    * commit the SAME file entries under mode `alter` — zero data
    * movement, retried on a lost race like every other verb. */
  private def alterColumns(spark: SparkSession, path: String,
      maxRetries: Int, what: String)(
      xform: (StructType, Seq[String], Seq[String]) => AlterState)
      : Int =
    commitRewrite(spark, path, "alter", s"column DDL ($what)",
        maxRetries = maxRetries) { b =>
      val (st, retired) = decodeSchemaFull(b.schemaJson)
      val (st2, retired2, cols2, rekey) = xform(st, retired,
        b.header.statsCols)
      // CHECK constraints are SQL text over logical names: one that no
      // longer analyzes against the new shape would silently stop
      // guarding writes — refuse the DDL instead
      constraintsOf(b.fs, b.root).foreach { case (n, e) =>
        val probe = spark.createDataFrame(
          new java.util.ArrayList[Row](), st2)
        try probe.select(expr(e)).schema
        catch { case ex: Exception => throw new IllegalArgumentException(
          s"$what at $path breaks CHECK constraint $n ($e) — drop or " +
            s"re-add the constraint first: ${ex.getMessage}", ex) }
      }
      val entries = b.entries
        .map(e => e.copy(stats = rekeyMap(rekey, e.stats),
          nulls = rekeyMap(rekey, e.nulls),
          sums = rekeyMap(rekey, e.sums),
          // value sets and NDV sketches describe PHYSICAL values — a
          // logical rename re-keys them unchanged (dropping them here
          // would silently retire the set-union folds and value-set
          // pruning the moment a column is renamed)
          dsets = rekeyMap(rekey, e.dsets),
          ndvs = rekeyMap(rekey, e.ndvs)))
      Some(Change(entries, schemaJson = Some(encodeSchemaFull(st2, retired2)),
        statsCols = Some(cols2)))
    }

  /** Predicate-scoped atomic OVERWRITE (Delta's `replaceWhere`): in
    * ONE commit, remove every row where `predicate` is TRUE and insert
    * `data` — the idempotent-backfill primitive (recompute a key range
    * or date slice, swap it in, nothing else moves; a replay with the
    * same inputs converges to the same table). Only the files holding
    * a predicate-TRUE row are rewritten; every untouched file carries
    * into the new version by reference, so a one-slice backfill on a
    * 100 TB table rewrites O(slice), never the table. The prior
    * version stays time-travelable; `txnId` replays no-op.
    *
    * Contract: every `data` row must itself satisfy `predicate`
    * (checked loudly — a row outside the scope would not be removed by
    * the operation's own next replay, so the "replace" would not be
    * idempotent; Delta enforces the same constraint). `data` must
    * carry exactly the table's columns (same types modulo nullability
    * — schema evolution composes via a prior [[commit]]). Rows where
    * `predicate` is NULL are KEPT (SQL WHERE-delete semantics). An
    * empty `data` is a pure scoped delete; a predicate touching
    * nothing with empty `data` returns the current version untouched.
    *
    * Like [[deleteWhere]], a lost manifest race re-runs discovery
    * against the winner's version ([[commitRewrite]]). Commits as mode
    * `replace` — non-append, with the change feed deriving the
    * row-level diff from the touched files. */
  def replaceWhere(spark: SparkSession, path: String, predicate: Column,
      data: DataFrame, txnId: Option[String] = None,
      maxRetries: Int = 5, clusterBy: Seq[String] = Seq.empty): Int = {
    // one stable snapshot: consumed by the constraint check, the
    // rewrite, and possibly a retry; released once the replace has
    // committed (or given up)
    val src = data.localCheckpoint()
    try {
      require(src.where(!coalesce(predicate, lit(false))).isEmpty,
        "replaceWhere: every replacement row must satisfy the predicate " +
          "— a row outside the replaced scope would survive its own " +
          "replay (not a replacement); widen the predicate or drop the row")
      var consChecked = false
      commitRewrite(spark, path, "replace", "versioned replaceWhere", txnId,
          maxRetries) { b =>
        if (!consChecked) { // post-txn-probe: replays no-op, not refuse
          enforceConstraints(src, constraintsOf(b.fs, b.root),
            s"replaceWhere at $path")
          consChecked = true
        }
        val tableSchema = decodeSchema(b.schemaJson)
        requireTableShape("replaceWhere", "data", "mid-replace", src.schema,
          src.columns.toSeq, tableSchema)
        // discovery: one MASKED scan projecting only the predicate's
        // columns (parquet footer stats + blooms prune it like any read)
        val CowFiles(rewrite, carried) =
          if (b.entries.isEmpty) CowFiles(Seq.empty, Seq.empty)
          else {
            val (probe, fileC, _) =
              maskedReadWithPos(spark, b.schemaJson, path, b.entries)
            touchedSplit(b, probe.where(predicate), fileC)
          }
        val ordered = src.select(tableSchema.fieldNames.map(col).toSeq: _*)
        if (rewrite.isEmpty && ordered.isEmpty) None // scoped no-op
        else {
          val survivors =
            if (rewrite.isEmpty) ordered
            else maskedRead(spark, b.schemaJson, path, rewrite)
              .where(!coalesce(predicate, lit(false)))
              .unionByName(ordered)
          Some(Change(carried, stage = Some(clusterOut(survivors, clusterBy,
            math.max(1, rewrite.size)))))
        }
      }
    } finally Bridge.releaseCheckpoint(src)
  }

  /** Metadata-only COUNT(*) (Delta's metadata-only query path): the
    * manifest records per-file row counts, so the answer is ONE small
    * manifest read — zero data files opened at any table size. */
  def countRows(spark: SparkSession, path: String,
      asOfVersion: Option[Int] = None): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = asOfVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(throw new IllegalStateException(
        s"no committed versions at $path"))
    // metadata leaks too: a pending manifest's row count is uncommitted
    asOfVersion.foreach(_ =>
      requireVisible(fs, path, v, readHeader(fs, root, v)))
    countRowsOf(readEntries(spark, path, v))
  }

  /** [[countRows]] from pre-read entries (one manifest read can serve
    * several metadata answers). */
  private[graft] def countRowsOf(entries: Seq[FileEntry]): Long =
    entries.map(_.liveRows).sum

  /** Metadata-only MIN/MAX of a stats column, folded from the manifest
    * spans — zero data files opened. Two-level result keeps "don't
    * know" and "provably NULL" distinct:
    *  - outer `None`: metadata insufficient (a row-bearing file never
    *    collected stats for the column, or spans are incomparable) —
    *    fall back to a scan;
    *  - `Some(None)`: provably SQL NULL (zero rows, or the column is
    *    entirely null in every file);
    *  - `Some(Some((min, max)))`: the exact extrema, normalized to
    *    Long / Double / String as recorded. NaN-valued extrema are
    *    never recorded (see [[normalize]]), matching SQL min/max which
    *    a scan would also never answer with NaN-dominated order.
    *
    * String exactness: parquet-mr DROPS oversized binary chunk stats
    * rather than truncating them (and Spark leaves stats truncation
    * off), so a recorded string span is the chunk's true min/max —
    * present ⇒ exact, oversized ⇒ absent ⇒ the conservative outer
    * `None` here. Truncated-prefix bounds (a column-INDEX feature)
    * never reach [[footerEntry]]'s chunk-statistics harvest. */
  def statsSpan(spark: SparkSession, path: String, column: String,
      asOfVersion: Option[Int] = None): Option[Option[(Any, Any)]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = asOfVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(throw new IllegalStateException(
        s"no committed versions at $path"))
    // min/max of uncommitted data must not leak through metadata either
    asOfVersion.foreach(_ =>
      requireVisible(fs, path, v, readHeader(fs, root, v)))
    val entries = readEntries(spark, path, v)
    // every file that MIGHT hold a row must carry collected stats; a
    // deletion vector makes the recorded span merely CONSERVATIVE (the
    // masked rows may have held the extrema) — exactness demands a
    // rescan, so answer "don't know", never a stale bound
    if (entries.exists(e => e.dv.exists(_._2 > 0)) ||
        entries.exists(e => e.nRows != 0 && !e.stats.contains(column)))
      None
    else hull(entries.flatMap(_.stats.get(column)).flatten)
  }

  /** [[cmp]] IS SQL's exact order for every comparable pair: numerics
    * through BigDecimal (NaN never hides behind a recorded span —
    * parquet-mr, which writes every file this engine commits, omits
    * double/float bounds for any chunk containing NaN, measured in
    * VtMetadataAggSpec's NaN regression — and footerEntry refuses the
    * all-null shortcut unless null counts prove it), strings through
    * UTF8String's unsigned-byte order (what Spark's default
    * UTF8_BINARY collation and parquet's binary stats both use). So
    * metadata ANSWERS may use the same comparator pruning does. */
  private def cmpExact(a: Any, b: Any): Option[Int] = cmp(a, b)

  /** The `[min, max]` hull of `spans` (`Some(None)` when empty). The
    * reduce PICKS the answer, so its order must be SQL's exactly
    * (byte-order strings — see [[cmpExact]]): None when a pair is not
    * provably ordered (folds rescan, pruning keeps). */
  private[graft] def hull(
      spans: Iterable[(Any, Any)]): Option[Option[(Any, Any)]] = {
    var acc: Option[(Any, Any)] = None
    spans.foreach { s =>
      acc = acc match {
        case None => Some(s)
        case Some((lo, hi)) =>
          (cmpExact(s._1, lo), cmpExact(s._2, hi)) match {
            case (Some(cl), Some(ch)) =>
              Some((if (cl < 0) s._1 else lo, if (ch > 0) s._2 else hi))
            case _ => return None
          }
      }
    }
    Some(acc)
  }

  // ---- predicate-bounded metadata counts -----------------------------

  /** A TIMESTAMP span value, normalized to MICROSECONDS at footer
    * harvest using the chunk's parquet unit annotation. A DISTINCT
    * type (and manifest tag `T`), never a bare Long: spans harvested
    * before unit normalization recorded the writer's RAW physical
    * value (millis under `outputTimestampType=TIMESTAMP_MILLIS`), so
    * a bare-Long timestamp span is untrustworthy — [[cmp]] treats the
    * mixed pairing as incomparable and every consumer stays
    * conservative (pruning keeps the file, folds decline). */
  final case class TsMicros(us: Long)

  /** The exclusive UPPER BOUND of the byte-order range equivalent to
    * `startsWith(prefix)`: prefix with its last char incremented —
    * `s.startsWith(p)` ⟺ `p <= s < upper` under UTF8String byte
    * order (UTF-8 byte order equals codepoint order, and `upper`
    * differs from `p` exactly at the last codepoint). `None` when no
    * safe increment exists (empty prefix, last char at/inside the
    * surrogate range or U+FFFF) — callers then decline rather than
    * widen. */
  private[graft] def prefixUpperBound(p: String): Option[String] = {
    if (p.isEmpty) return None
    val c = p.charAt(p.length - 1)
    if (c >= 0xD7FF.toChar && c <= 0xDFFF.toChar) None // c or c+1 surrogate
    else if (c == 0xFFFF.toChar) None
    else Some(p.substring(0, p.length - 1) + (c + 1).toChar)
  }

  /** THE file-predicate algebra: one conjunct of a file-level
    * predicate, its values in the manifest's span domain
    * ([[graft.sources.VtPushdown.span]] converts to it), decided per
    * file by the one classifier [[classifyEntry]]. */
  sealed trait ExactPred { def column: String }
  /** `lo/hi = (bound, inclusive)`; either side open. Equality is
    * `(v,true)..(v,true)`. Null-rejecting, like every comparison. */
  final case class ExactRange(column: String,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)])
    extends ExactPred
  object ExactRange {
    /** `column BETWEEN lo AND hi` (inclusive). */
    def between(column: String, lo: Any, hi: Any): ExactRange =
      ExactRange(column, Some((lo, true)), Some((hi, true)))
  }
  /** `column IN (values)` — empty values = provably no row. */
  final case class ExactIn(column: String, values: Seq[Any])
    extends ExactPred
  final case class ExactNotNull(column: String) extends ExactPred
  /** `column IS NULL` — decidable from the null counts alone: all-in
    * when the column is provably all-null (DV-safe: masking a null
    * row leaves the rest null), all-out when provably null-free. */
  final case class ExactIsNull(column: String) extends ExactPred
  /** `column NOT IN (values)` / `column != v` — null-rejecting like
    * every comparison; values non-empty and non-null (a NULL member
    * makes the whole predicate match nothing — callers translate
    * that to the provably-empty [[ExactIn]]). */
  final case class ExactNotIn(column: String, values: Seq[Any])
    extends ExactPred
  /** A DISJUNCTION of conjunctions (`a OR b`, each side a conjunction
    * of exact predicates — nested ORs nest here). A file is all-in
    * when SOME alternative provably matches its every row, all-out
    * when EVERY alternative provably matches none; a file whose rows
    * merely split across alternatives (span [1995,1997] under
    * `year = 1995 OR year = 1997`) is undecidable and scans — exact,
    * never approximate. */
  final case class ExactOr(alts: Seq[Seq[ExactPred]]) extends ExactPred {
    override def column: String = "" // spans multiple columns
  }

  /** Classify one file against one predicate: `Some(true)` = EVERY
    * live row matches (all-in), `Some(false)` = NO live row matches
    * (all-out), `None` = undecidable. The one three-valued contract
    * every consumer reads: PRUNING ([[pruneEntriesWhere]],
    * [[pruneEntriesJob]], the pruned reads, scoped compaction, merge's
    * coarse prune, join-key file pruning) keeps a file unless some
    * conjunct classifies it all-out; FOLDS ([[countWhereParts]])
    * answer from all-in files, skip all-out ones and scan the rest.
    * Exactness notes: bounds keep their strictness, spans never
    * include NaN (parquet omits stats on NaN-bearing chunks), string
    * orders are exact byte orders ([[cmpExact]]), all-in demands a
    * recorded ZERO null count (comparisons are null-rejecting; a null
    * row would be wrongly counted), and the recorded DISTINCT VALUE SET
    * refines all-out for ranges and IN-lists ([[dsetExcludes]]). */
  private def classifyEntry(e: FileEntry, p: ExactPred): Option[Boolean] = {
    if (e.nRows == 0) return Some(false) // no rows: vacuously out
    p match { // a provably-empty predicate needs no stats at all
      case ExactIn(_, vs) if vs.isEmpty => return Some(false)
      case ExactIsNull(c) =>
        // decided by null counts, not spans: Some(None) span = all-
        // null = ALL-IN here (the value-predicate match below reads
        // it as all-out, so dispatch before it)
        return (
          if (e.nulls.get(c).contains(0L)) Some(false)
          else if (e.nulls.get(c).exists(_ == e.nRows) ||
              e.stats.get(c).contains(None)) Some(true)
          else None)
      case ExactOr(alts) =>
        // classify each alternative as its own conjunction; all-in
        // when some alternative covers every row, all-out when every
        // alternative excludes every row — anything else scans
        val verdicts = alts.map { conj =>
          val vs = conj.map(classifyEntry(e, _))
          if (vs.contains(Some(false))) Some(false)
          else if (vs.forall(_.contains(true))) Some(true)
          else None
        }
        return (
          if (verdicts.contains(Some(true))) Some(true)
          else if (verdicts.forall(_.contains(false))) Some(false)
          else None)
      case _ => ()
    }
    val noNulls = e.nulls.get(p.column).contains(0L)
    val verdict = e.stats.get(p.column) match {
      case None => None // stats never collected for the column
      case Some(None) => Some(false) // entirely null: nothing matches
      case Some(Some((mn, mx))) => p match {
        case ExactRange(_, lo, hi) =>
          if (below(mx, lo) || above(mn, hi)) Some(false)
          else {
            val inLow = lo.forall { case (v, incl) =>
              cmpExact(mn, v).exists(c => c > 0 || (c == 0 && incl)) }
            val inHigh = hi.forall { case (v, incl) =>
              cmpExact(mx, v).exists(c => c < 0 || (c == 0 && incl)) }
            if (noNulls && inLow && inHigh) Some(true) else None
          }
        case ExactIn(_, vs) => // vs nonEmpty: the early guard above
          if (vs.forall(outside(_, mn, mx))) Some(false)
          else if (noNulls && cmpExact(mn, mx).contains(0) &&
              vs.exists(v => cmpExact(v, mn).contains(0)))
            Some(true)
          else None
        case ExactNotNull(_) =>
          if (noNulls) Some(true) else None
        case ExactNotIn(_, vs) =>
          // all-out: single-point span ∈ vs (non-null rows all equal
          // it; null rows never match a NOT IN). all-in: null-free
          // and every listed value provably outside the span.
          if (cmpExact(mn, mx).contains(0) &&
              vs.exists(v => cmpExact(v, mn).contains(0)))
            Some(false)
          else if (noNulls && vs.forall(outside(_, mn, mx))) Some(true)
          else None
        case _: ExactOr | _: ExactIsNull =>
          None // unreachable: dispatched above
      }
    }
    if (!verdict.contains(false) && dsetExcludes(e, p)) Some(false)
    else verdict
  }

  /** `v` provably lies outside the span `[mn, mx]` / fails the lower
    * bound `lo` / fails the upper bound `hi` (an incomparable pair
    * proves nothing). */
  private def outside(v: Any, mn: Any, mx: Any): Boolean =
    cmpExact(v, mn).exists(_ < 0) || cmpExact(v, mx).exists(_ > 0)
  private def below(v: Any, lo: Option[(Any, Boolean)]): Boolean =
    lo.exists { case (b, incl) =>
      cmpExact(v, b).exists(c => c < 0 || (c == 0 && !incl)) }
  private def above(v: Any, hi: Option[(Any, Boolean)]): Boolean =
    hi.exists { case (b, incl) =>
      cmpExact(v, b).exists(c => c > 0 || (c == 0 && !incl)) }

  /** The recorded DISTINCT VALUE SET excludes every value the
    * predicate accepts — all-out even when the span covers them: the
    * sparse-keys-inside-a-wide-span shape (CDC upserts, merge
    * discovery). Sound regardless of deletion vectors, for pruning and
    * folds alike: the set is the PHYSICAL value list, a superset of
    * the live one, so "physically absent" implies "no live row
    * matches". An incomparable pair proves nothing. Ranges and
    * IN-lists only; IN compares pairwise exactly (hash equality would
    * mis-prune ±0.0 doubles and scale-mismatched decimals) and is
    * COST-BOUNDED: a huge IN-list × set product falls back to the span
    * verdict rather than tax planning quadratically per file. */
  private def dsetExcludes(e: FileEntry, p: ExactPred): Boolean =
    e.dsets.get(p.column).exists { vals => p match {
      case ExactRange(_, lo, hi) =>
        vals.forall(v => below(v, lo) || above(v, hi))
      case ExactIn(_, vs) if vs.size.toLong * vals.size <= 4096 =>
        vs.forall(x => vals.forall(v => cmpExact(v, x).exists(_ != 0)))
      case _ => false
    }}

  /** Exact NON-NULL live-row count of one file's `col`, from the
    * manifest's per-column null counts — what `count(col)` folds
    * from. `None` = not provable: no recorded null count, or the file
    * carries a deletion vector alongside nulls (a masked row might
    * have been null or not — only a ZERO null count survives masking,
    * since then every masked row was provably non-null). */
  private[graft] def nonNullRowsOf(e: FileEntry,
      col: String): Option[Long] =
    if (e.nRows == 0) Some(0L)
    else e.nulls.get(col) match {
      case Some(0L) => Some(e.liveRows)
      case Some(n) =>
        if (e.dv.exists(_._2 > 0)) None else Some(e.nRows - n)
      case None => None
    }

  /** Split a version's files for `count(*) WHERE <conjuncts>`:
    * `(metaSum, boundary)` where `metaSum` is the exact live-row
    * count of files EVERY conjunct provably matches in full (a
    * deletion vector only removes rows that also matched — live rows
    * stay exact), all-out files contribute nothing, and `boundary`
    * names the files metadata cannot decide — the only ones a caller
    * needs to scan. The caller re-applies the ORIGINAL predicate over
    * the boundary scan, so an undecidable file is never a wrong
    * answer, only a narrower win. */
  private[graft] def countWhereParts(entries: Seq[FileEntry],
      preds: Seq[ExactPred]): (Long, Seq[FileEntry], Seq[String]) = {
    var metaSum = 0L
    val allIn = Seq.newBuilder[FileEntry]
    val boundary = Seq.newBuilder[String]
    entries.foreach { e =>
      val verdicts = preds.map(classifyEntry(e, _))
      if (verdicts.contains(Some(false))) () // provably out
      else if (verdicts.forall(_.contains(true))) {
        metaSum += e.liveRows
        allIn += e
      } else boundary += e.name
    }
    (metaSum, allIn.result(), boundary.result())
  }

  /** [[cmpExact]] for plan-side callers (the metadata-aggregate rule
    * reduces all-in files' span extrema with SQL's exact order). */
  private[graft] def cmpMeta(a: Any, b: Any): Option[Int] = cmpExact(a, b)

  /** Masked/aliased read of a NAMED SUBSET of a version's files — the
    * boundary-file scan of a predicate-bounded metadata count. Same
    * read discipline as [[read]]/[[readFileSlice]] (deletion vectors
    * masked, mapped columns aliased), restricted to `names`. */
  private[graft] def readEntrySubset(spark: SparkSession, path: String,
      version: Int, names: Set[String]): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val header = readHeader(fs, root, version)
    requireVisible(fs, path, version, header)
    val keep = readEntries(spark, path, version)
      .filter(e => names.contains(e.name))
    if (keep.isEmpty) emptyOf(spark, header.schemaJson)
    else maskedRead(spark, header.schemaJson, path, keep)
  }

  /** Table-level CHECK constraints (Delta's `ALTER TABLE ... ADD
    * CONSTRAINT` analog): named boolean SQL expressions every NEW row
    * must satisfy, enforced as ONE fused aggregate scan of the
    * incoming batch BEFORE staging in [[commit]], [[mergeInto]]
    * (tombstone delete-records exempt — they carry no new data), and
    * [[replaceWhere]] — a violating batch refuses loudly with per-
    * constraint violation counts and nothing lands, not even debris.
    * SQL CHECK semantics: a row passes when the expression is TRUE or
    * NULL (guard nullable columns explicitly: `x IS NOT NULL AND x >
    * 0`).
    *
    * Adding a constraint validates the CURRENT table content first
    * (one scan) and refuses if existing rows violate — the Delta
    * contract, so a reader can trust that every live row satisfies
    * every listed constraint. Caveat (documented, matches Delta):
    * [[restoreTo]] does not re-validate, so restoring past the point
    * a constraint was added can resurrect pre-constraint rows.
    *
    * Enforcement is read-only on the data path and naturally
    * concurrent; the constraint DDL itself (set/drop) is last-writer-
    * wins over a single metadata file and meant for an admin, not for
    * racing writers. A txn-replayed commit no-ops BEFORE enforcement,
    * so a batch that landed before a constraint existed replays as a
    * no-op instead of a refusal (idempotence is preserved). */
  def setConstraint(spark: SparkSession, path: String, name: String,
      exprSql: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c < ' ' || c == '\t'),
      s"constraint name must be non-empty printable text: $name")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(root, LogDir))
    // validate against the current content when the table exists: the
    // expression must analyze to BOOLEAN over the table schema and
    // hold on every live row
    if (listVersionNumbers(fs, root).nonEmpty) {
      val cur = read(spark, path)
      val dt = try cur.select(expr(exprSql)).schema.head.dataType
        catch { case e: Exception => throw new IllegalArgumentException(
          s"constraint $name does not analyze against the table " +
            s"schema: ${e.getMessage}", e) }
      require(dt == org.apache.spark.sql.types.BooleanType,
        s"constraint $name must be a BOOLEAN expression, got " +
          dt.simpleString)
      enforceConstraints(cur, Seq(name -> exprSql),
        s"existing rows of $path (ADD CONSTRAINT validates current " +
          "content — fix or delete them first)")
    }
    val kept = constraintsOf(fs, root).filterNot(_._1 == name)
    writeConstraints(fs, root, kept :+ (name -> exprSql))
  }

  /** Remove a CHECK constraint by name (unknown names no-op — drop is
    * idempotent). */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    writeConstraints(fs, root, constraintsOf(fs, root)
      .filterNot(_._1 == name))
  }

  /** The table's CHECK constraints, in declaration order. */
  def constraints(spark: SparkSession, path: String): Seq[(String, String)] = {
    val root = new Path(path)
    constraintsOf(root.getFileSystem(
      spark.sessionState.newHadoopConf()), root)
  }

  private def constraintsFile(root: Path): Path =
    new Path(new Path(root, LogDir), ConstraintsName)

  private def constraintsOf(fs: FileSystem,
      root: Path): Seq[(String, String)] = {
    val f = constraintsFile(root)
    if (!fs.exists(f)) return Seq.empty
    val lines = readLines(fs, f)
    require(lines.headOption.contains(ConstraintsHeader),
      s"unrecognized constraints file at $f: ${lines.headOption}")
    lines.drop(1).filter(_.nonEmpty).map { l =>
      val Array(n, e) = l.split("\t", 2)
      n -> java.net.URLDecoder.decode(e, "UTF-8")
    }
  }

  private def writeConstraints(fs: FileSystem, root: Path,
      cons: Seq[(String, String)]): Unit = {
    val dest = constraintsFile(root)
    if (cons.isEmpty) { fs.delete(dest, false); return }
    val tmp = new Path(dest.getParent,
      s".${ConstraintsName}_tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write((ConstraintsHeader +: cons.map { case (n, e) =>
        s"$n\t${java.net.URLEncoder.encode(e, "UTF-8")}" })
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    // DDL is last-writer-wins by contract: replace, then promote
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"could not publish constraints file at $dest")
    }
  }

  /** One fused scan counting violations per constraint; refuses loudly
    * when any row fails (expression errors — e.g. a column the batch
    * lacks — refuse with the constraint named, never land data). */
  private[graft] def enforceConstraints(df: DataFrame,
      cons: Seq[(String, String)], what: String): Unit = {
    if (cons.isEmpty) return
    val aggs = cons.map { case (n, e) =>
      sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n) }
    val row = try df.agg(aggs.head, aggs.tail: _*).collect()(0)
      catch { case ex: Exception => throw new IllegalArgumentException(
        s"CHECK constraint evaluation failed over $what " +
          s"(${cons.map(_._1).mkString(",")}): ${ex.getMessage}", ex) }
    val bad = cons.zipWithIndex.flatMap { case ((n, e), i) =>
      val c = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (c > 0) Some(s"$n ($e): $c row(s)") else None }
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"CHECK constraint(s) violated by $what — ${bad.mkString("; ")}")
  }

  /** Read a version (default: latest). Fails loudly on a version that
    * was never committed — an uncommitted crash leaves no manifest.
    * Reads plan with the manifest's RECORDED schema: files
    * committed before a column was added back-fill it with null, and
    * a time-travel read returns exactly its version's shape. */
  def read(spark: SparkSession, path: String,
      asOfVersion: Option[Int] = None): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = asOfVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
    val header = readHeader(fs, root, v)
    requireVisible(fs, path, v, header)
    val entries = readEntries(spark, path, v)
    if (entries.isEmpty) emptyOf(spark, header.schemaJson)
    else maskedRead(spark, header.schemaJson, path, entries)
  }

  /** A deterministic SLICE of a version's files — indices `[from,
    * until)` of the manifest's entry order, planned with the version's
    * recorded schema. The chunked-initial-snapshot primitive for the
    * stream source: a manifest is immutable, so the same slice always
    * yields the same rows (the replay-determinism contract), and a
    * consumer can walk a 100 TB snapshot as bounded file windows
    * instead of one giant batch. Out-of-range indices clamp; an empty
    * slice returns the version's schema-shaped empty frame. */
  def readFileSlice(spark: SparkSession, path: String, version: Int,
      from: Int, until: Int): DataFrame = {
    require(from >= 0 && until >= from,
      s"bad file slice [$from, $until)")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val header = readHeader(fs, root, version)
    requireVisible(fs, path, version, header)
    val slice = readEntries(spark, path, version).slice(from, until)
    if (slice.isEmpty) emptyOf(spark, header.schemaJson)
    else maskedRead(spark, header.schemaJson, path, slice)
  }

  /** The recorded schema of a committed version. */
  def schemaOf(spark: SparkSession, path: String,
      version: Int): StructType = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    decodeSchema(readHeader(fs, root, version).schemaJson)
  }

  /** Range scan planned from the MANIFEST alone: resolve the version's
    * file entries, drop every file whose recorded span provably
    * excludes `[lo, hi]` on `column` (or whose column is entirely
    * null), read ONLY the survivors, and re-apply the exact predicate
    * — result-invisible by construction, composable with time travel
    * (`asOfVersion`), zero sidecar refresh (stats live in the commit
    * that wrote the files). Files committed without stats for `column`
    * are conservatively kept. */
  def prunedRead(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any, asOfVersion: Option[Int] = None): DataFrame =
    prunedReadWhere(spark, path, Seq(ExactRange.between(column, lo, hi)),
      asOfVersion)

  /** MEMBERSHIP-pruned read for a BOUNDED key list — the
    * merge-discovery metadata path exposed as a read: manifest
    * IN-spans first (free), then footer BLOOM probes of the span
    * survivors (a few KB per file, runs as a Spark job), then the
    * exact IN filter on the opened files. This is the read a
    * delta⋈snapshot join wants when the delta's keys are SCATTERED —
    * a min/max span over scattered keys covers the whole table
    * (pruning-blind), while blooms keep only the files that might
    * hold one of the values: O(|keys|) files opened on a clustered
    * layout, never O(table). Result-invisible; conservative wherever
    * metadata is missing. */
  def prunedReadIn(spark: SparkSession, path: String, column: String,
      values: Seq[Any], asOfVersion: Option[Int] = None): DataFrame = {
    require(values.nonEmpty, "prunedReadIn: empty key list")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = asOfVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
    val header = readHeader(fs, root, v)
    // an explicit version can name a pending multi-table manifest —
    // gate it like read() does (latestVisible already filtered these)
    asOfVersion.foreach(_ => requireVisible(fs, path, v, header))
    // spans compare in the span domain: convert each key by the
    // column's recorded type (a value it cannot convert is kept raw —
    // incomparable with a span, so its files stay)
    val dt = decodeSchema(header.schemaJson).find(_.name == column)
      .map(_.dataType)
    val spanKeep = pruneEntriesWhere(readEntries(spark, path, v),
      Seq(ExactIn(column, values.map(x =>
        dt.flatMap(VtPushdown.spanOfExternal(x, _)).getOrElse(x)))))
    // manifest spans are keyed LOGICAL; footer blooms live under the
    // PHYSICAL chunk name (column mapping)
    val keep = bloomPrune(spark, path, spanKeep,
      physicalOf(Some(header.schemaJson)).getOrElse(column, column), values)
    val pred = col(column).isin(values: _*)
    // empty shapes come from the recorded schema (no scan, no mask
    // collect); `where` keeps a bad predicate failing analysis
    if (keep.isEmpty) emptyOf(spark, header.schemaJson).where(pred)
    else maskedRead(spark, header.schemaJson, path, keep).where(pred)
  }

  /** [[prunedRead]] generalized to a CONJUNCTION of file predicates:
    * a file is opened only when no predicate classifies it all-out, so
    * a two-column conjunction opens no more files than either column
    * alone (and usually strictly fewer — the Iceberg/Delta
    * data-skipping composition). The exact predicates are re-applied
    * to the survivors, keeping the plan result-invisible. */
  def prunedReadWhere(spark: SparkSession, path: String,
      preds: Seq[ExactPred], asOfVersion: Option[Int] = None): DataFrame = {
    require(preds.nonEmpty, "prunedReadWhere: no predicates")
    preds.collect { case ExactIn(c, vs) if vs.isEmpty => c } match {
      case Seq() => ()
      case cs => throw new IllegalArgumentException(
        s"prunedReadWhere: empty IN-list on ${cs.mkString(",")}")
    }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = asOfVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
    // beyond driver-parse scale the header (a seven-line read) routes
    // planning through the parquet entry checkpoint: pruning runs as a
    // Spark job and only the SURVIVING entries ever reach the driver
    val header = readHeader(fs, root, v)
    asOfVersion.foreach(_ => requireVisible(fs, path, v, header))
    val pred = preds.map(residual(decodeSchema(header.schemaJson), _))
      .reduce(_ && _)
    val keep =
      if (header.nFiles >= entryCheckpointThreshold) {
        checkpointEntries(spark, path, v): Unit // once per version
        pruneEntriesJob(spark, path, v, preds).getOrElse(
          pruneEntriesWhere(readEntries(spark, path, v), preds))
      } else pruneEntriesWhere(readEntries(spark, path, v), preds)
    if (header.nFiles == 0) emptyOf(spark, header.schemaJson)
    else if (keep.isEmpty) emptyOf(spark, header.schemaJson).where(pred)
    else
      maskedRead(spark, header.schemaJson, path, keep).where(pred)
  }

  /** The row filter a file predicate stands for, over a table of
    * `schema`: span-domain values turn back into literals of the
    * column's type (epoch days → DATE, [[TsMicros]] → TIMESTAMP). */
  private def residual(schema: StructType, p: ExactPred): Column = {
    def lit1(c: String, v: Any): Column =
      (v, schema.find(_.name == c).map(_.dataType)) match {
        case (TsMicros(us), Some(TimestampNTZType)) =>
          lit(DateTimeUtils.microsToLocalDateTime(us))
        case (TsMicros(us), _) => lit(DateTimeUtils.microsToInstant(us))
        case (d: Long, Some(DateType)) =>
          lit(java.time.LocalDate.ofEpochDay(d))
        case _ => lit(v)
      }
    p match {
      case ExactRange(c, lo, hi) =>
        (Seq(col(c).isNotNull) ++
          lo.map { case (v, incl) =>
            if (incl) col(c) >= lit1(c, v) else col(c) > lit1(c, v) } ++
          hi.map { case (v, incl) =>
            if (incl) col(c) <= lit1(c, v) else col(c) < lit1(c, v) }
        ).reduce(_ && _)
      case ExactIn(c, vs) => col(c).isin(vs.map(lit1(c, _)): _*)
      case ExactNotIn(c, vs) =>
        col(c).isNotNull && !col(c).isin(vs.map(lit1(c, _)): _*)
      case ExactNotNull(c) => col(c).isNotNull
      case ExactIsNull(c) => col(c).isNull
      case ExactOr(alts) => alts.map(_.map(residual(schema, _))
        .reduceOption(_ && _).getOrElse(lit(true))).reduce(_ || _)
    }
  }

  /** The manifest-side pruning decision of [[prunedRead]], exposed for
    * specs and for callers composing their own reads: the entries of
    * `entries` a range predicate `[lo, hi]` on `column` might match. */
  def pruneEntries(entries: Seq[FileEntry], column: String,
      lo: Any, hi: Any): Seq[FileEntry] =
    pruneEntriesWhere(entries, Seq(ExactRange.between(column, lo, hi)))

  /** Conjunctive manifest-side pruning: the entries no predicate
    * classifies all-out ([[classifyEntry]]). Incomparable or
    * uncollected spans keep the file. */
  def pruneEntriesWhere(entries: Seq[FileEntry],
      preds: Seq[ExactPred]): Seq[FileEntry] =
    entries.filter(keeps(_, preds))

  private def keeps(e: FileEntry, preds: Seq[ExactPred]): Boolean =
    !preds.exists(classifyEntry(e, _).contains(false))

  // ---- parquet entry checkpoint (planning beyond driver scale) -------

  /** Above this many manifest entries, [[prunedReadWhere]] plans
    * through the PARQUET ENTRY CHECKPOINT instead of a driver-side
    * parse. Measured (`ScaleProbe vtplan`): the text parse is ~0.06 s
    * at 100k entries but ~2.0 s at 1M — a 125 TB table at 128 MB
    * files — while the checkpointed prune is a small Spark job that
    * collects only the SURVIVORS. Delta's `checkpoint.parquet`
    * posture, applied to the file list. Var (not val) only so specs
    * can exercise the job path on small fixtures. */
  private[graft] var entryCheckpointThreshold: Int = 200000

  private def entryCkptDir(root: Path, v: Int): Path =
    new Path(root, f"$LogDir/v$v%05d.entries.parquet")

  private val ckptSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("stats", MapType(StringType, ArrayType(StringType))),
    // deletion vector (null = none); old checkpoints lack the columns
    // and read as null through the explicit schema — correct, they
    // predate DVs
    StructField("dv_file", StringType, nullable = true),
    StructField("dv_n", LongType, nullable = true),
    // per-column null counts (null = written before the field / none
    // known) — must round-trip, or job-pruned planning would lose the
    // all-in proofs the metadata count needs
    StructField("nulls", MapType(StringType, LongType),
      nullable = true),
    // per-column exact sums (plain decimal strings; "N" = no non-null
    // rows) — same round-trip argument as `nulls` for sum folds
    StructField("sums", MapType(StringType, StringType),
      nullable = true),
    // per-column exact distinct value sets (encoded span values;
    // empty array = no non-null values; column absent = unknown) —
    // round-trips so job-pruned planning keeps the distinct folds
    StructField("dsets", MapType(StringType, ArrayType(StringType)),
      nullable = true),
    // per-column HLL++ NDV sketches (base64 register words, the
    // manifest's `h` encoding; column absent = not harvested) —
    // round-trips so job-pruned planning keeps the approx-NDV folds
    StructField("ndvs", MapType(StringType, StringType),
      nullable = true)))

  /** Write the parquet ENTRY CHECKPOINT for `version` if absent: the
    * manifest's file list as a columnar table readable as a Spark job
    * (spans ride in their manifest field encoding). Content-
    * deterministic and derived, so publication needs no manifest-grade
    * commit point: write to a temp dir, rename into place, losers
    * discard; readers require the `_SUCCESS` marker and fall back to
    * the manifest text otherwise. Returns true when THIS call created
    * it. Created lazily by [[prunedReadWhere]] on the first planned
    * read past [[entryCheckpointThreshold]] — one parse per version,
    * amortized over every later read. */
  def checkpointEntries(spark: SparkSession, path: String,
      version: Int): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dest = entryCkptDir(root, version)
    if (fs.exists(new Path(dest, "_SUCCESS"))) return false
    val entries = readEntries(spark, path, version)
    val rows = entries.map { e =>
      org.apache.spark.sql.Row(e.name, e.nRows, e.size,
        e.stats.map { case (c, s) =>
          c -> (s match {
            case None => Seq("N", "N")
            case Some((mn, mx)) => Seq(encode(mn), encode(mx))
          })
        },
        e.dv.map(_._1).orNull,
        e.dv.map(d => java.lang.Long.valueOf(d._2)).orNull,
        if (e.nulls.isEmpty) null else e.nulls,
        if (e.sums.isEmpty) null
        else e.sums.map { case (c, s) =>
          c -> s.map(_.toPlainString).getOrElse("N") },
        if (e.dsets.isEmpty) null
        else e.dsets.map { case (c, vs) =>
          c -> vs.toSeq.map(encode).sorted },
        if (e.ndvs.isEmpty) null
        else e.ndvs.map { case (c, ws) => c -> encodeWords(ws) })
    }
    val slices = math.max(1, math.min(rows.size, 32))
    val tmp = new Path(root,
      f"$LogDir/.v$version%05d.entries.${java.util.UUID.randomUUID}.tmp")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, slices), ckptSchema)
      .write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(dest) || !fs.rename(tmp, dest)) {
      fs.delete(tmp, true) // lost a concurrent write of identical bytes
      false
    } else true
  }

  /** Manifest pruning AS A SPARK JOB over the entry checkpoint: the
    * distributed equivalent of [[pruneEntriesWhere]] — the same
    * [[classifyEntry]] verdict per entry, evaluated where the
    * checkpoint rows live, collecting only the SURVIVORS to the
    * driver (planning cost O(matching files), not O(table files)).
    * None when no completed checkpoint exists for `version` (callers
    * fall back to the driver-side parse). */
  def pruneEntriesJob(spark: SparkSession, path: String, version: Int,
      preds: Seq[ExactPred]): Option[Seq[FileEntry]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dest = entryCkptDir(root, version)
    if (!fs.exists(new Path(dest, "_SUCCESS"))) return None
    val ps = preds // serializable case classes; captured by the udf
    // the row count and null counts ride along: classification reads
    // a zero-row file as all-out and IS NULL decides on null counts
    val keepUdf = udf { (nRows: Long, stats: Map[String, Seq[String]],
        nulls: Map[String, Long], dsets: Map[String, Seq[String]]) =>
      keeps(FileEntry("", nRows, decodeCkptStats(stats),
        nulls = if (nulls == null) Map.empty else nulls,
        dsets = if (dsets == null) Map.empty
          else dsets.map { case (c, vs) =>
            c -> vs.iterator.map(decode).toSet }), ps)
    }
    val survivors = spark.read.schema(ckptSchema).parquet(dest.toString)
      .where(keepUdf(col("n_rows"), col("stats"), col("nulls"),
        col("dsets")))
      .collect()
      .map { r =>
        FileEntry(r.getString(0), r.getLong(1),
          decodeCkptStats(r.getAs[Map[String, Seq[String]]](3)),
          r.getLong(2),
          dv = if (r.isNullAt(4)) None
               else Some((r.getString(4), r.getLong(5))),
          nulls = if (r.isNullAt(6)) Map.empty
            else r.getAs[Map[String, Long]](6),
          sums = if (r.isNullAt(7)) Map.empty
            else r.getAs[Map[String, String]](7).map { case (c, v) =>
              c -> (if (v == "N") None
                else Some(new java.math.BigDecimal(v)))
            },
          dsets = if (r.length <= 8 || r.isNullAt(8)) Map.empty
            else r.getAs[Map[String, scala.collection.Seq[String]]](8)
              .map { case (c, vs) =>
                c -> vs.iterator.map(decode).toSet
              },
          ndvs = if (r.length <= 9 || r.isNullAt(9)) Map.empty
            else r.getAs[Map[String, String]](9)
              .map { case (c, s) => c -> decodeWords(s) })
      }.toSeq
    Some(survivors)
  }

  private def decodeCkptStats(
      stats: Map[String, scala.collection.Seq[String]])
      : Map[String, Option[(Any, Any)]] =
    if (stats == null) Map.empty
    else stats.map { case (c, fields) =>
      fields.toSeq match {
        case Seq("N", _) => c -> None
        case Seq(mn, mx) => c -> Some((decode(mn), decode(mx)))
        case _ => c -> None
      }
    }

  /** Membership prune via parquet FOOTER BLOOM FILTERS (written for
    * every indexed column by [[stageAndPublish]]): keep only the
    * entries whose file MIGHT contain one of `values` in `column` —
    * the layer between the manifest span prune (useless when keys are
    * scattered, the common CDC shape) and the exact key probe (a full
    * key-column scan of every candidate). A bloom is a few KB against
    * a multi-MB column chunk, so at 100 TB this turns merge discovery
    * from "read every candidate's key column" into "read every
    * candidate's footer" — and the probe RUNS AS A SPARK JOB over the
    * file list, never a driver loop over 100k footers. Conservative
    * throughout: a missing bloom, an untestable value type, or any
    * block reporting "maybe" keeps the file. */
  private[graft] def bloomPrune(spark: SparkSession, path: String,
      entries: Seq[FileEntry], column: String,
      values: Seq[Any]): Seq[FileEntry] = {
    if (entries.isEmpty || values.isEmpty) return entries
    val conf = spark.sessionState.newHadoopConf()
    import scala.jdk.CollectionConverters._
    // Hadoop Configuration is not serializable; ship its entries and
    // rebuild per partition (public-API equivalent of Spark's internal
    // SerializableConfiguration).
    val confEntries = conf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    val bcConf = spark.sparkContext.broadcast(confEntries)
    val bcVals = spark.sparkContext.broadcast(values.toArray)
    val names = entries.map(_.name)
    val slices = math.max(1, math.min(names.size, 64))
    val kept = spark.sparkContext.parallelize(names, slices)
      .mapPartitions { it =>
        val c = new Configuration(false)
        bcConf.value.foreach { case (k, v) => c.set(k, v) }
        val vals = bcVals.value
        it.filter(n => fileMightContain(c, s"$path/$n", column, vals))
      }.collect().toSet
    entries.filter(e => kept(e.name))
  }

  /** Executor-side single-file bloom test: false ONLY when every row
    * group carries a bloom for `column` and none reports "maybe" for
    * any value. */
  private def fileMightContain(conf: Configuration, file: String,
      column: String, values: Array[Any]): Boolean = {
    import scala.jdk.CollectionConverters._
    val reader = try ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf))
    catch { case _: java.io.IOException => return true } // conservative
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      if (!schema.containsField(column) ||
          !schema.getType(Seq(column): _*).isPrimitive)
        return true
      val prim = schema.getType(Seq(column): _*).asPrimitiveType
      // LEGACY-rebased datetimes are written as different physical
      // values than the in-memory ones (harvestSpecs declines them too)
      val legacyDt = reader.getFooter.getFileMetaData.getKeyValueMetaData
        .containsKey("org.apache.spark.legacyDateTime")
      reader.getFooter.getBlocks.asScala.exists { block =>
        block.getColumns.asScala.find(_.getPath.toDotString == column) match {
          case None => true // column absent in this block: keep
          case Some(chunk) =>
            val bf = try reader.getBloomFilterDataReader(block)
              .readBloomFilter(chunk)
            catch { case _: java.io.IOException => null }
            if (bf == null) true // no bloom written: cannot prune
            else values.exists { v =>
              bloomHash(bf, prim, legacyDt, v) match {
                case Some(h) => bf.findHash(h)
                case None => true // untestable type: keep
              }
            }
        }
      }
    } finally reader.close()
  }

  /** Hash a caller value with the bloom's own hasher, coerced to the
    * column's parquet physical type (the writer hashed physical
    * values). A DATE or TIMESTAMP value coerces by the chunk's logical
    * annotation: DATE to INT32 epoch days, TIMESTAMP MICROS/MILLIS to
    * INT64 in that unit. None = type we cannot coerce soundly (INT96,
    * a LEGACY-rebased write, a mismatched annotation) — conservative. */
  private def bloomHash(
      bf: org.apache.parquet.column.values.bloomfilter.BloomFilter,
      prim: org.apache.parquet.schema.PrimitiveType, legacyDt: Boolean,
      v: Any): Option[Long] = (prim.getPrimitiveTypeName, v) match {
    case (_, _: java.sql.Date | _: java.time.LocalDate |
        _: java.sql.Timestamp | _: java.time.Instant |
        _: java.time.LocalDateTime) =>
      if (legacyDt) None
      else (prim.getLogicalTypeAnnotation,
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToCatalyst(v)) match {
        case (_: LogicalTypeAnnotation.DateLogicalTypeAnnotation,
            days: Int) => Some(bf.hash(days))
        case (ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation,
            micros: Long)
            if ts.isAdjustedToUTC !=
              v.isInstanceOf[java.time.LocalDateTime] =>
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some(bf.hash(micros))
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some(bf.hash(Math.floorDiv(micros, 1000L)))
            case _ => None
          }
        case _ => None
      }
    case (PrimitiveTypeName.INT64, n: Number) => Some(bf.hash(n.longValue))
    case (PrimitiveTypeName.INT32, n: Number) => Some(bf.hash(n.intValue))
    case (PrimitiveTypeName.DOUBLE, n: Number) =>
      Some(bf.hash(n.doubleValue))
    case (PrimitiveTypeName.FLOAT, n: Number) => Some(bf.hash(n.floatValue))
    case (PrimitiveTypeName.BINARY, s: String) =>
      Some(bf.hash(org.apache.parquet.io.api.Binary.fromString(s)))
    case _ => None
  }

  final case class VersionInfo(version: Int, mode: String,
      txnId: Option[String], nFiles: Int, timestampMs: Long)

  /** All committed versions, ascending, with mode, transaction id,
    * file count and commit timestamp — the audit listing (`DESCRIBE
    * HISTORY` analog). Reads ONLY manifest headers — never the file
    * lists — so the listing stays cheap over a long history. */
  def versions(spark: SparkSession, path: String): Seq[VersionInfo] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    listVersionNumbers(fs, root).flatMap { v =>
      val h = readHeader(fs, root, v)
      // undecided/aborted multi-table pendings are not versions
      if (isVisible(fs, h))
        Some(VersionInfo(v, h.mode, h.txnId, h.nFiles, h.timestampMs))
      else None
    }
  }

  /** The latest version committed AT OR BEFORE `timestampMs` — Delta's
    * `timestampAsOf` resolution ("what did the table look like when
    * the report ran?"). Commit timestamps are the WRITER's wall clock
    * at the commit point (monotone per table up to clock skew between
    * writers — the same caveat Delta documents); resolution fails
    * loudly when the timestamp precedes the oldest live commit (the
    * versions that could have answered are expired or never existed).
    * Compose with [[read]]: `read(spark, path,
    * Some(versionAsOf(spark, path, ts)))`. */
  def versionAsOf(spark: SparkSession, path: String,
      timestampMs: Long): Int = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val nums = listVersionNumbers(fs, root)
    if (nums.isEmpty)
      throw new IllegalStateException(s"no committed versions at $path")
    // scan NEWEST-first: time-travel targets are usually recent, and
    // each probe is a header-only read
    nums.reverseIterator
      .find { v =>
        val h = readHeader(fs, root, v)
        isVisible(fs, h) && h.timestampMs <= timestampMs
      }
      .getOrElse(throw new IllegalArgumentException(
        s"no version at $path committed at or before $timestampMs " +
          s"(oldest live commit: v${nums.head} at " +
          s"${readHeader(fs, root, nums.head).timestampMs} — earlier " +
          "history is expired or never existed)"))
  }

  /** Drop all but the last `keepLast` versions: delete their manifests
    * and every data file no RETAINED version references. Time travel
    * to an expired version then fails loudly (manifest gone) instead
    * of returning partial data; an incremental consumer holding an
    * expired watermark gets the distinguishable
    * [[VersionExpiredException]] from [[readAppendsSince]]. */
  def expire(spark: SparkSession, path: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val all = listVersionNumbers(fs, root)
    expireVersions(spark, fs, root, path,
      all.dropRight(keepLast))
  }

  /** TTL retention ([[expire]] by AGE): drop every version whose
    * commit timestamp is older than `ttlMs`, always keeping at least
    * the last `keepLast` regardless of age (the latest version never
    * expires). The policy any
    * "retain 7 days of history" deployment actually runs. */
  def expireOlderThan(spark: SparkSession, path: String, ttlMs: Long,
      keepLast: Int = 1): Unit = {
    require(ttlMs >= 0 && keepLast >= 1, s"bad args: $ttlMs, $keepLast")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val all = listVersionNumbers(fs, root)
    val cutoff = System.currentTimeMillis() - ttlMs
    // drops must be a contiguous PREFIX of history: a dropped MIDDLE
    // version would hide its commit mode from incremental readers'
    // window checks (a vanished delete would silently corrupt a file
    // diff). takeWhile stops at the first young-enough version, which
    // also makes writer clock skew harmless here.
    expireVersions(spark, fs, root, path,
      all.dropRight(keepLast)
        .takeWhile(v => readHeader(fs, root, v).timestampMs < cutoff))
  }

  private def expireVersions(spark: SparkSession, fs: FileSystem,
      root: Path, path: String, drop0: Seq[Int]): Unit = {
    // retention must never destroy an UNDECIDED multi-table pending —
    // the txn could still commit, and its manifest is the only record
    // of what it staged. Decided pendings expire like any version
    // (aborted ones are pure cleanup). Trim the drop prefix there.
    val drop = drop0.takeWhile { v =>
      readHeader(fs, root, v).pendingTxn
        .forall(uri => txnDecision(fs, uri).nonEmpty)
    }
    if (drop.isEmpty) return
    val keep = listVersionNumbers(fs, root).filterNot(drop.toSet)
    // artifacts = data files + DV sidecars: a sidecar lives exactly as
    // long as a retained manifest references it
    val retained = keep.flatMap(v =>
      artifactNames(readEntries(spark, path, v))).toSet
    val dead = drop.flatMap(v =>
      artifactNames(readEntries(spark, path, v))).toSet -- retained
    dead.foreach(n => fs.delete(new Path(root, n), false))
    // segment files live exactly as long as a retained manifest
    // references them (reuse chains a segment across many versions)
    val retainedSegs = keep.flatMap(v => segmentRefsOf(fs, root, v)).toSet
    val deadSegs = drop.flatMap(v =>
      segmentRefsOf(fs, root, v)).toSet -- retainedSegs
    deadSegs.foreach(n =>
      fs.delete(new Path(root, s"$LogDir/$n"), false))
    drop.foreach { v =>
      fs.delete(new Path(root, f"$LogDir/v$v%05d.manifest"), false)
      // the version's derived entry checkpoint (if any) dies with it
      fs.delete(entryCkptDir(root, v), true)
    }
  }

  /** OPTIMIZE: rewrite the latest version's (typically many small,
    * per-batch) files into ~`targetFileBytes` files, committed as a
    * new OVERWRITE version — so compaction is ROLLBACK-ABLE (the
    * pre-compaction version stays time-travelable until [[expire]])
    * and never races readers (they hold a manifest). The streaming
    * sink's natural failure mode — one small file per micro-batch —
    * is repaired by running this periodically; [[Compact]] is the
    * equivalent for plain dirs, where the swap must be in-place.
    *
    * `clusterBy` is OPTIMIZE ... ZORDER BY as a versioned commit: one
    * column range-clusters + sorts (tight single-dim spans, any
    * orderable type), 2-4 columns route through [[ZOrder]]'s
    * bit-interleaved curve (NUMERIC dimensions — ZOrder's quantile
    * bucketing contract) so the per-file spans stay tight on EVERY
    * listed dimension. Because the
    * manifest re-harvests footer stats for the rewritten files, a
    * clustered compaction directly upgrades [[prunedRead]]'s file
    * skipping — the Delta OPTIMIZE ZORDER loop, commit-logged and
    * rollback-able here.
    *
    * Commits as mode `optimize` (content-invisible: the change feed of
    * a compaction is EMPTY, not a full-table delete+insert storm). Like
    * every OPTIMIZE verb it is advisory ([[commitRewrite]]): a lost race
    * returns the current version — compact again later — and never
    * retries, which could replace a concurrent writer's commit with
    * pre-compaction content. */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Seq.empty): Int = {
    require(targetFileBytes > 0, s"bad target: $targetFileBytes")
    commitRewrite(spark, path, "optimize", "compact",
        advisory = true) { b =>
      val bytes = files(spark, path, b.v)
        .map(n => b.fs.getFileStatus(new Path(b.root, n)).getLen).sum
      Some(Change(Seq.empty, stage = Some(packOut(
        read(spark, path, Some(b.v)), clusterBy,
        filesFor(bytes, targetFileBytes)))))
    }
  }

  /** The OPTIMIZE family's output shape: `nOut` files, clustered on
    * `clusterBy` when given ([[clusterOut]]). */
  private def packOut(df: DataFrame, clusterBy: Seq[String],
      nOut: Int): DataFrame =
    if (clusterBy.isEmpty) df.repartition(nOut)
    else clusterOut(df, clusterBy, nOut)

  /** Output files for `bytes` at ~`targetFileBytes` each (at least 1). */
  private def filesFor(bytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

  /** Incremental OPTIMIZE: rewrite ONLY the files smaller than
    * `smallFileBytes` into ~`targetFileBytes` outputs and carry every
    * already-right-sized file BY REFERENCE — Delta's bin-packing
    * OPTIMIZE posture. After a day of streaming commits on a 100 TB
    * table, [[compact]]'s full rewrite pays the whole table; this pays
    * only the day's small-file debris, which is the entire point of
    * periodic OPTIMIZE. Commits as mode `optimize` (non-append — its
    * file diff is not row-level adds, so incremental readers refuse or
    * skip it per their policy). Returns the new version, or the
    * current one untouched when fewer than two small files exist
    * (nothing worth packing) or a racing writer won the slot
    * (advisory, as [[compact]]). */
  def compactSmall(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 32L * 1024 * 1024): Int = {
    require(targetFileBytes > 0 && smallFileBytes > 0,
      s"bad sizes: $targetFileBytes, $smallFileBytes")
    commitRewrite(spark, path, "optimize", "compactSmall",
        advisory = true) { b =>
      val sized = b.entries.map(e =>
        e -> b.fs.getFileStatus(new Path(b.root, e.name)).getLen)
      val (small, big) = sized.partition(_._2 < smallFileBytes)
      if (small.size < 2) None
      else Some(Change(big.map(_._1), stage = Some(packOut(
        // masked: packing a DV-carrying small file MATERIALIZES its vector
        maskedRead(spark, b.schemaJson, path, small.map(_._1)), Seq.empty,
        filesFor(small.map(_._2).sum, targetFileBytes)))))
    }
  }

  /** SCOPED OPTIMIZE (Delta's `OPTIMIZE ... WHERE`): re-cluster ONLY
    * the files whose manifest spans might hold predicate-matching rows
    * ([[pruneEntriesWhere]] — pure manifest set logic, no data read
    * for discovery) and carry every other file BY REFERENCE. The
    * operator's cost is O(selected span), so one hot partition of a
    * 100 TB table re-clusters without paying the table —
    * [[compact]]'s full rewrite is the degenerate whole-table case,
    * [[compactSmall]] the size-scoped one, this the predicate-scoped
    * one. Selection is FILE-level: every row of a selected file is
    * rewritten (clustered on `clusterBy`), so the commit is
    * content-invisible regardless of how conservatively the spans
    * select. Commits as mode `optimize` (non-append; incremental
    * readers refuse or skip per policy). Returns the current version
    * untouched when fewer than two files are selected; a lost manifest
    * race is an advisory no-op like [[compactSmall]]. */
  def compactWhere(spark: SparkSession, path: String,
      preds: Seq[ExactPred],
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Seq.empty): Int = {
    require(preds.nonEmpty, "compactWhere: no predicates — use " +
      "compact() for the whole-table rewrite")
    require(targetFileBytes > 0, s"bad target: $targetFileBytes")
    commitRewrite(spark, path, "optimize", "compactWhere",
        advisory = true) { b =>
      val selected = pruneEntriesWhere(b.entries, preds)
      if (selected.size < 2) None
      else {
        val selNames = selected.map(_.name).toSet
        val bytes = selected
          .map(e => b.fs.getFileStatus(new Path(b.root, e.name)).getLen).sum
        Some(Change(b.entries.filterNot(e => selNames(e.name)),
          stage = Some(packOut(
            // masked: a scoped compaction materializes the span's vectors
            maskedRead(spark, b.schemaJson, path, selected), clusterBy,
            filesFor(bytes, targetFileBytes)))))
      }
    }
  }

  /** Merge the version's per-file NDV register words for `col` under
    * `helper`'s layout — THE one decline contract every consumer
    * (fold, seeded hybrid, procedure) shares: None when any live file
    * lacks a sketch at that layout or carries a deletion vector;
    * register max is order-free, so the merged words are bit-
    * identical to a scan-side `approx_count_distinct` buffer. Zero
    * data files read. */
  private[graft] def ndvMergedWords(entries: Seq[FileEntry],
      col: String,
      helper: org.apache.spark.sql.catalyst.util
        .HyperLogLogPlusPlusHelper): Option[Seq[Long]] = {
    val n = helper.numWords
    val buf = new org.apache.spark.sql.catalyst.expressions
      .SpecificInternalRow(Seq.fill(n)(
        org.apache.spark.sql.types.LongType))
    var i = 0
    while (i < n) { buf.setLong(i, 0L); i += 1 }
    entries.foreach { e =>
      if (e.dv.exists(_._2 > 0)) return None
      if (e.nRows != 0L) {
        val ws = e.ndvOf(col).getOrElse(return None)
        if (ws.size != n) return None
        helper.merge(buf, new org.apache.spark.sql.catalyst
          .expressions.GenericInternalRow(
            ws.map(w => w: Any).toArray), 0, 0)
      }
    }
    Some((0 until n).map(buf.getLong))
  }

  private[graft] def ndvHelperFor(rsd: Double)
      : Option[org.apache.spark.sql.catalyst.util
        .HyperLogLogPlusPlusHelper] =
    try Some(new org.apache.spark.sql.catalyst.util
      .HyperLogLogPlusPlusHelper(rsd))
    catch { case scala.util.control.NonFatal(_) => None }

  /** The helper matching a RECORDED word count — the rsd→word-count
    * map is strictly monotone in the register exponent p, so the
    * stored length identifies the layout; 1.106/2^(p/2) is exactly
    * the rsd the helper's own p formula rounds to p. Lets consumers
    * that have no query rsd (the `ndv` procedure) read sketches
    * written at ANY precision. */
  private[graft] def ndvHelperForWords(words: Int)
      : Option[org.apache.spark.sql.catalyst.util
        .HyperLogLogPlusPlusHelper] =
    (4 to 24).iterator
      .flatMap(p => ndvHelperFor(1.106 / math.pow(2.0, p / 2.0)))
      .find(_.numWords == words)

  /** Merge the version's per-file NDV sketches for `col` and
    * estimate at the query precision `rsd` — the
    * [[graft.plans.VtMetadataAgg]] fold's contract as a library
    * call. */
  def ndvEstimate(entries: Seq[FileEntry], col: String,
      rsd: Double = 0.05): Option[Long] =
    ndvHelperFor(rsd).flatMap(h => ndvMergedWords(entries, col, h)
      .map(ws => h.query(new org.apache.spark.sql.catalyst
        .expressions.GenericInternalRow(
          ws.map(w => w: Any).toArray), 0)))

  /** [[ndvEstimate]] at whatever precision the table's sketches were
    * WRITTEN at (inferred from the recorded word count) — what
    * `CALL graft.ndv` uses, so a non-default
    * `spark.graft.ndvSketch.rsd` table still profiles. */
  def ndvEstimateAuto(entries: Seq[FileEntry], col: String)
      : Option[Long] =
    entries.find(e => e.nRows != 0L && e.ndvs.contains(col))
      .map(_.ndvs(col).size) match {
      case None =>
        // no live sketch-carrying file: empty table estimates 0 only
        // when every file is provably empty
        if (entries.forall(_.nRows == 0L)) Some(0L) else None
      case Some(w) => ndvHelperForWords(w)
        .flatMap(h => ndvMergedWords(entries, col, h)
          .map(ws => h.query(new org.apache.spark.sql.catalyst
            .expressions.GenericInternalRow(
              ws.map(x => x: Any).toArray), 0)))
    }

  /** One row of operational metadata for [[describeDetail]] — what a
    * maintenance operator sizes vacuum/optimize/decay decisions on. */
  final case class TableDetail(nFiles: Int, liveRows: Long,
      totalBytes: Long, dvFiles: Int, maskedRows: Long,
      columnMapping: Boolean, retiredColumns: Int,
      statsCols: Seq[String], timestampMs: Long)

  /** DESCRIBE DETAIL of one committed version: file/row/byte totals
    * and the deletion-vector / column-mapping feature state, read from
    * the manifest alone (byte totals fall back to one file-status
    * sweep only for entries predating the size field). */
  def describeDetail(spark: SparkSession, path: String,
      version: Int): TableDetail = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val header = readHeader(fs, root, version)
    requireVisible(fs, path, version, header)
    val entries = readEntries(spark, path, version)
    val (st, retired) = decodeSchemaFull(header.schemaJson)
    TableDetail(
      nFiles = entries.size,
      liveRows = countRowsOf(entries),
      totalBytes = entries.map(e =>
        if (e.size >= 0) e.size
        else fs.getFileStatus(new Path(root, e.name)).getLen).sum,
      dvFiles = entries.count(_.dv.nonEmpty),
      maskedRows = entries.flatMap(_.dv.map(_._2)).sum,
      columnMapping = schemaHasMapping(st),
      retiredColumns = retired.size,
      statsCols = header.statsCols,
      timestampMs = header.timestampMs)
  }

  /** DV-DECAY POLICY: materialize the deletion vectors of ONLY the
    * files whose MASKED FRACTION (`nDeleted / nRows`, read from the
    * manifest alone — no data touched for the decision) exceeds
    * `maxMaskedFraction`. A heavily-masked file pays its mask on every
    * scan and its dead bytes on every read, so steady DV traffic
    * (deletes, CDC merges) needs this bound the same way steady
    * appends need [[compactSmall]]; lightly-masked files keep their
    * delta-sized vectors — rewriting them would cost more than the
    * masks ever will. The repair is a scoped rewrite exactly like
    * [[compactWhere]]'s: decayed files re-pack masked (vectors gone),
    * every healthy file carries BY REFERENCE, one rollback-able
    * `optimize` commit. Returns `Some(newVersion)` when it rewrote,
    * `None` when every mask is under the bound (or a concurrent
    * commit won the slot — advisory maintenance never retry-loops
    * against live writers). */
  def materializeDvAbove(spark: SparkSession, path: String,
      maxMaskedFraction: Double = 0.3,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Seq.empty): Option[Int] =
    materializeDvAboveMeasured(spark, path, maxMaskedFraction,
      targetFileBytes, clusterBy)._2

  /** [[materializeDvAbove]] also returning the decayed-file count the
    * decision was actually made on — ONE manifest read serves both, so
    * a reporter (`CALL graft.materialize_dv`) can never pair a
    * re-measured count with a decision taken on different data under
    * concurrent commits. */
  def materializeDvAboveMeasured(spark: SparkSession, path: String,
      maxMaskedFraction: Double = 0.3,
      targetFileBytes: Long = 128L * 1024 * 1024,
      clusterBy: Seq[String] = Seq.empty): (Int, Option[Int]) = {
    require(maxMaskedFraction > 0 && maxMaskedFraction <= 1,
      s"maxMaskedFraction must be in (0, 1]: $maxMaskedFraction")
    require(targetFileBytes > 0, s"bad target: $targetFileBytes")
    var base = -1
    var nDecayed = 0
    val v2 = commitRewrite(spark, path, "optimize", "materializeDvAbove",
        advisory = true) { b =>
      base = b.v
      val (decayed, carried) = b.entries.partition(e =>
        e.dv.exists(d => e.nRows > 0 &&
          d._2.toDouble / e.nRows > maxMaskedFraction))
      nDecayed = decayed.size
      if (decayed.isEmpty) None
      else {
        // manifest sizes first — one metadata RPC per file only for
        // entries predating the size field
        val bytes = decayed.map(e =>
          if (e.size >= 0) e.size
          else b.fs.getFileStatus(new Path(b.root, e.name)).getLen).sum
        Some(Change(carried, stage = Some(packOut(
          maskedRead(spark, b.schemaJson, path, decayed), clusterBy,
          filesFor(bytes, targetFileBytes)))))
      }
    }
    (nDecayed, Some(v2).filter(_ != base))
  }

  /** CLUSTERING-DECAY metric of a stats column, computed from the
    * MANIFEST ALONE (one small read, zero data I/O at any table size):
    * the expected number of files a uniformly-random point predicate
    * on `column` must open — `sum(per-file span width) / global span
    * width` for numeric spans. A perfectly range-clustered layout
    * scores ~1.0 (each point hits one file); a fully scattered one
    * scores ~nFiles (every file spans everything, pruning is blind).
    * This is the number steady append/CDC traffic silently degrades
    * between OPTIMIZE runs.
    *
    * `None` when the metric is undecidable from metadata: no files, a
    * zero-width global span, a string-typed column (widths are not
    * defined), or any row-bearing file without collected stats. */
  def clusteringDecay(spark: SparkSession, path: String,
      column: String, asOfVersion: Option[Int] = None): Option[Double] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = asOfVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(throw new IllegalStateException(
        s"no committed versions at $path"))
    asOfVersion.foreach(_ =>
      requireVisible(fs, path, v, readHeader(fs, root, v)))
    val entries = readEntries(spark, path, v).filter(_.nRows != 0)
    if (entries.isEmpty) return None
    def num(a: Any): Option[Double] = a match {
      case l: Long => Some(l.toDouble)
      case d: Double => Some(d)
      case _ => None
    }
    val spans = entries.map(_.stats.get(column) match {
      case Some(Some((mn, mx))) =>
        for (a <- num(mn); b <- num(mx)) yield (a, b)
      case _ => None
    })
    if (spans.exists(_.isEmpty)) return None
    val widths = spans.flatten
    val lo = widths.map(_._1).min
    val hi = widths.map(_._2).max
    if (hi <= lo) return None // degenerate global span
    Some(widths.map { case (a, b) => (b - a) / (hi - lo) }.sum)
  }

  /** RECLUSTER POLICY: re-cluster the table on `column` IFF its
    * measured [[clusteringDecay]] exceeds `maxDecayPerFile × nFiles`
    * — the maintenance loop a CDC-fed table needs so steady merge
    * traffic cannot silently rot [[prunedRead]]'s file skipping. The
    * decision costs one manifest read; the repair is a [[compact]]
    * with `clusterBy` (a rollback-able versioned commit that also
    * MATERIALIZES any deletion vectors). Undecidable decay (no stats)
    * triggers when `reclusterOnUnknown` (a table that cannot prune is
    * exactly the one to repair). Returns Some(newVersion) when it
    * re-clustered, None when the layout was still healthy. */
  def maintainClustering(spark: SparkSession, path: String,
      column: String, maxDecayPerFile: Double = 0.3,
      targetFileBytes: Long = 128L * 1024 * 1024,
      reclusterOnUnknown: Boolean = false): Option[Int] =
    maintainClusteringMeasured(spark, path, column, maxDecayPerFile,
      targetFileBytes, reclusterOnUnknown)._2

  /** [[maintainClustering]] also returning the [[clusteringDecay]] the
    * decision was actually made on — ONE manifest read serves both, and
    * a reporter (`CALL graft.recluster`) can never pair a re-measured
    * decay with a decision taken on different data under concurrent
    * commits. */
  def maintainClusteringMeasured(spark: SparkSession, path: String,
      column: String, maxDecayPerFile: Double = 0.3,
      targetFileBytes: Long = 128L * 1024 * 1024,
      reclusterOnUnknown: Boolean = false)
      : (Option[Double], Option[Int]) = {
    require(maxDecayPerFile > 0 && maxDecayPerFile <= 1,
      s"maxDecayPerFile must be in (0, 1]: $maxDecayPerFile")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v = latestVisible(fs, root, forWrite = false).getOrElse(
      throw new IllegalStateException(s"no committed versions at $path"))
    val nFiles = readHeader(fs, root, v).nFiles
    val decay = clusteringDecay(spark, path, column, Some(v))
    if (nFiles < 2) // one file prunes as well as it ever will
      return (decay, None)
    val decayed = decay match {
      case Some(d) => d > maxDecayPerFile * nFiles
      case None => reclusterOnUnknown
    }
    (decay,
      if (!decayed) None
      else Some(compact(spark, path, targetFileBytes, Seq(column))))
  }

  /** INCREMENTAL consumption: the rows ADDED after `fromVersion` (up
    * to `toVersion`, default latest) — resolved as the FILE DIFF of
    * the two manifests, so the read costs O(delta), never a rescan of
    * history. This is what a downstream pipeline polls between runs
    * ("give me what landed since my last watermark version"), what
    * [[graft.sources.VtStreamSource]] feeds each micro-batch from,
    * and what a backfill replays commit by commit.
    *
    * Sound only while every intervening commit is an APPEND (files
    * strictly accumulate, so new files ⇔ new rows); an overwrite,
    * delete, merge, or compaction in the window makes the file diff no
    * longer row-level adds, and the call refuses LOUDLY rather than
    * return wrong rows — re-baseline from a full read of the newer
    * version instead. A `fromVersion` that [[expire]] already dropped
    * raises the distinguishable [[VersionExpiredException]] — the
    * "your watermark aged out, re-baseline" signal, not a crash. */
  def readAppendsSince(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Option[Int] = None): DataFrame = {
    val w = changeWindow(spark, path, fromVersion, toVersion)
    val nonAppend = w.versions.filterNot(_._2.mode == "append")
    require(nonAppend.isEmpty,
      s"readAppendsSince($fromVersion, ${w.to}) at $path crosses " +
        s"non-append commits ${nonAppend.map(v => s"v${v._1}:${v._2.mode}")
          .mkString(",")} — the file diff is not row-level adds; " +
        "re-baseline from a full read")
    val before = files(spark, path, fromVersion).toSet
    val added = files(spark, path, w.to).filterNot(before)
    val schemaJson = w.schemaJson
    if (added.isEmpty) emptyOf(spark, schemaJson)
    else schemaRead(spark, schemaJson, added.map(n => s"$path/$n"))
  }

  /** The window `(fromVersion, to]` of an incremental read, `to` being
    * `toVersion` or the latest visible version: its VISIBLE versions
    * with their headers. The one resolution [[readAppendsSince]],
    * [[readAppendsSkippingChanges]] and [[readChangesRange]] share: an
    * explicit `to` may target a pending version, so it is gated;
    * aborted holes inside the window are skipped (they never
    * happened); a `fromVersion` that [[expire]] already dropped raises
    * [[VersionExpiredException]]. */
  private final case class ChangeWindow(fs: FileSystem, root: Path,
      to: Int, versions: Seq[(Int, ManifestHeader)]) {
    def schemaJson: String = readHeader(fs, root, to).schemaJson
  }

  private def changeWindow(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Option[Int]): ChangeWindow = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live = listVersionNumbers(fs, root)
    val to = toVersion.orElse(latestVisible(fs, root, forWrite = false))
      .getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
    require(to >= fromVersion,
      s"toVersion $to precedes fromVersion $fromVersion")
    if (!live.contains(fromVersion) && live.nonEmpty &&
        fromVersion < live.head && fromVersion >= 0)
      throw new VersionExpiredException(
        s"version $fromVersion at $path has been expired from the log " +
          s"(oldest live version is ${live.head}) — the incremental " +
          "window is gone; re-baseline from a full read of the current " +
          "version")
    toVersion.foreach(t => requireVisible(fs, path, t,
      readHeader(fs, root, t)))
    ChangeWindow(fs, root, to, live.filter(v => v > fromVersion && v <= to)
      .map(v => (v, readHeader(fs, root, v)))
      .filter { case (_, h) => isVisible(fs, h) })
  }

  /** [[readAppendsSince]] that SKIPS non-append commits instead of
    * refusing — Delta's `skipChangeCommits` posture for consumers that
    * only want the append firehose and accept that a delete/merge/
    * compaction's effects are invisible to them (rows they already
    * received may since have been deleted or updated; rows a merge
    * INSERTED are skipped too). The diff is computed PER VERSION STEP
    * and only append steps contribute, so a compaction's rewritten
    * files are never mistaken for new rows — the correctness trap of
    * diffing across the whole window. Same expiry signal as the
    * strict variant. */
  def readAppendsSkippingChanges(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Option[Int] = None): DataFrame = {
    val w = changeWindow(spark, path, fromVersion, toVersion)
    var prev = files(spark, path, fromVersion).toSet
    val added = Seq.newBuilder[String]
    w.versions.foreach { case (v, h) =>
      val cur = files(spark, path, v).toSet
      if (h.mode == "append")
        added ++= (cur -- prev)
      prev = cur
    }
    val names = added.result()
    val schemaJson = w.schemaJson
    if (names.isEmpty) emptyOf(spark, schemaJson)
    else schemaRead(spark, schemaJson, names.map(n => s"$path/$n"))
  }

  /** ROW-LEVEL CHANGE FEED for one commit, DERIVED from the manifest
    * diff — no change files are ever written (the commit path pays
    * nothing; Delta's CDF writes sidecars at merge time instead):
    * because data files are immutable and manifests are full
    * snapshots, the rows a commit changed are exactly the multiset
    * difference between the files ONLY the old version references and
    * the files ONLY the new one does. Output: the table's columns
    * plus `_change_type` ('insert' | 'delete'; an update appears as
    * its delete/insert pair — classic diff semantics) and
    * `_commit_version`.
    *
    * Cost is mode-aware and O(touched), never O(table) where the
    * commit itself wasn't:
    *   - append   → the added files, all 'insert' (no diff at all)
    *   - delete/merge → files only one side references are read as
    *     that side's rows (an `exceptAll` only when a copy-on-write
    *     rewrite put files on both sides); files whose deletion vector
    *     changed are ONE masked scan: a row is a delete when the new
    *     broadcast mask kills it and the old one did not, an insert
    *     (a restore) the other way round — no shuffle, no join. Past
    *     [[dvBroadcastMaxPositions]] the masks fall back to the
    *     sidecar-frame diff (semi-joins at the `exceptAll`'d
    *     positions), as [[maskedRead]] does
    *   - optimize → empty by invariant (content-invisible), zero I/O
    *   - overwrite → full delete(v−1) ∪ insert(v), the honest cost of
    *     asking "what changed" about a table replacement
    *
    * Requires `version − 1` to be live: an expired predecessor raises
    * [[VersionExpiredException]] (the feed for that window is gone). */
  def readChanges(spark: SparkSession, path: String,
      version: Int): DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val live = listVersionNumbers(fs, root)
    require(live.contains(version),
      s"version $version was never committed (or expired) at $path")
    val header = readHeader(fs, root, version)
    requireVisible(fs, path, version, header)
    def tagged(df: DataFrame, tpe: String): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(version))
    // shapes come from the recorded schema: the version's rows (and
    // with them its masks) are read only where the feed IS its rows
    val none = tagged(emptyOf(spark, header.schemaJson), "insert")
    // the diff base is the previous VISIBLE version (an aborted
    // multi-table pending is a hole, not a predecessor)
    val prevV = prevVisible(fs, root, live, version)
    if (prevV.isEmpty) {
      // No visible predecessor. If the log truly begins here (v0, or
      // every earlier live version is an aborted hole with v0 still
      // live) the whole content IS the insert set; an EXPIRED earlier
      // history is the unrecoverable case (the log only loses a
      // prefix).
      if (version == 0 || live.head == 0)
        return tagged(read(spark, path, Some(version)), "insert")
      throw new VersionExpiredException(
        s"the visible predecessor of v$version at $path has been " +
          "expired — the change feed is unrecoverable; re-baseline")
    }
    header.mode match {
      case "append" =>
        val before = files(spark, path, prevV.get).toSet
        val added = files(spark, path, version).filterNot(before)
        if (added.isEmpty) none
        else tagged(schemaRead(spark, header.schemaJson,
          added.map(n => s"$path/$n")), "insert")
      case "optimize" | "alter" =>
        // content-invisible by construction: no row changed (a column
        // DDL reshapes the schema, not the rows — consumers pick the
        // new shape up from the version's recorded schema)
        none
      case "overwrite" =>
        // the replacement may have RESHAPED the schema: align by name,
        // null-filling columns either side lacks
        tagged(read(spark, path, Some(prevV.get)), "delete")
          .unionByName(tagged(read(spark, path, Some(version)), "insert"),
            allowMissingColumns = true)
      case _ => // delete / merge: diff ONLY the touched entries
        val beforeE = readEntries(spark, path, prevV.get)
        val afterE = readEntries(spark, path, version)
        val beforeM = beforeE.map(e => e.name -> e).toMap
        val afterM = afterE.map(e => e.name -> e).toMap
        val cols = decodeSchema(header.schemaJson).fieldNames.toSeq
        val parts = Seq.newBuilder[DataFrame]
        // name-level rewrites (file replaced or dropped outright),
        // masked under each side's own vectors. A one-sided diff is
        // that side (X ∖ ∅ = X): only a copy-on-write rewrite, with
        // files on both sides, pays the multiset diff.
        val oldOnly = beforeE.filterNot(e => afterM.contains(e.name))
        val newOnly = afterE.filterNot(e => beforeM.contains(e.name))
        def rd(es: Seq[FileEntry]) =
          maskedRead(spark, header.schemaJson, path, es)
            .select(cols.map(col): _*)
        if (newOnly.isEmpty) {
          if (oldOnly.nonEmpty) parts += tagged(rd(oldOnly), "delete")
        } else if (oldOnly.isEmpty) parts += tagged(rd(newOnly), "insert")
        else {
          parts += tagged(rd(oldOnly).exceptAll(rd(newOnly)), "delete")
          parts += tagged(rd(newOnly).exceptAll(rd(oldOnly)), "insert")
        }
        // DV transitions on files present in BOTH versions: positions
        // the new vector added are row deletes; positions it dropped
        // (a restore) are row inserts — read ONLY those rows, by
        // coordinate, never a content diff
        val dvChanged = afterE.filter(e =>
          beforeM.get(e.name).exists(b => b.dv != e.dv))
        if (dvChanged.nonEmpty) {
          val prevDv = dvChanged.map(e => beforeM(e.name))
            .filter(_.dv.nonEmpty)
          val curDv = dvChanged.filter(_.dv.nonEmpty)
          def positions(es: Seq[FileEntry]) =
            es.map(e => math.max(e.dv.get._2, 0L)).sum
          // positions ride the raw PHYSICAL scan (metadata columns
          // do not survive logicalize's projection over a
          // column-mapped schema — the maskedReadWithPos discipline),
          // then the frame is aliased back to logical names with the
          // identity columns kept.
          val base0 = physicalScan(spark, header.schemaJson,
            dvChanged.map(e => s"$path/${e.name}"))
          if (math.max(positions(prevDv), positions(curDv)) <=
              dvBroadcastMaxPositions(spark)) {
            // one scan: a row changed iff exactly one of the two
            // cached broadcast masks kills it
            def survives(es: Seq[FileEntry]) =
              if (es.isEmpty) lit(true) else dvSurvivesCol(spark, path, es)
            val (was, is) = (survives(prevDv), survives(curDv))
            val Seq(typeC) = freshCols(base0.columns.toSeq ++ cols,
              Seq("__graft_dv_change"))
            parts += logicalize(base0.where(was =!= is)
              .withColumn(typeC, when(is, "insert").otherwise("delete")),
              header.schemaJson, keep = Seq(typeC))
              .select(cols.map(col) :+ col(typeC).as("_change_type"): _*)
              .withColumn("_commit_version", lit(version))
          } else {
            val Seq(fileC, posC) = freshCols(
              base0.columns.toSeq ++ cols,
              Seq("__graft_dv_file", "__graft_dv_pos"))
            val base = logicalize(base0
              .withColumn(fileC,
                substring_index(col("_metadata.file_path"), "/", -1))
              .withColumn(posC, col("_metadata.row_index")),
              header.schemaJson, keep = Seq(fileC, posC))
            // dropDuplicates: the exceptAll below is a MULTISET diff —
            // a pre-fix sidecar carrying a (file, pos) twice must not
            // make multiplicities diverge between the two masks and
            // re-emit long-dead rows as phantom CDC events.
            def mask(dved: Seq[FileEntry]) =
              if (dved.isEmpty)
                base.limit(0).select(col(fileC), col(posC))
              else dvMask(spark, path, dved, fileC, posC)
                .dropDuplicates(fileC, posC)
            val (prevMask, curMask) = (mask(prevDv), mask(curDv))
            def at(pos: DataFrame) =
              base.join(pos, Seq(fileC, posC), "left_semi")
                .select(cols.map(col): _*)
            parts += tagged(at(curMask.exceptAll(prevMask)), "delete")
            parts += tagged(at(prevMask.exceptAll(curMask)), "insert")
          }
        }
        parts.result().reduceOption(_.unionByName(_)).getOrElse(none)
    }
  }

  /** [[readChanges]] over a half-open version window `(fromVersion,
    * toVersion]` — what a CDC consumer polls ("every row change since
    * my watermark"), one manifest-diff per commit, unioned. */
  def readChangesRange(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Option[Int] = None): DataFrame = {
    val w = changeWindow(spark, path, fromVersion, toVersion)
    // schema evolution inside the window is legal: align per-version
    // feeds by name, null-filling columns the older versions lack
    w.versions.map { case (v, _) => readChanges(spark, path, v) }
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // empty window: an up-to-date poller must get a schema-shaped
        // empty feed, never a probe of `to`'s (possibly expired)
        // predecessor
        emptyOf(spark, w.schemaJson)
          .withColumn("_change_type", lit(""))
          .withColumn("_commit_version", lit(w.to))
      }
  }

  /** Delete debris no committed version references and older than
    * `ttlMs`: data files orphaned by a crash between PUBLISH and
    * COMMIT, and staging directories (`.<table>__vt_stage_*` siblings)
    * orphaned by a crash DURING staging. TTL semantics as in
    * [[Vacuum]]: age is the only signal that no writer is coming
    * back. Returns the deleted names.
    *
    * `dryRun=true` (Delta's `VACUUM ... DRY RUN`) lists exactly what a
    * real run would delete — same listing, same TTL test — and
    * touches nothing: the operator's look-before-you-leap check that a
    * too-short TTL isn't about to eat a live committer's stage. */
  def vacuumUnreferenced(spark: SparkSession, path: String,
      ttlMs: Long, dryRun: Boolean = false): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val referenced = listVersionNumbers(fs, root)
      .flatMap(v => artifactNames(readEntries(spark, path, v))).toSet
    val now = System.currentTimeMillis()
    val orphanFiles = fs.listStatus(root).filter(_.isFile).filter { st =>
      val n = st.getPath.getName
      n.matches("v\\d{5}-.*") && !referenced.contains(n) &&
        now - st.getModificationTime > ttlMs
    }.map { st =>
      if (!dryRun) fs.delete(st.getPath, false)
      st.getPath.getName
    }.toSeq
    // crash-orphaned staging dirs are SIBLINGS of the table root (so a
    // recursive table copy never drags half-written data along); sweep
    // the ones past the TTL — a live committer's stage is younger.
    val stagePrefix = s".${root.getName}__vt_stage_"
    val parent = root.getParent
    val orphanStages =
      if (parent == null || !fs.exists(parent)) Seq.empty
      else fs.listStatus(parent).filter(_.isDirectory).filter { st =>
        st.getPath.getName.startsWith(stagePrefix) &&
          now - st.getModificationTime > ttlMs
      }.map { st =>
        if (!dryRun) fs.delete(st.getPath, true)
        st.getPath.getName
      }.toSeq
    // manifest/checkpoint temp files orphaned by a crash between their
    // write and the (atomic) promote — losers delete their own tmp, a
    // crash cannot
    val log = new Path(root, LogDir)
    val orphanTmps =
      if (!fs.exists(log)) Seq.empty
      else fs.listStatus(log).filter { st =>
        // manifest/txn-ckpt tmp FILES and entry-checkpoint tmp DIRS
        val n = st.getPath.getName
        n.startsWith(".") && n.endsWith(".tmp") &&
          now - st.getModificationTime > ttlMs
      }.map { st =>
        if (!dryRun) fs.delete(st.getPath, st.isDirectory)
        st.getPath.getName
      }.toSeq
    // segment files stranded by a crashed/lost commit: a segment is
    // only live while some manifest (pendings included — they may yet
    // commit) references it; anything else past the TTL is garbage
    val liveSegs = listVersionNumbersRaw(fs, root, ignoreDropped = true)
      .flatMap(v => segmentRefsOf(fs, root, v)).toSet
    val orphanSegs =
      if (!fs.exists(log)) Seq.empty
      else fs.listStatus(log).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.startsWith("s-") && n.endsWith(".segment") &&
          !liveSegs.contains(n) && now - st.getModificationTime > ttlMs
      }.map { st =>
        if (!dryRun) fs.delete(st.getPath, false)
        st.getPath.getName
      }.toSeq
    orphanFiles ++ orphanStages ++ orphanTmps ++ orphanSegs
  }

  /** The latest committed version, if any — one directory listing
    * plus one header read (what a poll-based consumer calls per tick;
    * multi-table pending manifests resolve through their decision,
    * cached once decided). */
  def latestVersion(spark: SparkSession, path: String): Option[Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    latestVisible(fs, root, forWrite = false)
  }

  /** The exact file list of a committed version. */
  def files(spark: SparkSession, path: String, version: Int): Seq[String] =
    readEntries(spark, path, version).map(_.name)

  /** Gate an EXPLICIT-version load on multi-table-txn visibility — the
    * same check [[read]]/[[readFileSlice]] apply internally, exposed
    * for callers that plan from [[files]]/[[schemaOf]] directly (the
    * SQL catalog's `VERSION AS OF`): a raw manifest number can name an
    * UNDECIDED or ABORTED pending manifest whose data must never leak
    * to a reader. */
  def requireVisibleVersion(spark: SparkSession, path: String,
      version: Int): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    requireVisible(fs, path, version, readHeader(fs, root, version))
  }

  /** The file entries (names + row counts + stats spans) of a
    * committed version. */
  def readEntries(spark: SparkSession, path: String,
      version: Int): Seq[FileEntry] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val mf = new Path(root, f"$LogDir/v$version%05d.manifest")
    // committed manifests are immutable, so the PARSED entry list is
    // cacheable — one query over a catalog table otherwise parses the
    // same manifest several times (table load, optimizer folds, the
    // clean-scan rewrite's read plan), and at 800k files each parse
    // is ~2 s of driver time. The key carries the manifest's
    // (mtime, length): a DROP + re-CREATE at the same path mints a
    // NEW v0 manifest whose status differs, so stale entries can
    // never serve. The status probe doubles as the existence check.
    val status =
      try fs.getFileStatus(mf)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"requirement failed: version $version was never " +
              s"committed (or expired) at $path")
      }
    val cacheKey =
      s"$mf@${status.getModificationTime}:${status.getLen}"
    val cached = entriesCache.get(cacheKey)
    if (cached != null) {
      entriesCacheHitsVar.incrementAndGet()
      return cached
    }
    val out0 = readEntriesUncached(fs, root, mf)
    if (entriesCache.putIfAbsent(cacheKey, out0) == null &&
        entriesCacheCount.addAndGet(math.max(1L, out0.size.toLong)) >
          EntriesCacheMaxEntries) {
      entriesCache.clear()
      entriesCacheCount.set(0L)
    }
    out0
  }

  private def readEntriesUncached(fs: FileSystem, root: Path,
      mf: Path): Seq[FileEntry] = {
    val lines = readLines(fs, mf)
    val h = parseHeader(mf, lines)
    val cols = h.statsCols
    val body = lines.drop(HeaderLines)
    if (!h.segmented) body.map(parseEntry(_, cols))
    else {
      val refs = body.map(parseSegRef)
      // segments are independent immutable files: past a handful,
      // fetch them with BOUNDED PARALLEL IO instead of a sequential
      // driver loop — on an object store each read is latency-bound
      // (~10-100 ms), so a 128-segment manifest (a ~1M-file table)
      // opens in ~one round-trip instead of ~128. Order preserved;
      // the segment cache is concurrent (putIfAbsent) so racers are
      // benign.
      val fetched: Seq[(SegRef, Seq[FileEntry])] =
        if (refs.size < parallelSegmentThreshold)
          refs.map(r => r -> readSegmentCached(fs, root, r.name, cols))
        else {
          import scala.jdk.CollectionConverters._
          // shared daemon pool: a fresh pool per cold read would
          // leak non-daemon threads into every manifest open, and
          // invokeAll wraps a segment failure in ExecutionException
          // — unwrap so the corrupt-segment require surfaces with
          // the same message the sequential path throws
          segmentFetchPool.invokeAll(refs.map { r =>
            new java.util.concurrent.Callable[(SegRef, Seq[FileEntry])] {
              override def call() =
                r -> readSegmentCached(fs, root, r.name, cols)
            }
          }.asJava).asScala.toSeq.map { f =>
            try f.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          }
        }
      val out = fetched.flatMap { case (ref, seg) =>
        require(seg.size == ref.n,
          s"segment ${ref.name} of $mf holds ${seg.size} entries, " +
            s"manifest recorded ${ref.n}")
        seg
      }
      // a file must appear in exactly one segment of a version —
      // a duplicate would double-count rows and double-read data
      val dup = out.groupBy(_.name).collectFirst {
        case (n, es) if es.size > 1 => n }
      require(dup.isEmpty,
        s"file ${dup.get} appears in two segments of $mf")
      out
    }
  }

  // ---- commit internals ----------------------------------------------

  /** Parsed manifest HEADER — everything version resolution needs,
    * without the file list. */
  private[graft] final case class ManifestHeader(mode: String,
      txnId: Option[String], statsCols: Seq[String], nFiles: Int,
      schemaJson: String, timestampMs: Long, pendingTxn: Option[String],
      features: Seq[String]) {
    def segmented: Boolean = features.contains(FSegments)
  }

  /** A `,`-list header value; `-` is the empty list. */
  private def listOf(value: String): Seq[String] =
    if (value == "-") Seq.empty else value.split(',').toSeq

  private def listValue(xs: Seq[String]): String =
    if (xs.isEmpty) "-" else xs.mkString(",")

  /** Parse the fixed header lines of manifest `mf` (extra lines are
    * ignored), refusing any other header string, a missing schema, or
    * a reader feature this version does not know — by name. */
  private def parseHeader(mf: Path, lines: Seq[String]): ManifestHeader = {
    val head = lines.headOption.getOrElse("<empty>")
    if (head != Header)
      throw new IllegalStateException(s"manifest $mf carries unsupported " +
        s"header $head (this reader reads $Header only)")
    require(lines.size >= HeaderLines, s"manifest $mf is truncated")
    def field(i: Int, key: String): String = {
      require(lines(i).startsWith(key),
        s"manifest $mf: line $i should start with $key: ${lines(i)}")
      lines(i).stripPrefix(key)
    }
    def decoded(s: String): Option[String] =
      Option(s).filter(_ != "-").map(java.net.URLDecoder.decode(_, "UTF-8"))
    val features = listOf(field(8, "features:"))
    val unknown = features.filterNot(KnownFeatures)
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"manifest $mf uses unknown reader feature(s) " +
          s"${unknown.mkString(",")} — written by a newer graft version; " +
          "refusing rather than misreading it")
    ManifestHeader(lines(1),
      Option(field(2, "txn:")).filter(_ != "-"),
      listOf(field(3, "stats:")),
      field(4, "nfiles:").toInt,
      decoded(field(5, "schema:")).getOrElse(throw new IllegalStateException(
        s"manifest $mf records no table schema (schema:-)")),
      field(6, "ts:").toLong,
      decoded(field(7, "pending:")),
      features)
  }

  /** Header-only manifest read: reads the [[HeaderLines]] header lines
    * and stops — the file list is never materialized. */
  private def readHeaderAt(fs: FileSystem, mf: Path): ManifestHeader =
    parseHeader(mf, readHeadLines(fs, mf, HeaderLines))

  private[graft] def readHeader(fs: FileSystem, root: Path,
      version: Int): ManifestHeader = {
    val mf = new Path(root, f"$LogDir/v$version%05d.manifest")
    require(fs.exists(mf),
      s"version $version was never committed (or expired) at $root")
    readHeaderAt(fs, mf)
  }

  /** DROP tombstone: present in `_graft_log` from the moment a DROP
    * decides to proceed until the purge removes the directory. Every
    * verb that lists versions refuses while it exists — the window
    * where a concurrent commit could land into a table being deleted
    * closes to the promote-time check in [[tryWriteManifest]]. */
  private val DroppedName = "_dropped"

  /** Write the DROP tombstone (idempotent). After this, every
    * commit/read verb refuses loudly until the purge finishes — or
    * [[unmarkDropped]] aborts the drop. */
  private[graft] def markDropped(fs: FileSystem, root: Path): Unit = {
    val p = new Path(root, s"$LogDir/$DroppedName")
    if (!fs.exists(p)) { val out = fs.create(p, true); out.close() }
  }

  private[graft] def unmarkDropped(fs: FileSystem, root: Path): Unit =
    fs.delete(new Path(root, s"$LogDir/$DroppedName"), false): Unit

  private[graft] def isDropped(fs: FileSystem, root: Path): Boolean =
    fs.exists(new Path(root, s"$LogDir/$DroppedName"))

  /** The committed version numbers, ascending — ONE directory listing,
    * no manifest reads. Refuses while a DROP tombstone is present
    * (detected from the SAME listing — no extra RPC): a dropped
    * table's remains must never answer as a table. */
  private def listVersionNumbers(fs: FileSystem, root: Path): Seq[Int] =
    listVersionNumbersRaw(fs, root, ignoreDropped = false)

  private[graft] def listVersionNumbersRaw(fs: FileSystem, root: Path,
      ignoreDropped: Boolean): Seq[Int] = {
    val log = new Path(root, LogDir)
    if (!fs.exists(log)) return Seq.empty
    val names = fs.listStatus(log).map(_.getPath.getName)
    if (!ignoreDropped && names.contains(DroppedName))
      throw new IllegalStateException(
        s"table $root is DROPPED (a DROP TABLE tombstone is present) " +
          "— re-run DROP TABLE ... PURGE to finish the removal, or " +
          s"delete $LogDir/$DroppedName to abort it")
    names.filter(_.matches("v\\d{5}\\.manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toInt)
      .sorted.toSeq
  }

  /** Raw slot numbers, pendings included ([[MultiTableTxn]]'s
    * roll-forward probe). */
  private[graft] def versionsRaw(fs: FileSystem, root: Path): Seq[Int] =
    listVersionNumbers(fs, root)

  /** Full-history resolution of the version that COMMITTED `txnId`
    * (checkpoint txn index + header scan above its watermark — the
    * same O(1)-in-history probe every commit verb runs). What
    * [[MultiTableTxn]]'s replay-after-commit branch must use: its
    * tail walk stops at the latest visible version, so a txn manifest
    * with any LATER commit on the table would resolve to "not found"
    * even though it committed. */
  private[graft] def findCommittedTxn(spark: SparkSession, path: String,
      txnId: String): Option[Int] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    findTxn(fs, root, listVersionNumbers(fs, root), txnId)
  }

  // ---- multi-table txn visibility ------------------------------------

  /** The decision of the multi-table txn behind `decisionUri`:
    * `Some(true)` committed, `Some(false)` aborted, `None` undecided.
    * Decisions are immutable once made (one atomic promote of the
    * decision file — see [[MultiTableTxn]]), so decided outcomes are
    * cached process-wide and a resolved pending manifest costs a map
    * hit, not an FS probe, on every later read. */
  private val decisionCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private[graft] def txnDecision(fs: FileSystem,
      decisionUri: String): Option[Boolean] = {
    val cached = decisionCache.get(decisionUri)
    if (cached != null) return Some(cached.booleanValue)
    val p = new Path(decisionUri)
    val dfs = p.getFileSystem(fs.getConf)
    if (!dfs.exists(p)) return None
    val outcome = readHeadLines(dfs, p, 1).headOption match {
      case Some("commit") => true
      case Some("abort") => false
      case other => throw new IllegalStateException(
        s"corrupt txn decision file $decisionUri: first line $other")
    }
    decisionCache.put(decisionUri, outcome)
    Some(outcome)
  }

  /** Is this manifest VISIBLE — a real committed version? Normal
    * manifests always are; a multi-table pending manifest is visible
    * iff its txn's decision file says `commit`. Undecided or aborted
    * pendings are not versions at all for readers. */
  private def isVisible(fs: FileSystem, h: ManifestHeader): Boolean =
    h.pendingTxn.forall(uri => txnDecision(fs, uri).contains(true))

  /** Resolve "the latest version" the way every read/write verb must:
    * newest manifest that is DECIDED-visible. Walks raw slots
    * newest→oldest — ONE header read in the steady state (the newest
    * manifest is normally a plain commit). `forWrite = true` turns an
    * UNDECIDED pending into [[TxnInDoubtException]]: a writer basing
    * its carried file list on the pre-txn state while the txn might
    * still commit would silently drop the txn's rows (lost update);
    * readers instead snapshot the latest decided state. INVARIANT
    * (enforced by this very gate plus the slot-collision check in the
    * commit point): an undecided pending is always the tail — every
    * later writer refuses until it is decided — so walking past one
    * never skips decided history. */
  private[graft] def latestVisible(fs: FileSystem, root: Path,
      forWrite: Boolean): Option[Int] =
    latestVisibleIn(fs, root, listVersionNumbers(fs, root), forWrite)

  /** [[latestVisible]] against a CALLER-HELD listing. Writer verbs
    * MUST resolve their base and their commit slot from ONE listing:
    * base = latest visible IN `nums`, slot = `nums.last + 1`. Every
    * slot between them is then a DECIDED-invisible (aborted) hole —
    * the walk threw on undecided — and holes can never be re-occupied
    * (their manifest files exist), so committing at the slot with
    * content derived from the base discards nothing. A commit that
    * lands AFTER the listing takes exactly the slot and turns the
    * promote into a clean lost-race retry. Deriving the slot from a
    * FRESHER listing than the base is the lost-update bug this
    * comment exists to prevent. */
  private[graft] def latestVisibleIn(fs: FileSystem, root: Path,
      nums: Seq[Int], forWrite: Boolean): Option[Int] = {
    nums.reverseIterator.foreach { v =>
      val h = readHeader(fs, root, v)
      h.pendingTxn match {
        case None => return Some(v)
        case Some(uri) => txnDecision(fs, uri) match {
          case Some(true) => return Some(v)
          case Some(false) => () // aborted: a hole, keep walking
          case None =>
            if (forWrite) throw new TxnInDoubtException(
              s"table $root has an UNDECIDED multi-table txn at " +
                s"v$v (decision: $uri) — wait for the coordinator " +
                "or resolve it with MultiTableTxn.abort")
        }
      }
    }
    None
  }

  private def requireVisible(fs: FileSystem, path: String, v: Int,
      h: ManifestHeader): Unit =
    h.pendingTxn.foreach { uri =>
      txnDecision(fs, uri) match {
        case Some(true) => ()
        case Some(false) => throw new TxnAbortedSlotException(
          s"version $v at $path belongs to an ABORTED multi-table " +
            "txn — it was never committed")
        case None => throw new TxnInDoubtException(
          s"version $v at $path belongs to an UNDECIDED multi-table " +
            s"txn (decision: $uri) — wait or MultiTableTxn.abort")
      }
    }

  /** The largest visible version strictly below `v` (change-feed
    * predecessor resolution: aborted holes are not predecessors). */
  private def prevVisible(fs: FileSystem, root: Path,
      live: Seq[Int], v: Int): Option[Int] =
    live.filter(_ < v).reverseIterator
      .find(p => isVisible(fs, readHeader(fs, root, p)))

  // ---- txn checkpoint --------------------------------------------------

  private final case class Checkpoint(latest: Int, txns: Map[String, Int])

  /** Resolve the version that committed `txnId`, if any: ONE
    * checkpoint read plus manifest-header probes of only the versions
    * the checkpoint has not indexed yet (newest first — a replayed
    * micro-batch is always recent). O(1) in history length. */
  private def findTxn(fs: FileSystem, root: Path, nums: Seq[Int],
      txnId: String): Option[Int] = {
    val ck = readCheckpoint(fs, root)
    ck.flatMap(_.txns.get(txnId)).orElse {
      val after = ck.map(_.latest).getOrElse(-1)
      nums.filter(_ > after).reverseIterator
        .map(v => (v, readHeader(fs, root, v)))
        .collectFirst {
          case (v, h) if h.txnId.contains(txnId) && isVisible(fs, h) => v
        }
    }
  }

  private def readCheckpoint(fs: FileSystem, root: Path): Option[Checkpoint] = {
    val p = new Path(root, s"$LogDir/$CkptName")
    if (!fs.exists(p)) return None
    val lines = try readLines(fs, p) catch { case _: java.io.IOException =>
      return None } // racing refresh: fall back to the full header scan
    if (lines.headOption != Some(CkptHeader) || lines.size < 2) return None
    val latest = lines(1).stripPrefix("latest:").toInt
    val txns = lines.drop(2).filter(_.nonEmpty).map { l =>
      val i = l.indexOf(':')
      l.substring(i + 1) -> l.substring(0, i).toInt
    }.toMap
    Some(Checkpoint(latest, txns))
  }

  /** Refresh `_checkpoint` every [[CheckpointInterval]] commits:
    * carry the previous checkpoint's txn index forward and header-scan
    * only the versions since it — bounded work regardless of history
    * length. The swap is tmp + delete + rename, NOT the atomic commit
    * point: two racing refreshes last-write-win and any checkpoint is
    * valid (readers scan forward from its watermark), and a reader
    * catching the brief gap just falls back to the full header scan. */
  private def maybeCheckpoint(fs: FileSystem, root: Path, v: Int): Unit = {
    if (v % CheckpointInterval != 0 || v == 0) return
    val prev = readCheckpoint(fs, root)
    val after = prev.map(_.latest).getOrElse(-1)
    // Never advance the watermark past an UNDECIDED pending (its txn
    // id must stay header-scannable until decided), and never index an
    // invisible manifest (an aborted txn's id must not no-op a later
    // honest commit).
    val candidates = listVersionNumbers(fs, root)
      .filter(n => n > after && n <= v)
      .map(n => (n, readHeader(fs, root, n)))
    val decidedPrefix = candidates.takeWhile { case (_, h) =>
      h.pendingTxn.forall(uri => txnDecision(fs, uri).nonEmpty) }
    if (decidedPrefix.size != candidates.size && decidedPrefix.isEmpty)
      return
    val watermark =
      if (decidedPrefix.size == candidates.size) v
      else decidedPrefix.last._1
    val nums = decidedPrefix.map(_._1)
    val fresh = decidedPrefix.collect {
      case (n, h) if h.txnId.nonEmpty && isVisible(fs, h) =>
        h.txnId.get -> n
    }
    // Bound the index: replays only ever re-offer RECENT batch ids
    // (the foreachBatch crash window is one batch deep; the margin
    // covers manual backfills), so the dedup horizon is the last
    // [[MaxCheckpointTxns]] — without the bound, per-commit checkpoint
    // I/O would grow linearly with total history again, just with a
    // smaller constant (Delta bounds its txn retention the same way).
    val txns = (prev.map(_.txns).getOrElse(Map.empty) ++ fresh)
      .toSeq.sortBy(_._2).takeRight(MaxCheckpointTxns)
    val tmp = new Path(root,
      s"$LogDir/.$CkptName.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write((Seq(CkptHeader, s"latest:$watermark") ++
      txns.map { case (t, n) => s"$n:$t" })
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(root, s"$LogDir/$CkptName")
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) fs.delete(tmp, false)
  }

  // ---- staging ---------------------------------------------------------

  /** STAGE df via Spark's committer into a unique hidden sibling, then
    * PUBLISH each part under the `v<N>-` prefix in the table root.
    * Returns the published names.
    *
    * `indexCols` (the table's resolved stats columns) additionally get
    * a parquet BLOOM FILTER written into each file's footer
    * (adaptive-sized — parquet observes the chunk's NDV), making the
    * table's indexed columns point-lookupable from METADATA alone:
    * manifest spans answer range predicates, footer blooms answer
    * membership ([[mergeInto]]'s discovery uses both). Cost is a few
    * KB per file per column at write time — the write path already
    * buffers the values. */
  /** What one staging pass produced: the published file names, their
    * fully-built manifest entries (stats included), and the stats
    * columns those entries were built FOR — a retry that resolves a
    * different column set (another writer changed the table's stats
    * declaration mid-race) must rebuild via [[harvestEntries]] instead
    * of trusting these. */
  private[graft] final case class Staged(names: Seq[String],
      entries: Seq[FileEntry], cols: Seq[String])

  /** Resolve each stats column of the staged (PHYSICAL-named) frame to
    * an in-write harvest spec. Kind resolution mirrors what a parquet
    * FOOTER harvest of the written file could normalize — same units
    * (DATE epoch days, TIMESTAMP micros with millis-truncation under
    * `outputTimestampType=TIMESTAMP_MILLIS`), same declines (INT96
    * timestamps, LEGACY datetime rebase — where written values differ
    * from in-memory ones — and non-atomic types record nothing) — so
    * write-harvested and footer-harvested entries are interchangeable
    * in one manifest. */
  private def harvestSpecs(physDf: DataFrame, indexCols: Seq[String],
      mapping: Map[String, String]): Seq[WriteHarvest.ColSpec] = {
    import org.apache.spark.sql.types._
    val sqlConf = physDf.sparkSession.asInstanceOf[
      org.apache.spark.sql.classic.SparkSession].sessionState.conf
    // the EFFECTIVE value (SQLConf default applies — Spark 4 still
    // defaults to INT96, which a footer harvest cannot normalize; the
    // tracker declines identically so both harvest paths agree)
    val tsType = sqlConf.parquetOutputTimestampType.toString
    val rebaseLegacy = sqlConf.getConfString(
      "spark.sql.parquet.datetimeRebaseModeInWrite", "EXCEPTION")
      .equalsIgnoreCase("LEGACY")
    // NDV sketch: default ON; `spark.graft.ndvSketch=false` drops it,
    // `.rsd` re-sizes — resolved once, not per column
    val ndvOn = sqlConf.getConfString(
      "spark.graft.ndvSketch", "true").toBoolean
    val ndvRsd = sqlConf.getConfString(
      "spark.graft.ndvSketch.rsd", "0.05").toDouble
    val fields = physDf.schema.fields
    indexCols.flatMap { c =>
      val pc = mapping.getOrElse(c, c)
      val i = fields.indexWhere(_.name == pc)
      if (i < 0) None // column absent from this batch: nothing recorded
      else {
        val kind: Option[Int] = fields(i).dataType match {
          case ByteType => Some(WriteHarvest.KByte)
          case ShortType => Some(WriteHarvest.KShort)
          case IntegerType => Some(WriteHarvest.KInt)
          case org.apache.spark.sql.types.LongType =>
            Some(WriteHarvest.KLong)
          case DateType => Some(
            if (rebaseLegacy) WriteHarvest.KNullsOnly
            else WriteHarvest.KDate)
          case TimestampType => Some(
            if (rebaseLegacy) WriteHarvest.KNullsOnly
            else tsType match {
              case "TIMESTAMP_MICROS" => WriteHarvest.KTsMicros
              case "TIMESTAMP_MILLIS" => WriteHarvest.KTsMillis
              case _ => WriteHarvest.KNullsOnly // INT96: footer declines too
            })
          case TimestampNTZType => Some(WriteHarvest.KTsMicros)
          case FloatType => Some(WriteHarvest.KFloat)
          case DoubleType => Some(WriteHarvest.KDouble)
          case org.apache.spark.sql.types.StringType =>
            Some(WriteHarvest.KString)
          case _: DecimalType => Some(WriteHarvest.KDecimal)
          case BooleanType | BinaryType => Some(WriteHarvest.KNullsOnly)
          case _: YearMonthIntervalType | _: DayTimeIntervalType =>
            Some(WriteHarvest.KNullsOnly)
          case _ => None // nested: footer records nothing either
        }
        val (p, s) = fields(i).dataType match {
          case d: DecimalType => (d.precision, d.scale)
          case _ => (0, 0)
        }
        // NDV sketch: every span-normalizable kind (the null-only
        // kinds — boolean/binary/INT96/intervals — have no
        // approx_count_distinct fold worth a sketch, and INT96's
        // written values cannot be mirrored cheaply)
        val ndvType =
          if (!ndvOn || kind.forall(_ == WriteHarvest.KNullsOnly)) null
          else fields(i).dataType
        kind.map(k => WriteHarvest.ColSpec(c, i, k, p, s,
          ndvType = ndvType, ndvRsd = ndvRsd))
      }
    }
  }

  /** Build the manifest [[FileEntry]] of one published file from its
    * in-write harvest. Timestamp-kind spans re-tag their micros Longs
    * as [[TsMicros]] here (the tracker is graft-agnostic). */
  private def entryFromHarvest(name: String, size: Long,
      h: WriteHarvest.FileHarvest,
      specs: Seq[WriteHarvest.ColSpec]): FileEntry = {
    val tsCols = specs.iterator.filter(s =>
      s.kind == WriteHarvest.KTsMicros || s.kind == WriteHarvest.KTsMillis)
      .map(_.logical).toSet
    val stats = specs.flatMap { s =>
      h.cols.get(s.logical).flatMap(_.span).map {
        case Some((mn, mx)) if tsCols(s.logical) =>
          s.logical -> Some((TsMicros(mn.asInstanceOf[Long]): Any,
            TsMicros(mx.asInstanceOf[Long]): Any))
        case sp => s.logical -> sp
      }
    }.toMap
    val nulls = specs.flatMap(s =>
      h.cols.get(s.logical).filter(_.nulls >= 0)
        .map(r => s.logical -> r.nulls)).toMap
    val sums = specs.flatMap(s =>
      h.cols.get(s.logical).flatMap(_.sum).map(s.logical -> _)).toMap
    val dsets = specs.flatMap(s =>
      h.cols.get(s.logical).flatMap(_.dset).map(vs =>
        s.logical -> vs.map {
          case l: java.lang.Long if tsCols(s.logical) =>
            TsMicros(l): Any
          case v => v
        }.toSet)).toMap
    val ndvs = specs.flatMap(s =>
      h.cols.get(s.logical).flatMap(_.ndv).map(s.logical -> _)).toMap
    FileEntry(name, h.rows, stats, size, nulls = nulls, sums = sums,
      dsets = dsets, ndvs = ndvs)
  }

  /** A staging pass's manifest entries: the in-write harvest's when it
    * ran (the default), otherwise (kill-switch `spark.graft.writeHarvest
    * =false`) the footer+scan harvest over the published names. */
  private def entriesOf(st: Staged, spark: SparkSession, fs: FileSystem,
      conf: Configuration, root: Path,
      schemaJson: Option[String]): Seq[FileEntry] =
    if (st.entries.nonEmpty || st.names.isEmpty) st.entries
    else harvestEntries(spark, fs, conf, root, st.names, st.cols,
      schemaJson)

  private def stageAndPublish(df: DataFrame, fs: FileSystem, root: Path,
      v: Int, indexCols: Seq[String] = Seq.empty,
      schemaJson: Option[String] = None): Staged = {
    val stage = new Path(root.getParent,
      s".${root.getName}__vt_stage_${java.util.UUID.randomUUID}")
    // column mapping: files always carry PHYSICAL names, so a renamed
    // column's new files line up with the old ones with no rewrite;
    // blooms index the physical chunk (what fileMightContain reads)
    val mapping = physicalOf(schemaJson).filter { case (l, p) => l != p }
    val physDf =
      if (mapping.isEmpty) df
      else df.select(df.columns.map(c =>
        col(c).as(mapping.getOrElse(c, c))).toSeq: _*)
    val physIdx = indexCols.map(c => mapping.getOrElse(c, c))
    val bloomOpts: Map[String, String] =
      physIdx.flatMap(c => Seq(
        s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.fpp#$c" -> BloomFpp.toString)).toMap ++
      (if (physIdx.isEmpty) Map.empty[String, String]
       else Map("parquet.bloom.filter.adaptive.enabled" -> "true"))
    // In-write stats harvest (default ON; `spark.graft.writeHarvest`
    // false = the pre-tracker path, kept as a measured A/B lane and a
    // kill switch): the write tasks themselves record each file's row
    // count, spans, null counts and exact sums — zero post-commit
    // reads. OFF or per-file holes fall back to the footer+scan
    // harvest below.
    val useInWrite = df.sparkSession.conf
      .get("spark.graft.writeHarvest", "true").toBoolean
    var harvest = Map.empty[String, WriteHarvest.FileHarvest]
    val specs =
      if (useInWrite) harvestSpecs(physDf, indexCols, mapping)
      else Seq.empty
    if (useInWrite) {
      harvest = WriteHarvest.stageWrite(physDf, stage.toString,
        bloomOpts, specs)
    } else {
      val writer = bloomOpts.foldLeft(physDf.write.mode("overwrite")) {
        case (w, (k, vv)) => w.option(k, vv)
      }
      writer.parquet(stage.toString)
    }
    val staged = fs.listStatus(stage).filter(_.isFile)
      .filterNot(st => st.getPath.getName.startsWith("_") ||
        st.getPath.getName.startsWith("."))
    val published = staged.map { st =>
      val p = st.getPath
      val name = f"v$v%05d-${p.getName}"
      require(fs.rename(p, new Path(root, name)),
        s"versioned commit: publish $p -> $name failed")
      (name, p.getName, st.getLen)
    }.toSeq.sortBy(_._1)
    fs.delete(stage, true)
    val names = published.map(_._1)
    val entries =
      if (!useInWrite) Seq.empty // caller path computes via harvestEntries
      else {
        val (have, missing) = published.partition {
          case (_, bare, _) => harvest.contains(bare) }
        val fromWrite = have.map { case (name, bare, len) =>
          entryFromHarvest(name, len, harvest(bare), specs) }
        val fallback =
          if (missing.isEmpty) Seq.empty
          else {
            // a committed file the tracker did not report (should not
            // happen) — observable, never silent; stats stay exact via
            // the footer+scan harvest
            log.warn(s"in-write stats harvest missed " +
              s"${missing.size}/${published.size} file(s) at $root " +
              s"(${missing.take(3).map(_._1).mkString(",")}…); " +
              "falling back to footer harvest for them")
            harvestEntries(df.sparkSession, fs,
              df.sparkSession.sessionState.newHadoopConf(), root,
              missing.map(_._1), indexCols, schemaJson)
          }
        (fromWrite ++ fallback).sortBy(_.name)
      }
    Staged(names, entries, indexCols)
  }

  /** Move already-published files from version prefix `from` to `to`
    * after a lost manifest race — O(#files) metadata renames. */
  private def reprefix(fs: FileSystem, root: Path, entries: Seq[FileEntry],
      from: Int, to: Int): Seq[FileEntry] =
    entries.map { e =>
      val bare = e.name.stripPrefix(f"v$from%05d-")
      val name = f"v$to%05d-$bare"
      require(fs.rename(new Path(root, e.name), new Path(root, name)),
        s"versioned commit: reprefix ${e.name} -> $name failed")
      e.copy(name = name)
    }

  /** Stats columns for a commit: explicit wins; otherwise inherit from
    * the previous manifest so the table's index stays live across
    * appends/compactions/deletes without re-declaration. */
  private def resolveStatsCols(prev: Option[ManifestHeader],
      statsCols: Seq[String]): Seq[String] = {
    require(statsCols.forall(c => c.nonEmpty &&
        !c.exists(ch => ch == ',' || ch == '\t' || ch < ' ')),
      s"bad stats column names: $statsCols")
    if (statsCols.nonEmpty) statsCols
    else prev.map(_.statsCols).getOrElse(Seq.empty)
  }

  /** The schema this commit records, enforcing the evolution contract
    * on appends: columns the table lacks are ADDED (nullable — older
    * files back-fill null); a column whose type differs from the
    * recorded one refuses loudly; columns the batch lacks stay (its
    * new files back-fill null). Overwrites reshape freely. Everything
    * is stored nullability-widened — parquet file sources read as
    * nullable anyway, and a spurious non-null flag would just lie. */
  private def resolveSchema(dfSchema: StructType,
      prev: Option[ManifestHeader], overwrite: Boolean,
      path: String): String = {
    // strip any column-mapping metadata riding on the INCOMING frame
    // (a read() of a mapped table aliases physical→logical, and the
    // alias carries the source field's metadata — recording it would
    // claim the freshly-staged logical-named files hold physical
    // names): incoming fields always describe what the batch STAGED
    val incoming = StructType(dfSchema.map(f =>
      f.copy(dataType = org.apache.spark.sql.graftbridge.Bridge
        .asNullable(f.dataType), nullable = true,
        metadata =
          if (!f.metadata.contains(PhysicalKey)) f.metadata
          else new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove(PhysicalKey).build())))
    // an overwrite replaces the table: mapping and retired names reset
    if (overwrite) return incoming.json
    prev.map(h => decodeSchemaFull(h.schemaJson)) match {
      case None => incoming.json
      case Some((old, retired)) =>
        val conflicts = incoming.flatMap(f =>
          old.find(_.name == f.name).filter(_.dataType != f.dataType)
            .map(o => s"${f.name}: ${o.dataType.simpleString} -> " +
              s"${f.dataType.simpleString}"))
        require(conflicts.isEmpty,
          s"versioned append at $path changes column types " +
            s"(${conflicts.mkString("; ")}) — incompatible schema " +
            "evolution; rewrite via an overwrite commit instead")
        val added = incoming.filterNot(f => old.exists(_.name == f.name))
        // column mapping: a NEW column keeps its own name as physical,
        // so it must not collide with a physical name already living
        // in old files — an in-use one (some column was renamed away
        // from it) or a retired one (dropColumn): the old files' stale
        // physical data would silently resurrect under the new column
        val usedPhysical = old.fields.map(physicalNameOf).toSet ++ retired
        val collide = added.map(_.name).filter(usedPhysical.contains)
        require(collide.isEmpty,
          s"versioned append at $path re-adds column(s) " +
            s"${collide.mkString(",")} whose name(s) carry physical " +
            "history (renamed or dropped) — old files still hold that " +
            "physical data; rewrite via an overwrite commit to reuse " +
            "the name")
        encodeSchemaFull(StructType(old ++ added), retired)
    }
  }

  // ---- column mapping (rename/drop without rewrite) -------------------

  /** Field-metadata key holding a column's PHYSICAL name — the name
    * the parquet files carry — when a [[renameColumn]] made it diverge
    * from the logical one. Physical names are IMMUTABLE once assigned
    * (a rename changes only the logical name), which is what makes
    * staging, blooms, and footer stats stable across renames. */
  private[graft] val PhysicalKey = "graft.physical"

  private[graft] def physicalNameOf(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private[graft] def schemaHasMapping(st: StructType): Boolean =
    st.fields.exists(f => physicalNameOf(f) != f.name)

  /** logical → physical column map of a recorded schema (identity
    * entries omitted-equivalent: lookups default to the key). */
  private def physicalOf(schemaJson: Option[String]): Map[String, String] =
    schemaJson.map(decodeSchema).map(st =>
      st.fields.map(f => f.name -> physicalNameOf(f)).toMap)
      .getOrElse(Map.empty)

  /** Manifest schema record codec. Plain `StructType.json` (mapping
    * rides in field metadata, which the json carries natively) unless
    * RETIRED physical names exist — names a [[dropColumn]] freed,
    * which must never be silently re-bound (old files still hold their
    * stale data): then a tagged wrapper
    * `graft-cm1 TAB retired-csv TAB structjson`. */
  private val CmPrefix = "graft-cm1\t"

  private[graft] def decodeSchemaFull(s: String): (StructType, Seq[String]) =
    if (s.startsWith(CmPrefix)) {
      val rest = s.substring(CmPrefix.length)
      val i = rest.indexOf('\t')
      val retired = rest.substring(0, i).split(',').toSeq
        .filter(_.nonEmpty)
        .map(r => java.net.URLDecoder.decode(r, "UTF-8"))
      (org.apache.spark.sql.types.DataType.fromJson(rest.substring(i + 1))
        .asInstanceOf[StructType], retired)
    } else
      (org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[StructType], Seq.empty)

  private def encodeSchemaFull(st: StructType,
      retired: Seq[String]): String =
    if (retired.isEmpty) st.json
    else CmPrefix + retired.map(r =>
      java.net.URLEncoder.encode(r, "UTF-8")).mkString(",") +
      "\t" + st.json

  private def decodeSchema(json: String): StructType =
    decodeSchemaFull(json)._1

  /** PHYSICAL parquet scan of `paths` planned with the manifest's
    * recorded schema: files predating a column addition
    * back-fill it with null (the mergeSchema result, without footer
    * merging). Columns come back under their PHYSICAL names — the
    * masking/position machinery needs the raw relation (metadata
    * columns don't survive a projection); [[logicalize]] restores the
    * logical shape on top. */
  private def physicalScan(spark: SparkSession, schemaJson: String,
      paths: Seq[String]): DataFrame = {
    val st = decodeSchema(schemaJson)
    val phys = if (!schemaHasMapping(st)) st
      else StructType(st.fields.map(f => f.copy(name = physicalNameOf(f))))
    spark.read.schema(phys).parquet(paths: _*)
  }

  /** The logical projection over a physical frame: alias every mapped
    * column back to its logical name (identity when no mapping —
    * returns `df` unchanged, plan-identical to the pre-mapping path).
    * Extra non-schema columns (the DV file/pos identities) survive
    * only via `keep`. */
  private def logicalize(df: DataFrame, schemaJson: String,
      keep: Seq[String] = Seq.empty): DataFrame = {
    val st = decodeSchema(schemaJson)
    if (!schemaHasMapping(st)) df
    else df.select(
      st.fields.map(f => col(physicalNameOf(f)).as(f.name)).toSeq ++
        keep.map(col): _*)
  }

  /** The schema's LOGICAL shape with no rows — no scan, no job. */
  private def emptyOf(spark: SparkSession, schemaJson: String): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](),
      decodeSchema(schemaJson))

  /** [[read]]'s shape at `version` with no rows, from the recorded
    * schema: no scan, and no deletion-vector mask collect. */
  private[graft] def emptyAt(spark: SparkSession, path: String,
      version: Int): DataFrame = {
    val root = new Path(path)
    emptyOf(spark, readHeader(root.getFileSystem(
      spark.sessionState.newHadoopConf()), root, version).schemaJson)
  }

  /** Parquet scan of `paths` in the schema's LOGICAL shape. */
  private def schemaRead(spark: SparkSession, schemaJson: String,
      paths: Seq[String]): DataFrame =
    logicalize(physicalScan(spark, schemaJson, paths), schemaJson)

  /** [[schemaRead]] through a manifest-backed
    * [[graft.sources.VtFileIndex]] when the entries allow it (no DVs
    * in this subset, no column mapping): Spark's
    * FileSourceStrategy then hands pushed data filters to the index,
    * and files whose recorded spans provably exclude the predicate
    * are never planned — `read(...).where(...)` auto-prunes like the
    * `format("graft-vt")` relation, with no explicit
    * [[prunedReadWhere]] call. At 100 TB this is the difference
    * between planning two span-matching files and planning the
    * version's 800k. Falls back to the plain path-list scan otherwise
    * (mapped schemas scan physical names the filters would not match). */
  private def indexedRead(spark: SparkSession, schemaJson: String,
      path: String, entries: Seq[FileEntry]): DataFrame = {
    val schema = decodeSchema(schemaJson)
    if (entries.isEmpty ||
        schemaHasMapping(schema) || entries.exists(_.dv.nonEmpty))
      schemaRead(spark, schemaJson, entries.map(e => s"$path/${e.name}"))
    else {
      val rel = org.apache.spark.sql.execution.datasources
        .HadoopFsRelation(
          new graft.sources.VtFileIndex(spark, path, -1, entries,
            schema),
          partitionSchema = StructType(Nil),
          dataSchema = schema,
          bucketSpec = None,
          fileFormat = new org.apache.spark.sql.execution.datasources
            .parquet.ParquetFileFormat,
          options = Map.empty)(spark)
      spark.sqlContext.baseRelationToDataFrame(rel)
    }
  }

  // ---- deletion vectors ------------------------------------------------

  /** Internal column names the DV machinery adds while masking —
    * suffixed past any real table column of the same name. */
  private def freshCols(existing: Seq[String],
      wanted: Seq[String]): Seq[String] =
    wanted.map { w =>
      Iterator.from(0).map(i => if (i == 0) w else s"${w}_$i")
        .find(n => !existing.contains(n)).get
    }

  /** The one schema every DV sidecar is written in. */
  private val DvSidecarSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** A sidecar read with [[DvSidecarSchema]]: no footer-inference job. */
  private def readSidecar(spark: SparkSession, path: String,
      sidecar: String): DataFrame =
    spark.read.schema(DvSidecarSchema).parquet(s"$path/$sidecar")

  /** The deleted (file, pos) pairs of `dved`'s deletion vectors, as a
    * frame keyed by the caller's column names. Sidecars are ordinary
    * delta-sized parquet of `(file STRING, pos BIGINT)`, read with
    * that fixed schema ([[readSidecar]]), never inferred per read — the
    * anti-join below auto-broadcasts off their file-source size stats,
    * and a pathologically large vector
    * (delete-most-of-the-table, which should have been a rewrite)
    * degrades to a shuffle join, never a wrong answer.
    *
    * Each file's positions are read from EXACTLY the sidecar its
    * entry references — never a name filter over the UNION of all
    * requested sidecars. A sidecar can carry positions of files that
    * have since re-pointed at a NEWER sidecar (absorbed priors), so
    * the union form would emit those (file, pos) pairs once per
    * carrying sidecar: reads stay right (the anti-join dedupes) but
    * the change feed's multiset diff and [[applyDvPositions]]'s
    * absorb-forward union need each pair to appear exactly once.
    * Within each sidecar group, a bounded name set restricts via an
    * IN-literal (codegen-able); past that the IN-expression itself
    * would be the scale problem (O(#files) plan size), so it flips to
    * a broadcast semi-join on a names frame — O(1) plan, same
    * semantics. */
  private def dvMask(spark: SparkSession, path: String,
      dved: Seq[FileEntry], fileC: String, posC: String): DataFrame = {
    import spark.implicits._
    dved.groupBy(_.dv.get._1).toSeq.sortBy(_._1).map {
      case (sidecar, es) =>
        val base = readSidecar(spark, path, sidecar)
        if (es.size <= 1000)
          base.where(col("file").isin(es.map(_.name): _*))
        else
          base.join(broadcast(es.map(_.name).toDF("file")), Seq("file"),
            "left_semi")
    }.reduce(_.unionByName(_))
      .select(col("file").as(fileC), col("pos").as(posC))
  }

  /** Positions cap for the BROADCAST mask lane of [[maskedRead]]:
    * masks whose total deleted-position count fits load driver-side
    * into per-file sorted arrays and filter MAP-SIDE inside the scan's
    * whole-stage loop ([[graft.functions.DvSurvives]]) — no join
    * operator, no name-extraction per row; ~8 bytes/position of
    * broadcast (4M ≈ 32 MB, one copy per executor). Beyond the cap the
    * read falls back to the delta-sized anti-join, which scales to any
    * mask (a delete that large should have been a rewrite — and
    * OPTIMIZE materializes it away). Tunable per session via
    * `spark.graft.dv.broadcastMaxPositions`. */
  private def dvBroadcastMaxPositions(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.dv.broadcastMaxPositions")
      .map(_.toLong).getOrElse(4000000L)

  /** Driver-side mask for the broadcast lane: bare file name → sorted
    * deleted positions. Same per-referencing-entry sidecar restriction
    * and fixed-schema read as [[dvMask]]; in-sidecar duplicates
    * (pre-fix history) collapse via the distinct. */
  private def collectDvMasks(spark: SparkSession, path: String,
      dved: Seq[FileEntry]): Map[String, Array[Long]] =
    dved.groupBy(_.dv.get._1).toSeq.sortBy(_._1)
      .flatMap { case (sidecar, es) =>
        // restrict IN-QUERY, before the collect: a shared sidecar can
        // carry another (since-rewritten, possibly huge) file's
        // positions, and the positions cap bounds only what the
        // REQUESTED entries mask — collecting the whole sidecar first
        // would let an unrequested tenant blow the driver
        val names = es.map(_.name)
        val base = readSidecar(spark, path, sidecar)
        val mine =
          if (names.size <= 1000) base.where(col("file").isin(names: _*))
          else {
            import spark.implicits._
            base.join(broadcast(names.toDF("file")), Seq("file"),
              "left_semi")
          }
        mine.collect().iterator
          .map(r => (r.getString(0), r.getLong(1))).toSeq
      }
      .groupBy(_._1)
      .map { case (f, ps) => f -> ps.map(_._2).distinct.sorted.toArray }

  /** Broadcast masks cached per (context, path, sidecar→names set):
    * a sidecar is IMMUTABLE once published (vacuum deletes it only
    * when no live manifest references it), so the same requested mask
    * resolves to the same positions forever — repeated reads of a
    * DV'd version (interactive sessions, streaming polls) skip the
    * sidecar collect job entirely. Bounded: cleared wholesale past 64
    * entries (the dropped Broadcasts are GC'd by Spark's
    * ContextCleaner once unreferenced). */
  private val dvMaskCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]]()

  /** `dved`'s broadcast mask, from [[dvMaskCache]] (collected and
    * broadcast on a miss). */
  private def dvMaskBroadcast(spark: SparkSession, path: String,
      dved: Seq[FileEntry])
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]] = {
    val key = spark.sparkContext.applicationId + "@" +
      spark.sparkContext.startTime + "|" + path + "|" +
      dved.groupBy(_.dv.get._1).toSeq.sortBy(_._1).map { case (sc, es) =>
        sc + ":" + es.map(_.name).sorted.mkString(",")
      }.mkString(";")
    if (dvMaskCache.size > 64) dvMaskCache.clear()
    dvMaskCache.computeIfAbsent(key, _ =>
      spark.sparkContext.broadcast(collectDvMasks(spark, path, dved)))
  }

  /** The broadcast-mask filter Column over a physical scan: TRUE for
    * rows whose `(_metadata.file_path, _metadata.row_index)` is not
    * deleted. */
  private def dvSurvivesCol(spark: SparkSession, path: String,
      dved: Seq[FileEntry]): Column = {
    val bc = dvMaskBroadcast(spark, path, dved)
    val B = org.apache.spark.sql.graftbridge.Bridge
    B.column(graft.functions.DvSurvives(
      B.expression(col("_metadata.file_path")),
      B.expression(col("_metadata.row_index")), bc))
  }

  /** [[schemaRead]] over manifest ENTRIES with DELETION VECTORS
    * applied: files without a DV scan on the stock vectorized parquet
    * path untouched (the fast path is byte-identical to a plain read);
    * files WITH one filter their deleted `_metadata.row_index`
    * positions out — map-side against the broadcast mask when it fits
    * ([[dvBroadcastMaxPositions]]), an anti-join against the
    * delta-sized sidecar scan beyond that. All the VersionedTable read
    * verbs route here, so time travel, pruned reads, file slices, the
    * change feed, compaction, and every rewrite base observe DV
    * deletes exactly. */
  private[graft] def maskedRead(spark: SparkSession,
      schemaJson: String, path: String,
      entries: Seq[FileEntry]): DataFrame = {
    if (entries.forall(_.dv.isEmpty))
      return indexedRead(spark, schemaJson, path, entries)
    val (dved, plain) = entries.partition(_.dv.nonEmpty)
    val base0 = physicalScan(spark, schemaJson,
      dved.map(e => s"$path/${e.name}"))
    val physCols = base0.columns.toSeq
    val totalDeleted = dved.map(e => math.max(e.dv.get._2, 0L)).sum
    val maskedPhys =
      if (totalDeleted <= dvBroadcastMaxPositions(spark))
        base0.where(dvSurvivesCol(spark, path, dved))
          .select(physCols.map(col): _*)
      else {
        val Seq(fileC, posC) = freshCols(
          physCols ++ decodeSchema(schemaJson).fieldNames,
          Seq("__graft_dv_file", "__graft_dv_pos"))
        base0
          .withColumn(fileC,
            substring_index(col("_metadata.file_path"), "/", -1))
          .withColumn(posC, col("_metadata.row_index"))
          .join(dvMask(spark, path, dved, fileC, posC),
            Seq(fileC, posC), "left_anti")
          .select(physCols.map(col): _*)
      }
    val masked = logicalize(maskedPhys, schemaJson)
    if (plain.isEmpty) masked
    else masked.unionByName(
      indexedRead(spark, schemaJson, path, plain))
  }

  /** [[maskedRead]] keeping the (file, pos) identity columns (returned
    * with the frame, minted collision-free) — what DV WRITING and
    * rewrite DISCOVERY need: positions/file hits are harvested from
    * exactly the coordinates the read-time mask uses, so the two sides
    * can never disagree on what a position means, and a row already
    * masked by an earlier vector can never be "discovered" again. */
  private[graft] def maskedReadWithPos(spark: SparkSession,
      schemaJson: String, path: String, entries: Seq[FileEntry])
      : (DataFrame, String, String) = {
    val base0 = physicalScan(spark, schemaJson,
      entries.map(e => s"$path/${e.name}"))
    val Seq(fileC, posC) = freshCols(
      base0.columns.toSeq ++ decodeSchema(schemaJson).fieldNames,
      Seq("__graft_dv_file", "__graft_dv_pos"))
    val dved = entries.filter(_.dv.nonEmpty)
    val totalDeleted = dved.map(e => math.max(e.dv.get._2, 0L)).sum
    // the prior-mask filter rides the broadcast lane when it fits —
    // same policy as maskedRead, applied before the identity columns
    val filtered =
      if (dved.isEmpty) base0
      else if (totalDeleted <= dvBroadcastMaxPositions(spark))
        base0.where(dvSurvivesCol(spark, path, dved))
      else base0
    val base = filtered
      .withColumn(fileC,
        substring_index(col("_metadata.file_path"), "/", -1))
      .withColumn(posC, col("_metadata.row_index"))
    val df =
      if (dved.isEmpty || totalDeleted <= dvBroadcastMaxPositions(spark))
        base
      else base.join(dvMask(spark, path, dved, fileC, posC),
        Seq(fileC, posC), "left_anti")
    (logicalize(df, schemaJson, keep = Seq(fileC, posC)), fileC, posC)
  }

  /** Shared DV-WRITE step of the mutating verbs: union the new
    * deleted positions (`hits`, columns `file`,`pos`) with the
    * re-touched files' PRIOR vectors, publish ONE sidecar under the
    * `v2` prefix, and return the entry list with touched files
    * re-pointed at it (untouched verbatim, fully-dead dropped) plus
    * everything published (for lost-race cleanup). */
  private def applyDvPositions(spark: SparkSession, fs: FileSystem,
      root: Path, path: String, entries: Seq[FileEntry], hits: DataFrame,
      perFile: Map[String, Long], v2: Int)
      : (Seq[FileEntry], Seq[String]) = {
    val prior = entries.filter(e =>
      perFile.contains(e.name) && e.dv.nonEmpty)
    // dropDuplicates keeps every published sidecar an exact SET of
    // (file, pos): hits are disjoint from the prior mask by
    // construction (maskedReadWithPos can never re-discover a masked
    // row), but a sidecar written before dvMask read per-referencing-
    // entry could carry a pair twice — absorbing it forward must not
    // propagate the duplicate into the change feed's multiset diff.
    val allPos =
      if (prior.isEmpty) hits
      else hits.unionByName(dvMask(spark, path, prior, "file", "pos"))
        .dropDuplicates("file", "pos")
    // when priors absorb, per-file totals come from the DEDUPED frame
    // itself, never `recorded + new` arithmetic: a historically
    // duplicated prior would overstate nDeleted, and an overstated
    // total can cross the fully-dead bound and DROP a file that still
    // holds live rows. One delta-sized aggregation, only on the
    // absorb path.
    val exactTotals: Map[String, Long] =
      if (prior.isEmpty) Map.empty
      else allPos.groupBy("file").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = entries.flatMap(e => perFile.get(e.name).map(n =>
      e.name -> exactTotals.getOrElse(e.name,
        e.dv.map(_._2).getOrElse(0L) + n))).toMap
    // a sidecar only fully-dead (dropped) files would point at is never
    // written: no entry could reference it, so it would be debris
    val side =
      if (entries.forall(e => totals.get(e.name).forall(_ >= e.nRows)))
        Seq.empty
      else stageAndPublish(allPos.coalesce(1), fs, root, v2).names
    val out = entries.flatMap { e =>
      totals.get(e.name) match {
        case None => Some(e) // untouched: carried verbatim
        case Some(total) if total >= e.nRows => None // fully dead
        case Some(total) => side match {
          case Seq(sidecar) => Some(e.copy(dv = Some((sidecar, total))))
          case more => throw new IllegalStateException(
            s"DV sidecar must be one file, got $more")
        }
      }
    }
    (out, side)
  }

  /** Every on-disk artifact a version's entries reference: the data
    * files plus any DV sidecars — the unit [[expire]], [[vacuumUnreferenced]]
    * and [[cloneTo]] must reason in (a sidecar's life is bound to the
    * manifests that reference it, exactly like a data file's). */
  private def artifactNames(entries: Seq[FileEntry]): Seq[String] =
    entries.flatMap(e => e.name +: e.dv.map(_._1).toSeq).distinct

  /** Build a [[FileEntry]] from the parquet FOOTER of a just-published
    * file: row count plus min/max per stats column, merged across row
    * groups. Metadata-only — the footer is read, never the data (the
    * Iceberg design: the writer already computed these stats). Columns
    * whose physical type we do not normalize (nested, decimal, int96)
    * or whose chunks lack statistics are recorded as not-collected —
    * readable, never prunable. NaN bounds (legal in float/double
    * footers) are treated as not-collected too: NaN orders under no
    * range predicate. */
  /** The shared clustering recipe: range-partition into `nOut` files
    * sorted on the cluster keys (multi-key via the z-value curve) so
    * the written files carry TIGHT footer spans. Used by [[compact]]/
    * [[compactWhere]] for whole/scoped rewrites and, opt-in, by
    * [[mergeInto]]/[[replaceWhere]] so steady CDC traffic does not
    * decay a clustered layout between OPTIMIZE runs. */
  private def clusterOut(df: DataFrame, clusterBy: Seq[String],
      nOut: Int): DataFrame =
    if (clusterBy.isEmpty) df
    else if (clusterBy.size == 1)
      df.repartitionByRange(nOut, col(clusterBy.head))
        .sortWithinPartitions(clusterBy.head)
    else
      df.withColumn("__z", ZOrder.zValue(df, clusterBy, 256))
        .repartitionByRange(nOut, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")

  /** ONE detached harvest session per caller session, CACHED — the
    * tiny per-commit sum job runs with shuffle width 1 (its grouped
    * partials are O(#new files) rows) and no AQE re-planning, and its
    * conf can never invalidate the caller's cached relation plans.
    * Cached because `newSession()` mints a whole SessionState
    * (analyzer/optimizer/conf) whose lazy init costs more than the
    * job it was meant to speed up when paid per commit. */
  /** BOUNDED (LRU, 8 entries): a long-lived service minting many
    * caller sessions must not accumulate one detached SessionState per
    * session forever — an evicted caller simply pays one `newSession`
    * again on its next fallback harvest. (Weak keys would not help:
    * the derived session's SessionState chain references its parent,
    * keeping the key reachable.) */
  private val harvestSessions =
    new java.util.LinkedHashMap[SparkSession, SparkSession](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, SparkSession]): Boolean =
        size > 8
    }
  private def harvestSession(spark: SparkSession): SparkSession =
    harvestSessions.synchronized {
      val hit = harvestSessions.get(spark)
      if (hit != null) hit
      else {
        val s2 = spark.newSession()
        s2.conf.set("spark.sql.adaptive.enabled", "false")
        s2.conf.set("spark.sql.shuffle.partitions", "1")
        // ANSI off: one file whose per-file DECIMAL(38) sum overflows
        // must degrade to "unknown" via the null-sum/count>0 shape the
        // caller already disambiguates — not throw and abort the whole
        // batch's Σ ledger
        s2.conf.set("spark.sql.ansi.enabled", "false")
        harvestSessions.put(spark, s2)
        s2
      }
    }

  /** Manifest entries for a batch of just-published files: per-file
    * footer harvest (row counts, spans, null counts — driver-side
    * metadata reads) plus ONE distributed column-pruned pass
    * attaching each file's exact per-column SUM ([[attachSums]]).
    * Every writer path (commit, delete/update/merge rewrites,
    * optimize) builds its fresh entries through here, so sum folds
    * stay available across the table's whole life. */
  private def harvestEntries(spark: SparkSession, fs: FileSystem,
      conf: Configuration, root: Path, names: Seq[String],
      cols: Seq[String], schemaJson: Option[String]): Seq[FileEntry] = {
    val phys = physicalOf(schemaJson)
    val base = names.map(n =>
      footerEntry(fs, conf, new Path(root, n), cols, phys))
    attachSums(spark, root, base, cols, phys)
  }

  /** Per-file EXACT SUMS of the integral/decimal stats columns, from
    * one distributed pass over the just-written files — parquet
    * footers carry no sums, so this is the only exact source. Cost
    * posture: the pass is O(delta) (only the NEW files of this
    * commit), column-pruned to the eligible stats columns (a few
    * percent of the bytes just written), and fully parallel — the
    * Σ-maintenance price every metadata-aggregate store pays at write
    * time to make `sum()`/`avg()` zero-file-open at read time.
    * Eligibility: integral types sum exactly into DECIMAL(38,0) and
    * decimals into DECIMAL(38,s); floats are NEVER harvested (IEEE
    * summation is order-dependent — a recorded float Σ could not
    * reproduce Spark's scan result bit-for-bit). Failures leave sums
    * unrecorded (folds then decline to the scan): the field is an
    * optimization, never a correctness dependency. */
  private def attachSums(spark: SparkSession, root: Path,
      entries: Seq[FileEntry], cols: Seq[String],
      phys: Map[String, String]): Seq[FileEntry] = {
    if (entries.isEmpty || cols.isEmpty) return entries
    // zero-row batches (empty commits, idle streaming micro-batches)
    // need no job: sumOf answers Σ-over-nothing for 0-row files
    // directly, so recording nothing is equally exact
    if (entries.forall(_.nRows == 0)) return entries
    try {
      val s = harvestSession(spark)
      val paths = entries.map(e => new Path(root, e.name).toString)
      val df = s.read.parquet(paths: _*)
      val fieldType = df.schema.fields.iterator
        .map(f => f.name -> f.dataType).toMap
      val eligible: Seq[(String, String, Int)] = cols.flatMap { c =>
        val pc = phys.getOrElse(c, c)
        fieldType.get(pc).collect {
          case org.apache.spark.sql.types.ByteType
             | org.apache.spark.sql.types.ShortType
             | org.apache.spark.sql.types.IntegerType
             | LongType => (c, pc, 0)
          case dt: org.apache.spark.sql.types.DecimalType =>
            (c, pc, dt.scale)
        }
      }
      if (eligible.isEmpty) return entries
      // sums AND per-column non-null counts: a NULL sum is only the
      // "no non-null rows" proof when the count is 0 — a DECIMAL(38)
      // overflow inside one file also nulls the sum, and recording
      // THAT as all-null would drop the file's contribution from a
      // total that Spark (whose buffer only checks overflow at final
      // eval) might still answer. Overflowed files stay unknown.
      val aggs = eligible.zipWithIndex.map { case ((_, pc, scale), i) =>
        sum(col(s"`$pc`").cast(
          org.apache.spark.sql.types.DecimalType(38, scale)))
          .as(s"s$i")
      } ++ eligible.zipWithIndex.map { case ((_, pc, _), i) =>
        count(col(s"`$pc`")).as(s"c$i")
      }
      val n = eligible.size
      val rows = df.groupBy(input_file_name().as("__graft_file"))
        .agg(aggs.head, aggs.tail: _*).collect()
      val byFile: Map[String, Row] =
        rows.iterator.map(r => uriFileName(r.getString(0)) -> r).toMap
      entries.map { e =>
        byFile.get(e.name) match {
          case None =>
            // a zero-row file emits no group: Σ over no rows is the
            // SQL-null sum for every eligible column (exact)
            if (e.nRows == 0)
              e.copy(sums = eligible.map { case (c, _, _) =>
                c -> (None: Option[java.math.BigDecimal]) }.toMap)
            else e
          case Some(r) =>
            e.copy(sums = eligible.zipWithIndex.flatMap {
              case ((c, _, _), i) =>
                if (!r.isNullAt(i + 1))
                  Some(c -> (Some(r.getDecimal(i + 1))
                    : Option[java.math.BigDecimal]))
                else if (r.getLong(1 + n + i) == 0L)
                  Some(c -> (None: Option[java.math.BigDecimal]))
                else None // overflow: unknown, never a false all-null
            }.toMap)
        }
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        // degradation only — folds decline to the scan — but it must
        // never be SILENT: a table quietly losing its Σ ledger forever
        // is unobservable otherwise
        log.warn(s"per-file sum harvest failed at $root " +
          s"(${entries.size} file(s) commit without recorded sums): $e")
        entries
    }
  }

  private def footerEntry(fs: FileSystem, conf: Configuration, p: Path,
      cols0: Seq[String], phys: Map[String, String] = Map.empty)
      : FileEntry = {
    // stats columns are LOGICAL in the manifest; the footer's chunks
    // are PHYSICAL — harvest under the physical name, record logical
    val cols = cols0
    // the byte length rides in the manifest so later PLANNING (the
    // relation's FileIndex, compaction bin-packing) never has to stat
    // or list anything — the Delta-log posture. HadoopInputFile
    // already statted the file; no extra RPC.
    if (cols.isEmpty) {
      // row count still comes from the footer; skip column stats work
      val inf = HadoopInputFile.fromPath(p, conf)
      val r = ParquetFileReader.open(inf)
      try return FileEntry(p.getName, r.getRecordCount, Map.empty,
        inf.getLength)
      finally r.close()
    }
    val inFile = HadoopInputFile.fromPath(p, conf)
    val reader = ParquetFileReader.open(inFile)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      import scala.jdk.CollectionConverters._
      val nRows = blocks.asScala.map(_.getRowCount).sum
      val harvested = cols.map { c =>
        val pc = phys.getOrElse(c, c) // physical chunk, logical key
        if (!schema.containsField(pc) ||
            !schema.getType(Seq(pc): _*).isPrimitive)
          (None, None)
        else {
          val prim = schema.getType(Seq(pc): _*).asPrimitiveType
          val chunks = blocks.asScala.map(_.getColumns.asScala
            .find(_.getPath.toDotString == pc))
          if (chunks.exists(_.isEmpty)) (None, None)
          else {
            val sts = chunks.map(_.get.getStatistics)
            // per-column NULL COUNT (exact when every chunk recorded
            // one) — the all-rows-match proof
            // [[graft.plans.VtMetadataAgg]] needs for null-rejecting
            // predicates; same pass, same footer
            val nullCount =
              if (sts.exists(s => s == null || !s.isNumNullsSet)) None
              else Some(c -> sts.map(_.getNumNulls).sum)
            // a chunk with NO recorded bounds is tolerable only when
            // its null count PROVES the chunk all-null. Parquet also
            // omits double/float bounds when a chunk contains NaN
            // (PARQUET-1222) while still setting numNulls — that
            // chunk's non-NaN values (and NaN itself) would fall
            // OUTSIDE a span reduced from its sibling chunks, so the
            // whole file's span is unknowable: "a recorded span
            // proves no NaN" holds per-CHUNK, never per-file.
            val span = if (sts.zip(blocks.asScala).exists {
                case (s, b) => s == null || (!s.hasNonNullValue &&
                  !(s.isNumNullsSet && s.getNumNulls == b.getRowCount))
              }) None
            else {
              val spans = sts.filter(_.hasNonNullValue).flatMap { s =>
                for {
                  mn <- normalize(prim, s.genericGetMin.asInstanceOf[AnyRef])
                  mx <- normalize(prim, s.genericGetMax.asInstanceOf[AnyRef])
                } yield (mn, mx)
              }
              if (spans.size != sts.count(_.hasNonNullValue))
                None // some chunk's bound we cannot normalize (or NaN)
              else if (spans.isEmpty)
                // every chunk boundless ⇒ (guard above) every chunk
                // provably all-null ⇒ the column is all-null
                Some(c -> None)
              else Some(c -> Some((
                spans.map(_._1).reduce((a, b) =>
                  if (cmp(a, b).exists(_ <= 0)) a else b),
                spans.map(_._2).reduce((a, b) =>
                  if (cmp(a, b).exists(_ >= 0)) a else b))))
            }
            (span, nullCount)
          }
        }
      }
      val stats = harvested.flatMap(_._1).toMap
      val nulls = harvested.flatMap(_._2).toMap
      FileEntry(p.getName, nRows, stats, inFile.getLength, nulls = nulls)
    } finally reader.close()
  }

  /** Normalize a parquet statistics value to Long / Double / String /
    * BigDecimal. DATE (epoch days) and TIMESTAMP (epoch micros)
    * columns normalize through their physical ints — pruning on them
    * compares in those units. DECIMALS decode their unscaled physical
    * value (int32/int64, or big-endian two's-complement bytes) at the
    * column's fixed scale, so every file of a column records the same
    * representation and BigDecimal equality is value equality. int96
    * is not normalized, and neither is a NaN float/double bound
    * (None → stat not collected). */
  private def normalize(prim: org.apache.parquet.schema.PrimitiveType,
      v: AnyRef): Option[Any] = {
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case _ if logical.isInstanceOf[
          LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
        val scale = logical.asInstanceOf[
          LogicalTypeAnnotation.DecimalLogicalTypeAnnotation].getScale
        v match {
          case n: Number => Some(java.math.BigDecimal.valueOf(
            n.longValue, scale))
          case b: org.apache.parquet.io.api.Binary =>
            Some(new java.math.BigDecimal(
              new java.math.BigInteger(b.getBytes), scale))
          case _ => None
        }
      case PrimitiveTypeName.INT32 => Some(v.asInstanceOf[Number].longValue)
      case PrimitiveTypeName.INT64 => logical match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          // unit-normalize to micros so the recorded span is writer-
          // conf independent; nanos bounds truncate (inexact) and are
          // therefore not collected
          ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              Some(TsMicros(v.asInstanceOf[Number].longValue * 1000L))
            case LogicalTypeAnnotation.TimeUnit.MICROS =>
              Some(TsMicros(v.asInstanceOf[Number].longValue))
            case _ => None
          }
        case _ => Some(v.asInstanceOf[Number].longValue)
      }
      case PrimitiveTypeName.FLOAT =>
        Some(v.asInstanceOf[Number].doubleValue).filterNot(_.isNaN)
      case PrimitiveTypeName.DOUBLE =>
        Some(v.asInstanceOf[Number].doubleValue).filterNot(_.isNaN)
      case PrimitiveTypeName.BINARY if logical.isInstanceOf[
          LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some(v.asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8)
      case _ => None
    }
  }

  /** Three-way compare of normalized span values against a caller
    * bound; None when the pair is incomparable (pruning then keeps the
    * file — conservative). Numeric cross-type compares go through
    * BigDecimal so `Long` spans test correctly against `Int`/`Double`
    * bounds; ±Infinity (legal in double footers, unparseable by
    * BigDecimal) compares as a double, and NaN on either side is
    * incomparable — the conservative keep, never a crash. */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    // UNSIGNED-BYTE order, not String.compareTo: parquet records
    // binary min/max and Spark (UTF8_BINARY) compares bytes, while
    // Java's UTF-16 order disagrees beyond ASCII (supplementary
    // characters vs U+E000..U+FFFF) — a UTF-16 reduce would record or
    // answer the wrong extremum for non-ASCII strings
    case (x: String, y: String) => Some(
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(
          org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    case (TsMicros(a), TsMicros(b)) =>
      Some(java.lang.Long.compare(a, b))
    case (x: Number, y: Number) =>
      val (dx, dy) = (x.doubleValue, y.doubleValue)
      if (dx.isNaN || dy.isNaN) None
      else if (dx.isInfinite || dy.isInfinite)
        Some(java.lang.Double.compare(dx, dy))
      else try {
        // float/double sides compare through their EXACT binary
        // value: Float widens to double exactly, and BigDecimal(d:
        // Double) is d's exact expansion. The toString route would
        // read a FloatType literal 0.1f as decimal "0.1" — a value
        // the float never equals — and misclassify files whose rows
        // equal the literal (spans store floats widened to double,
        // toString "0.10000000149011612"). Integral sides keep the
        // decimal-string path, exact beyond 2^53 where a double
        // round-trip is not.
        def bd(n: Number): java.math.BigDecimal = n match {
          case _: java.lang.Float | _: java.lang.Double =>
            new java.math.BigDecimal(n.doubleValue)
          case _ => new java.math.BigDecimal(n.toString)
        }
        Some(bd(x).compareTo(bd(y)))
      } catch { case _: NumberFormatException => None }
    case _ => None
  }

  private def encode(v: Any): String = v match {
    case l: Long => s"L$l"
    case TsMicros(l) => s"T$l"
    case bd: java.math.BigDecimal => s"C${bd.toPlainString}"
    case d: Double => s"D$d"
    case s: String =>
      "S" + java.net.URLEncoder.encode(s, "UTF-8")
    case other => throw new IllegalStateException(
      s"unencodable span value: $other")
  }

  private def decode(s: String): Any = s.charAt(0) match {
    case 'L' => s.drop(1).toLong
    case 'T' => TsMicros(s.drop(1).toLong)
    case 'C' => new java.math.BigDecimal(s.drop(1))
    case 'D' => s.drop(1).toDouble
    case 'S' => java.net.URLDecoder.decode(s.drop(1), "UTF-8")
    case _ => throw new IllegalStateException(s"bad span field: $s")
  }

  /** Entry line: `name TAB nRows TAB min1 TAB max1 ...` — two
    * fields per stats column; `- -` = not collected, `N N` = all-null
    * column. TRAILING TAGGED FIELDS follow the span fields, each
    * self-identified by its first character so parsers skip what they
    * do not know: `z<bytes>` the file's byte length,
    * `d<nDeleted>:<url-encoded-sidecar>` a deletion vector. Positioned
    * AFTER all span fields so parsers (which index by
    * stats-column count) never look at them. `u<n1>,<n2>,...`
    * records per-stats-column NULL COUNTS, aligned with the cols
    * order (`-` = unknown) — what lets [[graft.plans.VtMetadataAgg]]
    * prove a file ALL-IN for a null-rejecting predicate; entries
    * harvested before the field existed parse to unknown and simply
    * fall back to being scanned. `m<s1>,<s2>,...` records per-stats-
    * column EXACT SUMS the same way (`-` unknown, `N` no non-null
    * rows) — the `sum()`/`avg()` fold input. */
  private def formatEntry(e: FileEntry, cols: Seq[String]): String = {
    val fields = cols.flatMap { c =>
      e.stats.get(c) match {
        case None => Seq("-", "-")
        case Some(None) => Seq("N", "N")
        case Some(Some((mn, mx))) => Seq(encode(mn), encode(mx))
      }
    }
    val sz = if (e.size >= 0) Seq(s"z${e.size}") else Seq.empty
    val dv = e.dv.toSeq.map { case (sidecar, n) =>
      s"d$n:${java.net.URLEncoder.encode(sidecar, "UTF-8")}" }
    val nu =
      if (cols.isEmpty || cols.forall(c => !e.nulls.contains(c))) Seq.empty
      else Seq("u" + cols.map(c =>
        e.nulls.get(c).map(_.toString).getOrElse("-")).mkString(","))
    // `m<s1>,<s2>,...` — per-stats-column EXACT SUMS (plain decimal
    // strings; `-` = unknown, `N` = no non-null rows), aligned with
    // the cols order like `u`. A trailing tagged field: pre-sum
    // parsers skip it, so no reader feature — unlike the `T` span
    // tag, which rides inside fields parsers must decode
    // (`taggedSpans`).
    val sm =
      if (cols.isEmpty || cols.forall(c => !e.sums.contains(c))) Seq.empty
      else Seq("m" + cols.map(c =>
        e.sums.get(c).map {
          case None => "N"
          case Some(bd) => bd.toPlainString
        }.getOrElse("-")).mkString(","))
    // `q<set1>;<set2>;…` — per-stats-column EXACT DISTINCT VALUE SETS
    // (write-time bounded harvest; `-` = unknown/uncollected, `N` =
    // no non-null values, else comma-joined [[encode]]d values, sorted
    // for determinism). Values within a set use `,`, columns `;` —
    // both safe: numeric encodings carry neither, strings are
    // URL-encoded. A trailing tagged field like `u`/`m`: pre-dset
    // parsers skip it, no reader feature.
    val qs =
      if (cols.isEmpty || cols.forall(c => !e.dsets.contains(c)))
        Seq.empty
      else Seq("q" + cols.map(c =>
        e.dsets.get(c).map { s =>
          if (s.isEmpty) "N"
          else s.toSeq.map(encode).sorted.mkString(",")
        }.getOrElse("-")).mkString(";"))
    // `h<w1>;<w2>;…` — per-stats-column HLL++ NDV SKETCHES (base64 of
    // the big-endian register words; `-` = not harvested), aligned
    // with the cols order like `q`. The word count (recoverable from
    // the byte length) identifies the register layout, so a fold only
    // merges sketches whose precision matches the query's. A trailing
    // tagged field: pre-sketch parsers skip it, no reader feature.
    val hs =
      if (cols.isEmpty || cols.forall(c => !e.ndvs.contains(c)))
        Seq.empty
      else Seq("h" + cols.map(c =>
        e.ndvs.get(c).map(encodeWords).getOrElse("-")).mkString(";"))
    (Seq(e.name, e.nRows.toString) ++ fields ++ sz ++ dv ++ nu ++ sm ++
      qs ++ hs).mkString("\t")
  }

  /** Base64 (no padding) of HLL register words, 8 bytes big-endian
    * each — the manifest/checkpoint wire form of an NDV sketch. The
    * alphabet (`A-Za-z0-9+/`) is disjoint from the entry line's `\t`
    * and the tag's `;` separator. */
  private def encodeWords(ws: Seq[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(ws.size * 8)
    ws.foreach(bb.putLong)
    java.util.Base64.getEncoder.withoutPadding.encodeToString(bb.array)
  }

  private def decodeWords(s: String): Seq[Long] = {
    val bytes = java.util.Base64.getDecoder.decode(s)
    require(bytes.length % 8 == 0, s"bad NDV sketch length: ${bytes.length}")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Vector.fill(bytes.length / 8)(bb.getLong)
  }

  private def parseEntry(line: String, cols: Seq[String]): FileEntry = {
    val f = line.split('\t')
    val stats = cols.zipWithIndex.flatMap { case (c, i) =>
      (f.lift(2 + 2 * i), f.lift(3 + 2 * i)) match {
        case (Some("-"), _) | (None, _) => None
        case (Some("N"), _) => Some(c -> None)
        case (Some(mn), Some(mx)) => Some(c -> Some((decode(mn), decode(mx))))
        case _ => None
      }
    }.toMap
    val trailing = f.drop(2 + 2 * cols.size)
    val size = trailing.find(s => s.startsWith("z") && s.length > 1)
      .map(_.drop(1).toLong).getOrElse(-1L)
    val dv = trailing.find(s => s.startsWith("d") && s.contains(':'))
      .map { s =>
        val i = s.indexOf(':')
        (java.net.URLDecoder.decode(s.substring(i + 1), "UTF-8"),
          s.substring(1, i).toLong)
      }
    val nulls = trailing.find(s => s.startsWith("u") && s.length > 1)
      .map(_.drop(1).split(',')).map { parts =>
        cols.zip(parts.toSeq).collect {
          case (c, p) if p != "-" => c -> p.toLong
        }.toMap
      }.getOrElse(Map.empty[String, Long])
    val sums = trailing.find(s => s.startsWith("m") && s.length > 1)
      .map(_.drop(1).split(',')).map { parts =>
        cols.zip(parts.toSeq).collect {
          case (c, "N") => c -> (None: Option[java.math.BigDecimal])
          case (c, p) if p != "-" =>
            c -> (Some(new java.math.BigDecimal(p))
              : Option[java.math.BigDecimal])
        }.toMap
      }.getOrElse(Map.empty[String, Option[java.math.BigDecimal]])
    val dsets = trailing.find(s => s.startsWith("q") && s.length > 1)
      .map(_.drop(1).split(';')).map { parts =>
        cols.zip(parts.toSeq).collect {
          case (c, "N") => c -> Set.empty[Any]
          case (c, p) if p != "-" =>
            c -> p.split(',').iterator.map(decode).toSet
        }.toMap
      }.getOrElse(Map.empty[String, Set[Any]])
    val ndvs = trailing.find(s => s.startsWith("h") && s.length > 1)
      .map(_.drop(1).split(';')).map { parts =>
        cols.zip(parts.toSeq).collect {
          case (c, p) if p != "-" && p.nonEmpty => c -> decodeWords(p)
        }.toMap
      }.getOrElse(Map.empty[String, Seq[Long]])
    val nRows = f(1).toLong
    require(nRows >= 0, s"manifest entry ${f(0)} records a negative " +
      s"row count ($nRows)")
    FileEntry(f(0), nRows, stats, size, dv, nulls, sums, dsets, ndvs)
  }

  // ---- segmented manifest internals -----------------------------------

  /** One `seg:<name>:<nEntries>` reference line of a segmented
    * manifest. */
  private final case class SegRef(name: String, n: Int)

  private def parseSegRef(line: String): SegRef = {
    require(line.startsWith("seg:"), s"bad segment ref line: $line")
    val body = line.stripPrefix("seg:")
    val i = body.lastIndexOf(':')
    require(i > 0, s"bad segment ref line: $line")
    SegRef(body.substring(0, i), body.substring(i + 1).toInt)
  }

  /** Parse a segment file: header, `stats:` line (which must agree
    * with the referencing manifest's — the reuse rule only ever
    * carries a segment into manifests with identical stats columns,
    * so a mismatch is corruption, not evolution), then entry lines. */
  private def readSegment(fs: FileSystem, root: Path, name: String,
      cols: Seq[String]): Seq[FileEntry] = {
    val p = new Path(root, s"$LogDir/$name")
    val lines = readLines(fs, p)
    require(lines.headOption.contains(SegHeader),
      s"segment $p carries unknown header ${lines.headOption.orNull} " +
        "— written by a newer graft version (or corrupt); refusing " +
        "rather than misreading its entries")
    require(listOf(lines(1).stripPrefix("stats:")) == cols,
      s"segment $p was written with stats columns ${lines(1)} but the " +
        s"manifest declares ${if (cols.isEmpty) "-" else cols.mkString(",")}")
    lines.drop(2).map(parseEntry(_, cols))
  }

  private def readSegmentCached(fs: FileSystem, root: Path, name: String,
      cols: Seq[String]): Seq[FileEntry] = {
    // the key carries the declared stats columns, so a (corrupt)
    // manifest declaring different cols can never parse a stale hit
    // keyed under the other layout — every hit has passed the cold
    // path's stats-cols agreement check for ITS cols
    val key = new Path(root, s"$LogDir/$name").toString +
      " " + cols.mkString(",")
    val cached = segmentCache.get(key)
    if (cached != null) { segmentCacheHitsVar.incrementAndGet(); return cached }
    val parsed = readSegment(fs, root, name, cols)
    // single-shot accounting: only the thread whose put landed counts
    // the entries toward the clear threshold (two racers would
    // otherwise both add while the map stores one copy)
    if (segmentCache.putIfAbsent(key, parsed) == null &&
        segmentCacheEntries.addAndGet(parsed.size) > SegmentCacheMaxEntries) {
      segmentCache.clear()
      segmentCacheEntries.set(0L)
    }
    parsed
  }

  /** Write `entries` as one immutable segment file and return its ref.
    * Unique uuid name — never promoted, never overwritten: a segment
    * is invisible until a manifest references it, so a crash here
    * leaves only an orphan for [[vacuumUnreferenced]]'s TTL sweep. */
  private def writeSegment(fs: FileSystem, root: Path,
      cols: Seq[String], entries: Seq[FileEntry]): SegRef = {
    val name = s"s-${java.util.UUID.randomUUID}.segment"
    val out = fs.create(new Path(root, s"$LogDir/$name"), false)
    try out.write((Seq(SegHeader, s"stats:${listValue(cols)}")
      ++ entries.map(formatEntry(_, cols)))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    SegRef(name, entries.size)
  }

  /** The segment files a version's manifest references (empty for
    * inline layouts) — the retention unit [[expire]] / vacuum account
    * in addition to data files and DV sidecars. Reads the header plus
    * the (tiny) ref list, never entry lines. */
  private[graft] def segmentRefsOf(fs: FileSystem, root: Path,
      version: Int): Seq[String] = {
    val mf = new Path(root, f"$LogDir/v$version%05d.manifest")
    if (!readHeaderAt(fs, mf).segmented) Seq.empty
    else readLines(fs, mf).drop(HeaderLines).map(parseSegRef(_).name)
  }

  /** Spec/entry observability: the segment names version `version`
    * references (empty = inline manifest). */
  def segmentNames(spark: SparkSession, path: String,
      version: Int): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    segmentRefsOf(fs, root, version)
  }

  /** Build the segmented body: reuse every previous-version segment
    * whose entries are ALL carried into `entries` formatted-identically
    * (same codec bytes under the same stats cols ⇒ a reader of the
    * reused segment parses exactly what an inline manifest would have
    * given it), write the rest as fresh [[SegmentMaxEntries]]-sized
    * segments, and compact the ref list wholesale when it would
    * outgrow [[MaxSegments]]. Returns the ref lines. */
  private def segmentedBody(fs: FileSystem, root: Path, v: Int,
      cols: Seq[String], entries: Seq[FileEntry]): Seq[String] = {
    val prevSegs: Seq[(SegRef, Seq[FileEntry])] =
      if (v == 0) Seq.empty
      else try {
        val pm = new Path(root, f"$LogDir/v${v - 1}%05d.manifest")
        if (!fs.exists(pm)) Seq.empty
        else {
          val h = readHeaderAt(fs, pm)
          if (h.segmented && h.statsCols == cols)
            readLines(fs, pm).drop(HeaderLines).map(parseSegRef).map(r =>
              r -> readSegmentCached(fs, root, r.name, cols))
          else Seq.empty
        }
      } catch {
        // reuse is an optimization, never a correctness dependency:
        // an unreadable previous manifest (expired mid-read, corrupt)
        // just means fresh segments this commit
        case scala.util.control.NonFatal(_) => Seq.empty
      }
    val newByName = entries.iterator.map(e => e.name -> e).toMap
    def carried(se: FileEntry): Boolean =
      newByName.get(se.name).exists(ne =>
        formatEntry(ne, cols) == formatEntry(se, cols))
    val reused = prevSegs.filter { case (_, ses) =>
      ses.nonEmpty && ses.forall(carried) }
    val consumed = reused.iterator
      .flatMap(_._2.iterator.map(_.name)).toSet
    val fresh = entries.filterNot(e => consumed.contains(e.name))
    val proposed = reused.size +
      (fresh.size + SegmentMaxEntries - 1) / SegmentMaxEntries
    // fold trigger is RELATIVE to the table's irreducible segment
    // count (ceil(n / SegmentMaxEntries)): a table too large to fit
    // MaxSegments segments folds only when refs reach 2× its floor,
    // so the full metadata rewrite stays one per ~floor commits —
    // amortized O(delta) at every table size, never per-commit
    val floorSegs = math.max(1,
      (entries.size + SegmentMaxEntries - 1) / SegmentMaxEntries)
    val refs =
      if (proposed > math.max(MaxSegments, 2 * floorSegs))
        entries.grouped(SegmentMaxEntries).toSeq
          .map(writeSegment(fs, root, cols, _))
      else reused.map(_._1) ++ (if (fresh.isEmpty) Seq.empty
        else fresh.grouped(SegmentMaxEntries).toSeq
          .map(writeSegment(fs, root, cols, _)))
    refs.map(r => s"seg:${r.name}:${r.n}")
  }

  /** Write the manifest to a temp name and PROMOTE it — the commit
    * point. Returns false on a lost race (a manifest for this version
    * already exists) so the caller can re-resolve and retry; any other
    * failure throws. Promotion is atomic-no-overwrite per the contract
    * in the class scaladoc: `link(2)` on local filesystems (EEXIST is
    * atomic at the kernel — no check-then-act window), the
    * no-overwrite rename contract on HDFS. */
  private def tryWriteManifest(fs: FileSystem, root: Path, v: Int,
      mode: String, txnId: Option[String], cols: Seq[String],
      schemaJson: String, entries: Seq[FileEntry],
      onBeforePromote: () => Unit = () => (),
      pendingTxn: Option[String] = None): Boolean = {
    val dest = new Path(root, f"$LogDir/v$v%05d.manifest")
    if (fs.exists(dest)) return false // fast-path; the promote re-checks
    val segmented = entries.size >= segmentThresholdVar
    val (st, retired) = decodeSchemaFull(schemaJson)
    val features = Seq(
      FDeletionVectors -> entries.exists(_.dv.nonEmpty),
      FColumnMapping -> (retired.nonEmpty || schemaHasMapping(st)),
      FTaggedSpans -> entries.exists(hasTaggedSpan),
      FSegments -> segmented).collect { case (f, true) => f }
    // segmented bodies list `seg:` refs — the reused ones verbatim
    // from v-1, the delta as fresh immutable segment files written
    // here (before the promote: a lost race or crash strands only
    // uuid-named orphans for the vacuum TTL sweep, never a reader)
    val body =
      if (segmented) segmentedBody(fs, root, v, cols, entries)
      else entries.map(formatEntry(_, cols))
    val tmp = new Path(root,
      f"$LogDir/.v$v%05d.manifest.${java.util.UUID.randomUUID}.tmp")
    val out = fs.create(tmp, true)
    try out.write((Seq(Header, mode, s"txn:${txnId.getOrElse("-")}",
      s"stats:${listValue(cols)}",
      s"nfiles:${entries.size}",
      s"schema:${java.net.URLEncoder.encode(schemaJson, "UTF-8")}",
      s"ts:${System.currentTimeMillis()}",
      "pending:" + pendingTxn.map(u =>
        java.net.URLEncoder.encode(u, "UTF-8")).getOrElse("-"),
      s"features:${listValue(features)}")
      ++ body)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    onBeforePromote()
    // last-moment DROP check: a commit whose listing predates the
    // tombstone must not land into a table being purged (the residual
    // — tombstone AND directory gone between this check and the
    // promote — leaves only LOUD failures: a resurrected root whose
    // carried files are missing can never answer a query)
    if (isDropped(fs, root)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"table $root is DROPPED — refusing to commit into a table " +
          "being purged")
    }
    val won = atomicPromote(fs, tmp, dest)
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Atomic no-overwrite promotion of `tmp` to `dest`, delegated to
    * the installed [[CommitCoordinator]] (the pluggable commit-point
    * seam — see that trait's scaladoc for exactly which filesystem
    * gets which implementation). The default [[FsCommitCoordinator]]
    * is the historical behavior: `link(2)` EEXIST on `file:`,
    * contract rename on HDFS. */
  private def atomicPromote(fs: FileSystem, tmp: Path, dest: Path): Boolean =
    coordinator.tryPublish(fs, tmp, dest)

  @volatile private var coordinator: CommitCoordinator =
    FsCommitCoordinator

  /** Install the process-wide commit coordinator (a deployment-level
    * knob set ONCE at startup — Delta's `logStore.class` posture).
    * Default: [[FsCommitCoordinator]] (correct unconfigured on local
    * FS and HDFS); object-store deployments install a
    * [[ConditionalPutCoordinator]] backed by their store's
    * conditional PUT. */
  def setCommitCoordinator(c: CommitCoordinator): Unit = {
    require(c != null, "null coordinator")
    coordinator = c
  }

  /** The installed coordinator (spec/observability hook). */
  def commitCoordinator: CommitCoordinator = coordinator

  /** Decoded file name of an `input_file_name()` value (URI-escaped —
    * the [[TargetedDelete]] discipline). */
  private def uriFileName(f: String): String =
    try new Path(new java.net.URI(f)).getName
    catch { case _: java.net.URISyntaxException => new Path(f).getName }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** First `n` lines of a file, reading no further — the header-only
    * manifest path (a 100k-file manifest's header costs nine lines, not
    * the list). */
  private def readHeadLines(fs: FileSystem, p: Path, n: Int): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .take(n).toList
    finally in.close()
  }
}
