package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.operators.VersionedTable

/** Structured-Streaming SOURCE over a [[VersionedTable]] — the CDC-out
  * half of the versioned-sink loop (`st_versioned_sink` writes the
  * table one commit per micro-batch; this tails it one micro-batch per
  * commit window), the `readChangeFeed` analog for the engine's commit
  * log.
  *
  * {{{
  *   spark.readStream
  *     .format(classOf[graft.sources.VtStreamSource].getName)
  *     .option("path", table)                 // required
  *     .option("startingVersion", "3")        // optional: tail after v3
  *     .option("maxVersionsPerTrigger", "10") // optional: batch cap
  *     .option("skipChangeCommits", "true")   // optional: ride over
  *     .load()                                //   deletes/compactions
  * }}}
  *
  * `snapshotFilesPerTrigger=N` chunks the INITIAL SNAPSHOT into
  * bounded file windows (Delta's maxFilesPerTrigger-over-the-snapshot
  * posture): the first offsets walk the pinned version's manifest
  * `[0,N) [N,2N) …` — at 100 TB the snapshot arrives as many bounded
  * micro-batches instead of one table-sized one, and a crash mid-walk
  * resumes at the checkpointed FILE watermark (manifests are
  * immutable, so a replayed slice re-reads identically). Tail windows
  * after the snapshot are version-granular as before.
  *
  * `snapshotFilesPerTrigger` COMPOSES with `readChangeFeed` (Delta's
  * initial-snapshot CDF posture): the pinned latest version arrives
  * first as chunked `_change_type='insert'` rows stamped with its
  * `_commit_version`, then every later commit delivers as typed
  * change rows — one stream bootstraps a downstream view AND keeps it
  * incrementally maintained. Plain `readChangeFeed` (no snapshot
  * option) still replays full history from v0's insert set.
  *
  * OFFSETS ARE VERSIONS. Each offset is the table version consumed
  * through (inclusive), so a micro-batch is exactly one
  * [[VersionedTable.readAppendsSince]] window — the file DIFF of two
  * immutable manifests. That makes delivery EXACTLY-ONCE by
  * construction: Spark's offset log records the window, manifests
  * never change, so a crash-replayed `getBatch(start, end)` re-reads
  * the identical rows (the determinism contract V1 sources must
  * honor), and a restarted stream resumes from its checkpointed
  * version. No listener, no polling thread — `getOffset` is ONE
  * directory listing per trigger, and the batch plan is a plain
  * parquet scan of only the window's files (pushdown/pruning intact).
  *
  * FIRST BATCH: with no `startingVersion`, the initial micro-batch is
  * the FULL SNAPSHOT of the latest version at start (Delta's initial
  * snapshot semantics) and the stream tails appends from there. With
  * `startingVersion=N`, the stream delivers only appends AFTER
  * version N — the consumer already holds N (its saved watermark).
  * `startingTimestamp=T` (epoch millis or a timestamp literal) is the
  * wall-clock twin, INCLUSIVE: commits at-or-after T deliver; a T
  * predating the whole table degrades to the full snapshot + tail
  * ("everything since T" when the table is younger than T), never an
  * error. Mutually exclusive with `startingVersion`.
  *
  * REFUSALS ARE LOUD, never wrong rows: a non-append commit
  * (overwrite / delete / merge / OPTIMIZE) inside a tail window makes
  * the file diff no longer row-level adds, and the underlying
  * `readAppendsSince` refuses — the stream fails with the re-baseline
  * message instead of emitting phantom rows. A `startingVersion`
  * that [[VersionedTable.expire]] already dropped raises the
  * distinguishable `VersionExpiredException` ("re-baseline"), not a
  * generic crash. At 100 TB this is the property that matters:
  * downstream consumers can trust that what arrived is exactly what
  * was appended, or the pipeline stops and says why.
  */
final class VtStreamSource extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-vt"

  /** BATCH READ (`spark.read.format("graft-vt").load(dir)`): a
    * [[org.apache.spark.sql.execution.datasources.HadoopFsRelation]]
    * over a manifest-backed [[VtFileIndex]], so `.where(...)` filters
    * prune files from the COMMIT LOG'S SPANS inside normal Catalyst
    * resolution — no API-level `prunedReadWhere` call needed — and the
    * scan itself is the stock vectorized parquet path (column pruning,
    * row-group pushdown, codegen all intact). Time travel via
    * `.option("versionAsOf", v)` or `.option("timestampAsOf", ts)`
    * (epoch millis, or `yyyy-MM-dd[ HH:mm:ss]` read as UTC). The
    * recorded schema plans the read, so a scan spanning a column-add
    * evolution point back-fills nulls exactly like
    * [[VersionedTable.read]]. */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]):
      org.apache.spark.sql.sources.BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    require(!(parameters.contains("versionAsOf") &&
        parameters.contains("timestampAsOf")),
      "graft-vt: versionAsOf and timestampAsOf are mutually exclusive")
    val v = parameters.get("versionAsOf").map(_.toInt)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        VersionedTable.versionAsOf(spark, path, parseUtcMillis(ts))))
      .orElse(VersionedTable.latestVersion(spark, path))
      .getOrElse(throw new IllegalStateException(
        s"graft-vt: no committed versions at $path"))
    val entries = VersionedTable.readEntries(spark, path, v)
    val dataSchema = VersionedTable.schemaOf(spark, path, v)
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new VtFileIndex(spark, path, v, entries, dataSchema),
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources
        .parquet.ParquetFileFormat,
      options = Map.empty)(spark)
  }

  /** BATCH WRITE (`df.write.format("graft-vt").mode(m).save(dir)`):
    * one [[VersionedTable.commit]] per save — Append appends,
    * Overwrite replaces, ErrorIfExists/Ignore follow their SaveMode
    * contracts against "any version committed". Options: `statsCols`
    * (comma list) and `txnId` (idempotent replay), both forwarded to
    * the commit. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val txnId = parameters.get("txnId")
    val exists = VersionedTable.latestVersion(spark, path).nonEmpty
    mode match {
      case SaveMode.Append =>
        // ALWAYS overwrite=false: commitImpl handles append-on-empty
        // (v0 base, carried files = empty), and flipping to overwrite
        // when !exists is a check-then-act race — two concurrent first
        // appends would both observe exists=false and the commit retry
        // loop would land the loser as an overwrite that replaces the
        // winner's rows. ErrorIfExists/Ignore below keep their
        // inherent SaveMode-level TOCTOU (the contract itself is
        // check-then-act); they are for single-writer bootstrap only.
        VersionedTable.commit(data, path, overwrite = false,
          txnId = txnId, statsCols = statsCols): Unit
      case SaveMode.Overwrite =>
        VersionedTable.commit(data, path, overwrite = true,
          txnId = txnId, statsCols = statsCols): Unit
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft-vt: $path already has committed versions " +
            "(SaveMode.ErrorIfExists)")
        VersionedTable.commit(data, path, overwrite = true,
          txnId = txnId, statsCols = statsCols): Unit
      case SaveMode.Ignore =>
        if (!exists)
          VersionedTable.commit(data, path, overwrite = true,
            txnId = txnId, statsCols = statsCols): Unit
    }
    createRelation(sqlContext, parameters)
  }

  /** Epoch millis (negative allowed), or ISO-8601
    * `yyyy-MM-dd[ HH:mm:ss]` / `yyyy-MM-ddTHH:mm:ss` interpreted as
    * UTC (a fixed zone, so a timestamp-travel option means the same
    * commit on every machine that runs the job). */
  private def parseUtcMillis(s: String): Long = {
    val isEpoch = s.nonEmpty && {
      val digits = if (s.head == '-') s.tail else s
      digits.nonEmpty && digits.forall(_.isDigit)
    }
    if (isEpoch) s.toLong
    else {
      val t =
        if (s.contains('T')) s // already ISO 'T'-separated
        else if (s.contains(' ')) s.replace(' ', 'T')
        else s + "T00:00:00"
      java.time.LocalDateTime.parse(t)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
  }

  /** The SINK half (`df.writeStream.format("graft-vt")`): every
    * micro-batch becomes ONE versioned commit with a batchId-derived
    * txnId, so delivery into the table is exactly-once under
    * foreachBatch-style replays — the `st_versioned_sink` pattern as a
    * first-class format instead of hand-rolled glue. CHECK constraints
    * gate every batch for free (they live in the commit path).
    *
    *  - `OutputMode.Append` → append commit per batch;
    *  - `OutputMode.Complete` → overwrite commit per batch (the
    *    replace-the-result shape aggregation streams emit);
    *  - `OutputMode.Update` + `.option("mergeKeys", "k1,k2")` →
    *    [[VersionedTable.mergeInto]] per batch (upsert by key), with
    *    optional `.option("tombstoneCol", c)` for CDC deletes; an
    *    empty table bootstraps with a schema-only v0 so the first
    *    merge has a target (idempotent via its own txnId).
    *
    * Options: `path` (required), `statsCols` (comma list — manifest
    * spans + footer blooms for the table's index columns), `txnPrefix`
    * (default `vtsink`; set it when DIFFERENT streams write one table,
    * so their batchId spaces cannot collide),
    * `deletionVectors=true` (merge mode only) — each micro-batch's
    * matched pre-images mask via a delta-sized sidecar instead of
    * rewriting the touched files, so steady scattered CDC traffic
    * writes O(batch) bytes per trigger instead of O(touched files);
    * pair it with `compactSmallEvery`, whose packing pass MATERIALIZES
    * the accumulated vectors of the files it rewrites. Hive-style
    * `partitionBy` is refused — layout inside a versioned table is
    * owned by clustering (`compact(clusterBy)`), not directory trees.
    *
    * AUTO-MAINTENANCE (the long-running pipeline's two chores, run by
    * the sink itself so nobody has to remember a cron):
    *  - `compactSmallEvery=N` — every N-th batch, run
    *    [[VersionedTable.compactSmall]] (pack only the per-batch small
    *    files into ~128 MB ones; big files carry untouched). Repairs
    *    the sink's natural failure mode — one small file per
    *    micro-batch — as it happens. The compaction is an `optimize`
    *    commit: an append-only DOWNSTREAM incremental consumer of this
    *    table should read with `skipChangeCommits` (rides over it) —
    *    the same posture any OPTIMIZE requires.
    *  - `retainLast=K` — after each batch, [[VersionedTable.expire]]
    *    all but the last K versions (bounded log + storage under an
    *    infinite stream). A downstream consumer that falls more than K
    *    batches behind gets the distinguishable re-baseline signal,
    *    never wrong rows — size K to the consumer lag you tolerate.
    * Both run AFTER the batch's own commit; a replayed batch re-runs
    * them harmlessly (compactSmall no-ops under the threshold, expire
    * of already-expired versions is empty). */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    val path = pathOf(parameters)
    require(partitionColumns.isEmpty,
      "graft-vt sink: partitionBy is not supported — cluster the " +
        "table with compact(clusterBy) instead")
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val txnPrefix = parameters.getOrElse("txnPrefix", "vtsink")
    val mergeKeys = parameters.get("mergeKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val tombstoneCol = parameters.get("tombstoneCol")
    require(tombstoneCol.isEmpty || mergeKeys.nonEmpty,
      "graft-vt sink: tombstoneCol needs mergeKeys (deletes are " +
        "matched by key)")
    val sinkClusterBy = parameters.get("clusterBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    require(sinkClusterBy.isEmpty || mergeKeys.nonEmpty,
      "graft-vt sink: clusterBy applies to merge-mode rewrites — " +
        "append/complete layout belongs to the producer's partitioning")
    import org.apache.spark.sql.streaming.OutputMode
    val overwrite = outputMode match {
      case m if m == OutputMode.Complete() =>
        require(mergeKeys.isEmpty, "graft-vt sink: mergeKeys is an " +
          "Update-mode posture; Complete rewrites the whole result")
        true
      case m if m == OutputMode.Update() =>
        require(mergeKeys.nonEmpty, "graft-vt sink: Update mode needs " +
          ".option(\"mergeKeys\", ...) — updates are matched by key")
        false
      case _ => false // Append
    }
    val deletionVectors = parameters.get("deletionVectors")
      .exists(_.toBoolean)
    require(!deletionVectors || mergeKeys.nonEmpty,
      "graft-vt sink: deletionVectors applies to merge-mode scattered " +
        "DML (appends delete nothing; Complete replaces the table)")
    val compactEvery = parameters.get("compactSmallEvery").map(_.toInt)
    require(compactEvery.forall(_ >= 1),
      s"compactSmallEvery must be >= 1: $compactEvery")
    val retainLast = parameters.get("retainLast").map(_.toInt)
    require(retainLast.forall(_ >= 1),
      s"retainLast must be >= 1: $retainLast")
    new VtSink(sqlContext.sparkSession, path, statsCols, txnPrefix,
      mergeKeys, tombstoneCol, overwrite, sinkClusterBy,
      compactEvery, retainLast, deletionVectors)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-vt stream source requires .option(\"path\", <table dir>)"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val path = pathOf(parameters)
    require(!(parameters.get("skipChangeCommits").exists(_.toBoolean) &&
        parameters.get("readChangeFeed").exists(_.toBoolean)),
      "skipChangeCommits and readChangeFeed are mutually exclusive " +
        "postures (ignore change commits vs emit their row changes)")
    val spark = sqlContext.sparkSession
    val table = schema.orElse(VersionedTable.latestVersion(spark, path)
      .map(VersionedTable.schemaOf(spark, path, _)))
      .getOrElse(throw new IllegalStateException(
      s"graft-vt source at $path: no committed versions and no " +
        "user-provided schema — commit version 0 first or pass .schema()"))
    val resolved =
      if (!parameters.get("readChangeFeed").exists(_.toBoolean)) table
      else StructType(table.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.IntegerType, nullable = false)))
    (shortName(), resolved)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    val (_, resolved) =
      sourceSchema(sqlContext, schema, providerName, parameters)
    // startingTimestamp: the wall-clock twin of startingVersion —
    // resolve against the commit log's recorded timestamps ONCE at
    // source creation (epoch millis, or a 'yyyy-mm-dd hh:mm:ss'
    // literal in the JVM zone). INCLUSIVE: commits at-or-after the
    // timestamp DELIVER, so the consumer's held state is the latest
    // version strictly BEFORE it; a timestamp predating the whole
    // table means "everything" and falls back to the ordinary full
    // snapshot + tail (never an error).
    require(!(parameters.contains("startingTimestamp") &&
        parameters.contains("startingVersion")),
      "graft-vt source: startingVersion and startingTimestamp are " +
        "mutually exclusive — pick one start coordinate")
    val startingTs = parameters.get("startingTimestamp").flatMap { s =>
      val ms =
        if (s.forall(_.isDigit)) s.toLong
        else java.sql.Timestamp.valueOf(s).getTime
      VersionedTable.versions(sqlContext.sparkSession, path)
        .takeWhile(_.timestampMs < ms).lastOption.map(_.version)
    }
    val startingVersion =
      startingTs.orElse(parameters.get("startingVersion").map(_.toInt))
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.toInt)
    require(maxVersions.forall(_ >= 1),
      s"maxVersionsPerTrigger must be >= 1: $maxVersions")
    val skipChanges = parameters.get("skipChangeCommits")
      .exists(_.toBoolean)
    val changeFeed = parameters.get("readChangeFeed").exists(_.toBoolean)
    val snapshotFiles = parameters.get("snapshotFilesPerTrigger")
      .map(_.toInt)
    require(snapshotFiles.forall(_ >= 1),
      s"snapshotFilesPerTrigger must be >= 1: $snapshotFiles")
    // snapshotFilesPerTrigger + readChangeFeed COMPOSE (Delta's
    // initial-snapshot CDF posture): the pinned latest version
    // arrives first as chunked `insert` change rows, then versions
    // after it deliver as typed changes — a 100 TB consumer
    // bootstrapping a downstream view needs exactly this (plain
    // readChangeFeed instead replays history from v0).
    new VtSource(sqlContext.sparkSession, path, resolved, startingVersion,
      maxVersions, skipChanges, changeFeed, snapshotFiles)
  }
}

/** One micro-batch = one versioned commit (or merge). Exactly-once:
  * the txnId is `<prefix>-<batchId>`, and the commit path no-ops on a
  * replayed id — the crash window between "commit landed" and "Spark's
  * offset log advanced" re-offers the same batchId harmlessly. */
private final class VtSink(spark: SparkSession, path: String,
    statsCols: Seq[String], txnPrefix: String, mergeKeys: Seq[String],
    tombstoneCol: Option[String], overwrite: Boolean,
    clusterBy: Seq[String] = Seq.empty,
    compactSmallEvery: Option[Int] = None,
    retainLast: Option[Int] = None,
    deletionVectors: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = Bridge.asBatchFrame(data)
    val txn = Some(s"$txnPrefix-$batchId")
    if (mergeKeys.isEmpty) {
      VersionedTable.commit(batch, path, overwrite = overwrite,
        txnId = txn, statsCols = statsCols): Unit
    } else {
      // merge needs a committed target: an empty table bootstraps with
      // a schema-only v0 (its own txnId — a replayed first batch
      // re-enters here and both commits no-op)
      if (VersionedTable.latestVersion(spark, path).isEmpty)
        VersionedTable.commit(
          tombstoneCol.foldLeft(batch.limit(0))(_ drop _), path,
          overwrite = true, txnId = Some(s"$txnPrefix-init"),
          statsCols = statsCols): Unit
      VersionedTable.mergeInto(spark, path, batch, mergeKeys,
        txnId = txn, tombstoneCol = tombstoneCol,
        clusterBy = clusterBy, deletionVectors = deletionVectors): Unit
    }
    // auto-maintenance AFTER the batch's commit (see createSink doc):
    // batchId-keyed cadence is deterministic across replays, and both
    // chores are no-ops when there is nothing to do
    if (compactSmallEvery.exists(n => batchId % n == n - 1))
      VersionedTable.compactSmall(spark, path): Unit
    retainLast.foreach(k => VersionedTable.expire(spark, path, k))
  }

  override def toString: String = s"VtSink[$path]"
}

/** Mid-snapshot offset: version `v` consumed through file index `f`
  * (exclusive) of its manifest's entry order. Tail offsets stay plain
  * `LongOffset(v)` — existing checkpoints parse unchanged. */
private final case class VtSnapshotOffset(v: Int, f: Int)
    extends Offset {
  override def json: String = s"""{"v":$v,"f":$f}"""
}

private final class VtSource(spark: SparkSession, path: String,
    override val schema: StructType,
    startingVersion: Option[Int],
    maxVersionsPerTrigger: Option[Int],
    skipChangeCommits: Boolean,
    readChangeFeed: Boolean,
    snapshotFilesPerTrigger: Option[Int] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {

  /** (version, filesConsumed) — filesConsumed < 0 means the version is
    * fully consumed (tail mode). Accepts plain-int tail offsets (the
    * pre-chunking wire format) and `{"v":V,"f":K}` snapshot offsets. */
  private def parseOffset(
      o: org.apache.spark.sql.connector.read.streaming.Offset):
      (Int, Int) = {
    val s = o.json.trim
    if (!s.startsWith("{")) (s.toInt, -1)
    else {
      val m = """\{"v":(-?\d+),"f":(-?\d+)\}""".r
      s match {
        case m(v, f) => (v.toInt, f.toInt)
        case _ => throw new IllegalStateException(
          s"unrecognized graft-vt offset: $s")
      }
    }
  }

  private def versionOf(
      o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
    parseOffset(o)._1

  /** File count of a version's manifest — cached per version (the
    * manifest is immutable, so the count can never change). */
  private val fileCounts =
    new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private def nFiles(v: Int): Int =
    fileCounts.computeIfAbsent(v,
      _ => VersionedTable.files(spark, path, v).size)

  /** Trigger.AvailableNow: pin the end version at trigger start so the
    * run drains exactly the versions that existed then and stops —
    * commits landing mid-run wait for the next trigger. A table with
    * no version yet pins to the -1 sentinel, so such a run emits
    * nothing rather than chasing a producer that starts mid-run. */
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap =
      Some(VersionedTable.latestVersion(spark, path).getOrElse(-1))

  /** One directory listing; None until the table has a version past
    * the starting watermark (the engine then skips the trigger). */
  override def getOffset: Option[Offset] = {
    val latest = VersionedTable.latestVersion(spark, path)
    availableNowCap.map(c => latest.map(_.min(c)).filter(_ >= 0))
      .getOrElse(latest) match {
      case Some(v) if startingVersion.forall(v > _) => Some(LongOffset(v))
      case _ => None
    }
  }

  /** Admission-control twin of [[getOffset]] (the engine calls this
    * once a source declares AvailableNow support). A commit is the
    * atomic admission unit — `maxVersionsPerTrigger` bounds how many
    * of them one micro-batch may cover (the maxFilesPerTrigger
    * analog), so a consumer catching up on a deep backlog processes
    * bounded windows instead of one giant batch; AvailableNow then
    * drains the backlog as a SEQUENCE of capped micro-batches. The
    * initial snapshot (no start offset, no startingVersion) is one
    * version's content and is never split. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.map { o =>
      val latest = versionOf(o)
      val base = Option(start).map(parseOffset)
        .orElse(startingVersion.map((_, -1)))
      base match {
        // mid-snapshot of version v: advance the FILE watermark; the
        // snapshot pins v even if the table moved on — tail windows
        // catch up afterwards
        case Some((v, f)) if f >= 0 =>
          val total = nFiles(v)
          val k = snapshotFilesPerTrigger
            .map(c => math.min(f + c, total)).getOrElse(total)
          if (k >= total) LongOffset(v) else VtSnapshotOffset(v, k)
        // fresh start with chunking: begin the snapshot of `latest`
        // as bounded file windows (the 100 TB first-batch fix)
        case None if snapshotFilesPerTrigger.isDefined =>
          val total = nFiles(latest)
          val k = math.min(snapshotFilesPerTrigger.get, total)
          if (k >= total) LongOffset(latest)
          else VtSnapshotOffset(latest, k)
        // tail (or unchunked snapshot): version-granular admission
        case _ =>
          (base.map(_._1), maxVersionsPerTrigger) match {
            case (Some(b), Some(n)) => LongOffset(math.min(latest, b + n))
            case _ => LongOffset(latest)
          }
      }
    }.orNull

  /** Snapshot rows in CDF dress: the pinned version's content typed
    * as `insert` at its commit version — what a composed
    * snapshot+change-feed stream emits before tailing real changes
    * (Delta's initial-snapshot CDF shape). */
  private def asInsertChanges(df: DataFrame, v: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (endV, endF) = parseOffset(end)
    val from = start.map(parseOffset).orElse(startingVersion.map((_, -1)))
    val batch = from match {
      // first snapshot chunk: files [0, endF) of endV's manifest order
      case None if endF >= 0 =>
        val slice = VersionedTable.readFileSlice(spark, path, endV, 0, endF)
        if (readChangeFeed) asInsertChanges(slice, endV) else slice
      // snapshot continuation (or its crash-replay): files [f, hi) of
      // the SAME pinned version — manifests are immutable, so the
      // slice re-reads identically
      case Some((v, f)) if f >= 0 =>
        val hi = if (endF >= 0) endF else nFiles(v)
        val slice = VersionedTable.readFileSlice(spark, path, v, f, hi)
        if (readChangeFeed) asInsertChanges(slice, v) else slice
      case _ =>
        val fromV = from.map(_._1)
        if (fromV.exists(_ >= endV))
          // replay alignment edge: nothing new in (from, endV]; the
          // empty snapshot shape comes from the recorded schema
          if (readChangeFeed) VersionedTable.readChangesRange(spark, path,
            endV, Some(endV)).limit(0)
          else VersionedTable.emptyAt(spark, path, endV)
        else if (readChangeFeed && snapshotFilesPerTrigger.isDefined &&
            from.isEmpty)
          // composed snapshot+CDF whose snapshot fit one window: the
          // pinned version's content as inserts, NOT a history replay
          asInsertChanges(
            VersionedTable.read(spark, path, Some(endV)), endV)
        else if (readChangeFeed)
          // full CDC: each version's row-level changes derived from its
          // manifest diff (insert/delete typed), non-append commits
          // included; from = -1 replays history from v0's insert set
          VersionedTable.readChangesRange(spark, path,
            fromV.getOrElse(-1), Some(endV))
        else fromV match {
          case Some(f) if skipChangeCommits =>
            // the Delta skipChangeCommits posture: ride over deletes/
            // merges/compactions, emit only append steps' rows
            VersionedTable.readAppendsSkippingChanges(spark, path, f,
              Some(endV))
          case Some(f) =>
            VersionedTable.readAppendsSince(spark, path, f, Some(endV))
          case None =>
            // initial snapshot: the full content of the first offset's
            // version (a snapshot needs no append-only window)
            VersionedTable.read(spark, path, Some(endV))
        }
    }
    Bridge.asStreamingFrame(batch)
  }

  /** Versions are retired by [[VersionedTable.expire]] on the table
    * owner's schedule, never by a reader. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"VtSource[$path]"
}
