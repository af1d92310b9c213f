package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Structured Streaming driver entries: each runs a REAL streaming query
  * (file source over the events parquet, Trigger.AvailableNow, append
  * mode with watermarks) to completion and returns the emitted rows, so
  * the production streaming path — not just the batch twin — is checked
  * against the DuckDB oracle.
  *
  * Determinism contract (what makes a streaming result value-checkable):
  *   - the fixture is ONE parquet file, so AvailableNow processes it as
  *     one micro-batch; within a batch the operators themselves are
  *     order-insensitive (dedup emits the KEY set only, sessionize sorts
  *     per user, window agg is commutative-exact via decimal cents);
  *   - append-mode emission is decided by the FINAL watermark
  *     (max event time − delay, ms-truncated), which the oracles
  *     replicate as a SQL filter. Boundary collisions (a window end or
  *     session timeout EXACTLY equal to the watermark) cannot occur with
  *     the fixture's µs-random timestamps.
  *
  * At scale the memory sink becomes a file/Kafka sink; the query shapes
  * are unchanged (state bounded by watermark, see EventStreams).
  */
object Streams {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  /** Memory-sink table names must be fresh per run (Bench invokes each
    * query twice in one session). */
  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private def uniq(prefix: String): String =
    s"${prefix}_${runSeq.incrementAndGet()}"

  /** Streaming file sources need the schema up front; it costs a footer
    * read per call, so cache it per fixture dir (Bench runs each st_*
    * query twice — 8 footer reads otherwise). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  /** Stateful micro-batch cost scales with shuffle partitions (one
    * state-store instance per partition per stateful operator — a
    * stream-stream join keeps FOUR per partition). The st_* fixtures
    * carry trivially small state, so cap the stream's shuffle
    * parallelism: the conf is read at stream START, restored after
    * (see [[Tables.withShufflePartitions]]). */
  private def withStreamPartitions[T](s: SparkSession, n: Int)(f: => T): T =
    Tables.withShufflePartitions(s, n)(f)

  private def eventStream(s: SparkSession, d: String): DataFrame = {
    // The streaming file source takes a DIRECTORY (or glob) — the
    // fixture is a single file, so address it via a glob pattern.
    val path = s"$d/events*.parquet"
    // Same ts normalization as the batch Tables.events (handles both the
    // raw-nanos-long and the TIMESTAMP_NTZ fixture layouts).
    Tables.ensureNanosAsLong(s)
    val schema = schemaCache.computeIfAbsent(d,
      _ => s.read.parquet(s"$d/events.parquet").schema)
    Tables.normalizeEventTs(s.readStream.schema(schema).parquet(path))
  }

  /** Streaming exact dedup on (user_id, event_type): the emitted rows'
    * key set equals the batch DISTINCT (which representative row
    * survives a within-batch tie is engine-arbitrary, so only the keys
    * are emitted). */
  val stDedupKeys: Q = (s, d) => withStreamPartitions(s, 4) {
    EventStreams.runToMemory(
      EventStreams.dedupStream(
        eventStream(s, d).select(col("ts"), col("user_id"), col("event_type")),
        Seq("user_id", "event_type")),
      uniq("st_dedup"))
      .select(col("user_id"), col("event_type"))
  }

  /** Watermarked hourly window agg, append mode: emits exactly the
    * windows closed by the final watermark. */
  val stHourly: Q = (s, d) => withStreamPartitions(s, 4) {
    EventStreams.runToMemory(
      EventStreams.hourlyAgg(eventStream(s, d)), uniq("st_hourly"))
  }

  /** COMPLETE-mode hourly agg — the remaining §2.10 emission mode: the
    * sink re-receives the FULL result table each batch, so the final
    * memory-sink contents are every window (closed or not — no
    * append-mode watermark emission filter), and the oracle is the
    * plain batch aggregate. Complete mode retains all window state (no
    * watermark eviction), which is only sane for bounded-cardinality
    * dashboard rollups like hours × event types; unbounded keys stay on
    * the append entries. */
  val stHourlyComplete: Q = (s, d) => withStreamPartitions(s, 4) {
    EventStreams.runToMemory(
      EventStreams.hourlyAgg(eventStream(s, d)), uniq("st_hourly_c"),
      org.apache.spark.sql.streaming.OutputMode.Complete())
  }

  /** UPDATE-mode hourly agg over TWO chronological micro-batches — the
    * genuinely incremental emission semantics (append emits on window
    * close, complete re-emits everything; update emits the CHANGED
    * groups per batch). The fixture is split at the midpoint timestamp
    * into two files fed one per batch (maxFilesPerTrigger=1 under
    * AvailableNow, ordered by mtime), so the memory sink accumulates:
    * every batch-1 group at its batch-1 state, then every group batch 2
    * touches at its final state. Determinism: the cut is integer
    * arithmetic on epoch-µs bounds (exact in both engines); batch-2
    * events trail batch 1 by construction, so nothing is late-dropped
    * and no live window crosses the eviction threshold (1 h margin) —
    * the oracle replays both emissions as plain SQL. */
  val stHourlyUpdate: Q = (s, d) => withStreamPartitions(s, 4) {
    val ev = Tables.events(s, d) // µs-normalized batch read
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0)
    if (b.isNullAt(0)) {
      // zero-row input: no batches to split — deliberate empty result
      // with the hourly-agg schema (watermark is a no-op on batch).
      EventStreams.hourlyAgg(ev).limit(0)
    } else {
      val cut = (b.getLong(0) + b.getLong(1)) / 2
      val dir = Sources.fixtureDir(s, "graft_stupd_")
      val t0 = System.currentTimeMillis() - 120000
      Sources.writeOrderedPart(
        ev.where(unix_micros(col("ts")) <= cut), dir, "a.parquet", t0)
      Sources.writeOrderedPart(
        ev.where(unix_micros(col("ts")) > cut), dir, "b.parquet", t0 + 60000)
      Sources.registerCleanup(dir)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${dir.getAbsolutePath}/*.parquet")
      EventStreams.runToMemory(
        EventStreams.hourlyAgg(stream), uniq("st_hourly_u"),
        org.apache.spark.sql.streaming.OutputMode.Update())
    }
  }

  /** Watermarked SLIDING windows (1 h every 30 min), append mode: each
    * event belongs to two windows; only windows closed by the final
    * watermark emit. */
  val stSliding: Q = (s, d) => withStreamPartitions(s, 4) {
    EventStreams.runToMemory(
      eventStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("n"), col("sum_value")),
      uniq("st_sliding"))
  }

  /** flatMapGroupsWithState sessionization (30-min gap): emits every
    * completed session; a user's final session surfaces only if its
    * event-time timeout fired before the final watermark. */
  val stSessions: Q = (s, d) => withStreamPartitions(s, 4) {
    import s.implicits._
    EventStreams.runToMemory(
      EventStreams.sessionize(
        eventStream(s, d).as[EventStreams.Event], 30).toDF(),
      uniq("st_sessions"))
  }

  /** STREAM-STREAM interval join (the remaining §2.10 primitive): each
    * click joins the same user's views within the following 30 minutes.
    * Both sides carry watermarks and the join condition bounds event
    * time in both directions, so at scale each side's buffered state is
    * evicted once the other side's watermark passes the bound — the
    * state-bounding contract Spark requires of stream-stream joins.
    * Emission determinism: inner-join matches emit in the micro-batch
    * that completes them; with the one-file AvailableNow fixture that is
    * one batch containing every match, so the oracle is the plain batch
    * interval join. */
  val stJoin: Q = (s, d) => withStreamPartitions(s, 4) {
    val clicks = eventStream(s, d).where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val views = eventStream(s, d).where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
    val joined = clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_ts") >= col("c_ts") &&
        col("v_ts") <= col("c_ts") + expr("interval 30 minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        (unix_micros(col("v_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    EventStreams.runToMemory(joined, uniq("st_join"))
  }

  private def docStream(s: SparkSession, d: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(s"$d#documents",
      _ => s.read.parquet(s"$d/documents.parquet").schema)
    s.readStream.schema(schema).parquet(s"$d/documents*.parquet")
  }

  /** Stateless streaming text transform: the redaction projection over
    * a streaming documents source — pure codegen'd regex, zero state,
    * append mode with no watermark. The streaming result must equal the
    * batch t_redact exactly (same oracle). */
  val stRedact: Q = (s, d) => withStreamPartitions(s, 4) {
    EventStreams.runToMemory(
      Ext.redactProjection(docStream(s, d)), uniq("st_redact"))
  }

  /** Streaming PARQUET FILE SINK — the production sink lane (every
    * other st_* entry uses the memory sink): the redaction projection
    * streams into an exactly-once parquet sink (checkpoint +
    * _spark_metadata commit manifest; readers see only committed
    * files), and the query returns the sink directory read back. At
    * scale this is the shape that replaces the memory sink verbatim —
    * same plan, different `format`. Value-oracled via the shared
    * redaction oracle, so the sink round-trip must be lossless. */
  val stFileSink: Q = (s, d) => withStreamPartitions(s, 4) {
    val dir = Sources.fixtureDir(s, "graft_stsink_")
    val out = new java.io.File(dir, "out")
    val chk = new java.io.File(dir, "chk")
    val q = Ext.redactProjection(docStream(s, d)).writeStream
      .format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", chk.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Sources.registerCleanup(dir)
    s.read.parquet(out.getAbsolutePath)
  }

  /** STREAM-STATIC broadcast join (the remaining §2.10 join flavor
    * after stream-stream): streaming corpus docs shingle on the fly and
    * probe a STATIC benchmark shingle set, broadcast once — the
    * production "decontaminate while ingesting" shape. Stream-static
    * inner joins are stateless on the stream side (no watermark
    * needed): each arriving doc matches against the pinned static
    * relation and emits immediately. Emits the contamination evidence
    * (bench_id, corpus_id, shingle). */
  val stContamination: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.ext.{TextFunctions => TF}
    val stream = docStream(s, d).where(col("source") =!= "src0")
      .select(col("doc_id").as("corpus_id"),
        explode(TF.shinglesOfText(col("text"), 8)).as("shingle"))
    val bench = s.read.parquet(s"$d/documents.parquet")
      .where(col("source") === "src0")
      .select(col("doc_id").as("bench_id"),
        explode(TF.shinglesOfText(col("text"), 8)).as("shingle"))
    EventStreams.runToMemory(
      stream.join(broadcast(bench), "shingle")
        .select(col("bench_id"), col("corpus_id"), col("shingle")),
      uniq("st_contam"))
  }

  /** Stream-static NEAR-DUP screen — the ingest-time "is this arriving
    * doc a near-duplicate of anything already in the corpus?" gate.
    * The static half (even doc ids) builds the LSH band index once;
    * arriving docs (odd ids) minhash + band ROW-LOCALLY (stateless,
    * [[graft.ext.Dedup.bandedProbeRows]] — same signature and band-key
    * derivation as the batch pipeline) and probe the broadcast index;
    * band collisions verify with exact Jaccard (no false positives),
    * and a streaming dropDuplicates collapses multi-band hits to one
    * verdict row per (new, old) pair. At scale: the index broadcast is
    * O(corpus × bands) keys — beyond broadcast size the same join runs
    * shuffled; the per-pair dedup state is watermark-bounded in
    * production (dropDuplicatesWithinWatermark once arriving docs
    * carry event time); the single AvailableNow pass keeps it exact
    * here. Oracle: exact-Jaccard pairs odd×even — dedup_minhash's
    * verified-LSH ≡ exact-Jaccard parity argument restricted to the
    * stream/static split. */
  val stNearDup: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.ext.Dedup
    val corpus = s.read.parquet(s"$d/documents.parquet")
      .where(col("doc_id") % 2 === 0)
    val index = Dedup.bandedProbeRows(corpus, "doc_id", "text")
      .select(col("__band"), col("__key"), col("doc_id").as("old_id"),
        col("__shs").as("__old_shs"))
    val probes = Dedup.bandedProbeRows(
        docStream(s, d).where(col("doc_id") % 2 === 1), "doc_id", "text")
      .select(col("__band"), col("__key"), col("doc_id").as("new_id"),
        col("__shs").as("__new_shs"))
    val verified = probes.join(broadcast(index), Seq("__band", "__key"))
      .withColumn("jaccard", graft.functions.DetRound.det6(
        size(array_intersect(col("__new_shs"), col("__old_shs")))
          .cast("double") /
          size(array_union(col("__new_shs"), col("__old_shs")))))
      .where(col("jaccard") >= 0.5)
      .select(col("new_id"), col("old_id"), col("jaccard"))
      .dropDuplicates("new_id", "old_id")
    EventStreams.runToMemory(verified, uniq("st_neardup"))
  }

  // STREAM-MAINTAINED SNAPSHOT (the warehouse-maintenance lane,
  // SnapshotMerge's streaming form — the metadata-table twin of the
  // streaming ANN index maintenance): a CDC file stream applies to an
  // at-rest parquet snapshot via foreachBatch + SnapshotMerge
  // .applyAtRest (read → merge → temp+rename swap). Two chronological
  // micro-batches (D+U then I, ordered by mtime under
  // maxFilesPerTrigger=1); state lives in the snapshot itself — no
  // state store, restarts resume from the sink checkpoint. The change
  // synthesis matches op_merge_upsert exactly and the batch sequence
  // converges to the same final snapshot (insert keys are disjoint
  // from the base by construction), so the entries share the oracle.
  val stMergeUpsert: Q = (s, d) => Tables.withShufflePartitions(s, 4) {
    val snapDir = Sources.fixtureDir(s, "graft_stsnap_")
    val base = customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    base.coalesce(2).write.mode("overwrite").parquet(snapDir.getAbsolutePath)
    Sources.registerCleanup(snapDir)
    val maxRow = base.agg(max(col("c_custkey"))).collect()(0)
    if (!maxRow.isNullAt(0)) { // zero-row base: nothing to synthesize
      val maxKey = maxRow.getLong(0)
      val deletes = base.where(pmod(col("c_custkey"), lit(13)) === 0)
        .withColumn("op", lit("D"))
      val updates = base.where(pmod(col("c_custkey"), lit(13)) =!= 0 &&
          pmod(col("c_custkey"), lit(7)) === 0)
        .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
        .withColumn("op", lit("U"))
      val inserts = base.where(pmod(col("c_custkey"), lit(17)) === 0)
        .select((col("c_custkey") + lit(maxKey)).as("c_custkey"),
          concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"), lit("I").as("op"))
      val cdcDir = Sources.fixtureDir(s, "graft_stsnap_cdc_")
      val t0 = System.currentTimeMillis() - 120000
      Sources.writeOrderedPart(
        deletes.unionByName(updates), cdcDir, "a.parquet", t0)
      Sources.writeOrderedPart(inserts, cdcDir, "b.parquet", t0 + 60000)
      val stream = s.readStream.schema(inserts.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.SnapshotMerge.applyAtRest(
            s, snapDir.getAbsolutePath, batch, "c_custkey")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(snapDir.getAbsolutePath)
  }

  /** STREAM-maintained incremental aggregate: the (priority × month)
    * revenue rollup of op_incr_agg, but the delta batches arrive as a
    * file stream and each micro-batch folds into the at-rest state via
    * `IncrementalAgg.applyAtRest` in foreachBatch — the materialized-
    * view-maintenance twin of st_merge_upsert's snapshot MERGE. State
    * lives in the rollup itself (no state store, restart-safe via the
    * crash-repairing swap); per-batch cost is O(|state| + |delta|).
    * The oracle is the one-shot batch aggregate: micro-batch
    * boundaries must be result-invisible (monoid lanes). */
  val stIncrAgg: Q = (s, d) => Tables.withShufflePartitions(s, 4) {
    val keys = Seq("o_orderpriority", "month")
    val proj = orders(s, d).select(col("o_orderpriority"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stincr_")
    Sources.registerCleanup(dir)
    val statePath = s"${dir.getAbsolutePath}/state"
    val cdcDir = Sources.fixtureDir(s, "graft_stincr_cdc_")
    val t0 = System.currentTimeMillis() - 120000
    Sources.writeOrderedPart(
      proj.where(col("__y") <= 1997).drop("__y"), cdcDir, "a.parquet", t0)
    Sources.writeOrderedPart(
      proj.where(col("__y") > 1997).drop("__y"), cdcDir, "b.parquet",
      t0 + 60000)
    val schema = proj.drop("__y").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.IncrementalAgg.applyAtRest(
            s, statePath, batch, keys, Seq("o_totalprice"),
            txnId = Some(s"st_ia_$batchId"))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // zero-row corpus: no batch ever initialized the state — emit the
    // empty frame in state-derived shape
    val state =
      if (new java.io.File(statePath).exists()) s.read.parquet(statePath)
      else graft.operators.IncrementalAgg.partial(
        proj.drop("__y").limit(0), keys, Seq("o_totalprice"))
    graft.operators.IncrementalAgg.withDerived(state, Seq("o_totalprice"))
  }

  /** STREAM → VERSIONED TABLE sink: each micro-batch commits one
    * [[graft.operators.VersionedTable]] version (append — history by
    * reference, zero rewrite), so the sink gains exactly-once semantics
    * BY CONSTRUCTION — both crash windows are closed: a batch replayed
    * after a crash BEFORE the manifest rename re-publishes files the
    * table state never referenced (vacuumUnreferenced sweeps them),
    * and a batch replayed AFTER its commit landed but before Spark's
    * checkpoint advanced is deduplicated by its txnId (the batchId) —
    * a no-op returning the already-committed version. Every batch
    * boundary stays queryable forever via time travel.
    * This is the foreachBatch idempotent-sink recipe from the Spark
    * docs, made concrete with a real transaction log. The entry drives
    * two chronological micro-batches, requires the version history to
    * show them, and returns the LATEST read — which must equal the
    * batch union (the oracle: micro-batch boundaries invisible). */
  val stVersionedSink: Q = (s, d) => withStreamPartitions(s, 4) {
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvt_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val cdcDir = Sources.fixtureDir(s, "graft_stvt_cdc_")
    val t0 = System.currentTimeMillis() - 120000
    Sources.writeOrderedPart(
      ords.where(col("__y") <= 1997).drop("__y"), cdcDir, "a.parquet", t0)
    Sources.writeOrderedPart(
      ords.where(col("__y") > 1997).drop("__y"), cdcDir, "b.parquet",
      t0 + 60000)
    val schema = ords.drop("__y").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.VersionedTable.commit(
            batch, table, overwrite = false,
            txnId = Some(s"st_vt_$batchId")): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hist = graft.operators.VersionedTable.versions(s, table)
    // one committed version per NON-EMPTY micro-batch: 2 on the real
    // fixture; fewer when a half (or the whole corpus) is empty —
    // zero-row input returns the deliberate empty frame, not a crash
    require(hist.map(_.version) == (0 until hist.size),
      s"non-contiguous version history: $hist")
    if (hist.size == 2)
      require(graft.operators.VersionedTable
        .read(s, table, Some(0)).count() <
          graft.operators.VersionedTable.read(s, table, Some(1)).count(),
        "version 0 must be a strict prefix of the table")
    if (hist.isEmpty) ords.drop("__y").limit(0)
    else graft.operators.VersionedTable.read(s, table)
  }

  // The same CDC relay as [[stVersionedSink]] but through the FORMAT
  // SINK — `.writeStream.format("graft-vt")` turns every micro-batch
  // into one idempotent versioned commit (batchId txn) with ZERO glue
  // code: the foreachBatch pattern promoted to a first-class sink.
  // Gates: contiguous append-only history (one commit per batch),
  // strict prefix property (exactly-once ordering), and the statsCols
  // option reaching the manifest. Oracle: batch boundaries invisible —
  // the plain source table.
  val stVtSink: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvtf_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val cdcDir = Sources.fixtureDir(s, "graft_stvtf_cdc_")
    val t0 = System.currentTimeMillis() - 120000
    Sources.writeOrderedPart(
      ords.where(col("__y") <= 1997).drop("__y"), cdcDir, "a.parquet", t0)
    Sources.writeOrderedPart(
      ords.where(col("__y") > 1997).drop("__y"), cdcDir, "b.parquet",
      t0 + 60000)
    val schema = ords.drop("__y").schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
      .writeStream
      .format(classOf[graft.sources.VtStreamSource].getName)
      .option("path", table)
      .option("statsCols", "o_orderkey")
      .option("txnPrefix", "stvtf")
      .option("checkpointLocation", s"${dir.getAbsolutePath}/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hist = VersionedTable.versions(s, table)
    require(hist.map(_.version) == (0 until hist.size),
      s"non-contiguous version history: $hist")
    require(hist.forall(_.mode == "append"),
      s"the Append-mode sink must only append: $hist")
    if (hist.nonEmpty && VersionedTable.read(s, table).count() > 0) {
      if (hist.size >= 2)
        require(VersionedTable.read(s, table, Some(0)).count() <
          VersionedTable.read(s, table).count(),
          "version 0 must be a strict prefix of the table")
      require(VersionedTable.statsSpan(s, table, "o_orderkey")
        .exists(_.nonEmpty),
        "the statsCols option must reach the manifest")
    }
    if (hist.isEmpty) ords.drop("__y").limit(0)
    else VersionedTable.read(s, table)
  }

  /** CDC OUT of a versioned table — the consumer half of
    * [[stVersionedSink]]'s loop, through the engine's own streaming
    * SOURCE over the commit log ([[graft.sources.VtStreamSource]]:
    * offsets are versions, each micro-batch is one manifest file-diff
    * window). The producer lands three chronological commits; the
    * consumer stream runs, STOPS, misses a commit, and resumes from
    * its checkpoint — the restart must deliver exactly the unseen
    * append (no replay of the initial snapshot, no loss), and an idle
    * third run must deliver nothing. The consumer republishes into a
    * second versioned table with batch-derived txnIds, so BOTH hops of
    * the relay are exactly-once; the oracle is the full source table —
    * any duplicated or dropped window flips the count/hash. */
  val stVtSource: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvs_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val outTable = s"${dir.getAbsolutePath}/out"
    val ck = s"${dir.getAbsolutePath}/ck"
    def drain(): Unit = {
      val q = s.readStream
        .format(classOf[graft.sources.VtStreamSource].getName)
        .option("path", table).load()
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty)
            VersionedTable.commit(batch, outTable, overwrite = false,
              txnId = Some(s"vtsrc_$batchId")): Unit
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    VersionedTable.commit(ords.where(col("__y") <= 1996).drop("__y"),
      table, overwrite = true)
    VersionedTable.commit(
      ords.where(col("__y").between(1997, 1998)).drop("__y"),
      table, overwrite = false)
    drain() // run 1: initial snapshot (v0 + v1) as one batch
    // a commit lands while the consumer is DOWN...
    VersionedTable.commit(ords.where(col("__y") > 1998).drop("__y"),
      table, overwrite = false)
    drain() // run 2: resumes at the checkpointed version: the delta only
    val versionsAfterTail =
      VersionedTable.versions(s, outTable).size
    drain() // run 3: nothing new -> no batch, no new output version
    val nIn = VersionedTable.read(s, table).count()
    if (nIn == 0) ords.drop("__y").limit(0)
    else {
      require(VersionedTable.versions(s, outTable).size ==
        versionsAfterTail, "an idle run must not commit")
      val out = VersionedTable.read(s, outTable)
      require(out.count() == nIn,
        s"exactly-once relay: ${out.count()} out vs $nIn in")
      out
    }
  }

  // The CHUNKED initial snapshot (`snapshotFilesPerTrigger`): the
  // producer lands a MULTI-FILE v0 plus an append; the consumer
  // drains with a 2-files-per-trigger cap, so the snapshot must
  // arrive as SEVERAL bounded micro-batches (gated) that relay into
  // the output table exactly once — then a second run picks up a
  // commit that landed while it was down. The oracle is the full
  // source table: a duplicated, dropped, or overlapping file slice
  // flips the hash.
  val stVtSourceChunked: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvsc_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val outTable = s"${dir.getAbsolutePath}/out"
    val ck = s"${dir.getAbsolutePath}/ck"
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    def drain(): Unit = {
      val q = s.readStream
        .format("graft-vt")
        .option("path", table)
        .option("snapshotFilesPerTrigger", "2")
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            batches.incrementAndGet()
            VersionedTable.commit(batch, outTable, overwrite = false,
              txnId = Some(s"vtsc_$batchId")): Unit
          }
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    VersionedTable.commit(
      ords.where(col("__y") <= 1998).drop("__y").repartition(6),
      table, overwrite = true)
    drain() // run 1: the v0 snapshot as ceil(6/2)=3 bounded windows
    val snapshotBatches = batches.get()
    VersionedTable.commit(ords.where(col("__y") > 1998).drop("__y"),
      table, overwrite = false) // lands while the consumer is down
    drain() // run 2: the tail delta from the checkpointed watermark
    val nIn = VersionedTable.read(s, table).count()
    if (nIn == 0) ords.drop("__y").limit(0)
    else {
      require(snapshotBatches >= 3,
        s"a 6-file snapshot at 2 files/trigger must arrive as >= 3 " +
          s"micro-batches, got $snapshotBatches")
      val out = VersionedTable.read(s, outTable)
      require(out.count() == nIn,
        s"exactly-once chunked relay: ${out.count()} out vs $nIn in")
      out
    }
  }

  // SNAPSHOT-THEN-CDF COMPOSITION (`snapshotFilesPerTrigger` +
  // `readChangeFeed`, Delta's initial-snapshot CDF posture): ONE
  // stream bootstraps a downstream replica from the pinned version's
  // CHUNKED `insert` rows (gated: >=3 bounded snapshot batches for 6
  // files at 2/trigger, every snapshot row insert-typed) and then
  // keeps it maintained from typed change rows for commits that
  // landed while the consumer was down (an append + a delete). Each
  // micro-batch applies as ONE mergeInto with a batchId txn
  // (exactly-once; the tombstone column carries the delete verb). At
  // 100 TB this is the bootstrap-a-view shape: no history replay, no
  // separate backfill job. The oracle replays snapshot ∪ changes'
  // final state in SQL — a duplicated chunk, dropped change, or
  // insert/delete misorder flips the hash.
  val stVtSourceCdf: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).where(col("o_orderkey").isNotNull)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        year(col("o_orderdate")).as("o_year"))
    val dir = Sources.fixtureDir(s, "graft_stvcdf_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val out = s"${dir.getAbsolutePath}/out"
    val ck = s"${dir.getAbsolutePath}/ck"
    val snapBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    val badRows = new java.util.concurrent.atomic.AtomicInteger(0)
    def drain(expectSnapshot: Boolean): Unit = {
      val q = s.readStream.format("graft-vt").option("path", table)
        .option("snapshotFilesPerTrigger", "2")
        .option("readChangeFeed", "true")
        .load()
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty) {
            if (expectSnapshot) {
              snapBatches.incrementAndGet()
              badRows.addAndGet(batch.where(
                col("_change_type") =!= "insert").count().toInt): Unit
            }
            val src = batch
              .withColumn("__del", col("_change_type") === "delete")
              .drop("_change_type", "_commit_version")
            if (VersionedTable.latestVersion(s, out).isEmpty)
              // bootstrap: the first (snapshot) batch creates the
              // replica — inserts only, same batchId idempotence
              VersionedTable.commit(
                src.where(!col("__del")).drop("__del"), out,
                overwrite = false, txnId = Some(s"vtcdf_$batchId")): Unit
            else
              VersionedTable.mergeInto(s, out, src,
                keys = Seq("o_orderkey"), tombstoneCol = Some("__del"),
                txnId = Some(s"vtcdf_$batchId")): Unit
          }
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    VersionedTable.commit(
      ords.where(col("o_year") <= 1997).repartition(6),
      table, overwrite = true)
    drain(expectSnapshot = true) // chunked snapshot as insert changes
    // while the consumer is down: an append and a delete land — the
    // delete is restricted to pre-append keys so one merge batch
    // never carries the same key twice
    VersionedTable.commit(ords.where(col("o_year") === 1998),
      table, overwrite = false)
    VersionedTable.deleteWhere(s, table,
      col("o_year") <= 1997 && col("o_orderkey") % 7 === 0)
    drain(expectSnapshot = false) // typed changes: inserts + deletes
    val nIn = VersionedTable.read(s, table).count()
    if (nIn == 0) ords.limit(0)
    else {
      require(snapBatches.get() >= 3,
        s"6 snapshot files at 2/trigger must arrive as >= 3 " +
          s"batches, got ${snapBatches.get()}")
      require(badRows.get() == 0,
        "snapshot rows must all be insert-typed at the pinned version")
      val got = VersionedTable.read(s, out)
      require(got.count() == nIn,
        s"replica must converge: ${got.count()} vs $nIn")
      got
    }
  }

  /** STREAMING CDC APPLY onto a versioned table — the Debezium-shaped
    * loop: each micro-batch is one CDC feed carrying all three verbs
    * (tombstone column = WHEN MATCHED DELETE) and lands as ONE
    * [[graft.operators.VersionedTable.mergeInto]] commit with a
    * batchId txn, so a crash-replayed batch no-ops (exactly-once) and
    * every batch boundary is time-travelable. Three chronological
    * batches: 1998 prices doubled (updates), pre-1997 rows tombstoned
    * (deletes), post-1998 rows at +7 (inserts). The oracle replays
    * the final state in SQL — a replayed, dropped, or cross-ordered
    * batch flips the hash. */
  val stVtMerge: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvm_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val cdcDir = Sources.fixtureDir(s, "graft_stvm_cdc_")
    VersionedTable.commit(
      ords.where(col("__y") <= 1998).drop("__y")
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      table, overwrite = true, statsCols = Seq("o_orderkey"))
    val t0 = System.currentTimeMillis() - 180000
    Sources.writeOrderedPart(
      ords.where(col("__y") === 1998).drop("__y")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_deleted", lit(false)),
      cdcDir, "a.parquet", t0)
    Sources.writeOrderedPart(
      ords.where(col("__y") <= 1996).drop("__y")
        .withColumn("_deleted", lit(true)),
      cdcDir, "b.parquet", t0 + 60000)
    Sources.writeOrderedPart(
      ords.where(col("__y") > 1998).drop("__y")
        .withColumn("o_totalprice", col("o_totalprice") + 7)
        .withColumn("_deleted", lit(false)),
      cdcDir, "c.parquet", t0 + 120000)
    val schema = ords.drop("__y").withColumn("_deleted", lit(false)).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          VersionedTable.mergeInto(s, table, batch, Seq("o_orderkey"),
            txnId = Some(s"stvm_$batchId"),
            tombstoneCol = Some("_deleted")): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hist = VersionedTable.versions(s, table)
    require(hist.head.mode == "overwrite" &&
      hist.tail.forall(_.mode == "merge"),
      s"every CDC batch must land as a merge commit: $hist")
    require(hist.tail.forall(_.txnId.exists(_.startsWith("stvm_"))),
      "merge commits must carry their batch txn (replay no-op)")
    VersionedTable.read(s, table)
  }

  // The same Debezium-shaped CDC apply as [[stVtMerge]] but through
  // the FORMAT SINK in Update mode — `.writeStream.format("graft-vt")
  // .outputMode(Update).option("mergeKeys", ...)` turns each
  // micro-batch into ONE mergeInto commit (tombstone deletes included)
  // with zero glue code, clustered rewrites via the clusterBy option.
  // Gates mirror stVtMerge's history/txn checks; the oracle is the
  // identical CDC final state.
  val stVtSinkMerge: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvsm_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val cdcDir = Sources.fixtureDir(s, "graft_stvsm_cdc_")
    VersionedTable.commit(
      ords.where(col("__y") <= 1998).drop("__y")
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      table, overwrite = true, statsCols = Seq("o_orderkey"))
    val t0 = System.currentTimeMillis() - 180000
    Sources.writeOrderedPart(
      ords.where(col("__y") === 1998).drop("__y")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_deleted", lit(false)),
      cdcDir, "a.parquet", t0)
    Sources.writeOrderedPart(
      ords.where(col("__y") <= 1996).drop("__y")
        .withColumn("_deleted", lit(true)),
      cdcDir, "b.parquet", t0 + 60000)
    Sources.writeOrderedPart(
      ords.where(col("__y") > 1998).drop("__y")
        .withColumn("o_totalprice", col("o_totalprice") + 7)
        .withColumn("_deleted", lit(false)),
      cdcDir, "c.parquet", t0 + 120000)
    val schema = ords.drop("__y").withColumn("_deleted", lit(false)).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
      .writeStream
      .format("graft-vt")
      .option("path", table)
      .option("mergeKeys", "o_orderkey")
      .option("tombstoneCol", "_deleted")
      .option("clusterBy", "o_orderkey")
      .option("txnPrefix", "stvsm")
      .option("checkpointLocation", s"${dir.getAbsolutePath}/ck")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hist = VersionedTable.versions(s, table)
    require(hist.head.mode == "overwrite" &&
      hist.tail.forall(_.mode == "merge"),
      s"every CDC batch must land as one merge commit: $hist")
    require(hist.tail.forall(_.txnId.exists(_.startsWith("stvsm-"))),
      "merge commits must carry their batch txn (replay no-op)")
    VersionedTable.read(s, table)
  }

  // The DELETION-VECTOR lane of the format sink: the same CDC replay
  // as [[stVtSinkMerge]] with `.option("deletionVectors", "true")` —
  // each micro-batch's matched pre-images mask via a delta-sized
  // sidecar instead of rewriting the touched files. Gated in-entry
  // that NO v0 data file is ever rewritten or dropped across the
  // whole stream (every merge carries them by reference) and that the
  // merges really produced vectors; the oracle is the identical CDC
  // final state — the lane must be value-invisible.
  val stVtSinkDv: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stvdv_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val cdcDir = Sources.fixtureDir(s, "graft_stvdv_cdc_")
    VersionedTable.commit(
      ords.where(col("__y") <= 1998).drop("__y")
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      table, overwrite = true, statsCols = Seq("o_orderkey"))
    val v0Files = VersionedTable.files(s, table, 0).toSet
    val t0 = System.currentTimeMillis() - 180000
    Sources.writeOrderedPart(
      ords.where(col("__y") === 1998).drop("__y")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_deleted", lit(false)),
      cdcDir, "a.parquet", t0)
    Sources.writeOrderedPart(
      ords.where(col("__y") <= 1996).drop("__y")
        .withColumn("_deleted", lit(true)),
      cdcDir, "b.parquet", t0 + 60000)
    Sources.writeOrderedPart(
      ords.where(col("__y") > 1998).drop("__y")
        .withColumn("o_totalprice", col("o_totalprice") + 7)
        .withColumn("_deleted", lit(false)),
      cdcDir, "c.parquet", t0 + 120000)
    val schema = ords.drop("__y").withColumn("_deleted", lit(false)).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
      .writeStream
      .format("graft-vt")
      .option("path", table)
      .option("mergeKeys", "o_orderkey")
      .option("tombstoneCol", "_deleted")
      .option("deletionVectors", "true")
      .option("txnPrefix", "stvdv")
      .option("checkpointLocation", s"${dir.getAbsolutePath}/ck")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hist = VersionedTable.versions(s, table)
    require(hist.head.mode == "overwrite" &&
      hist.tail.forall(_.mode == "merge"),
      s"every CDC batch must land as one merge commit: $hist")
    require(hist.tail.forall(_.txnId.exists(_.startsWith("stvdv-"))),
      "merge commits must carry their batch txn (replay no-op)")
    // the DV lane's whole point: the base files survive every batch
    // by reference — scattered CDC never rewrites them
    hist.foreach { v =>
      require(v0Files.subsetOf(
        VersionedTable.files(s, table, v.version).toSet),
        s"v${v.version} rewrote or dropped a base file — the DV lane " +
          "must carry untouched files by reference")
    }
    val lastV = hist.map(_.version).max
    if (VersionedTable.countRows(s, table, Some(0)) != 0L)
      require(VersionedTable.readEntries(s, table, lastV)
        .exists(_.dv.nonEmpty),
        "the CDC masking must have produced deletion vectors")
    VersionedTable.read(s, table)
  }

  /** STREAMING CHANGE FEED off the commit log — the
    * `readChangeFeed=true` mode of [[graft.sources.VtStreamSource]]:
    * each micro-batch carries the ROW-LEVEL changes of its version
    * window, derived from manifest diffs (nothing stored at write
    * time), so deletes and merges flow as typed delete/insert rows
    * instead of refusing the stream. The fixture replays
    * `op_vt_changes`' history (v1 range delete, v2 upsert merge); the
    * consumer republishes the change rows exactly-once and the oracle
    * is the same SQL change-set replay — a leaked co-located survivor
    * or a dropped change row flips the hash. */
  val stVtChanges: Q = (s, d) => withStreamPartitions(s, 4) {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_stvc_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val out = s"${dir.getAbsolutePath}/out"
    val ck = s"${dir.getAbsolutePath}/ck"
    val base = orders(s, d).where(year(col("o_orderdate")) <= 1998)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    VersionedTable.commit(
      base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      table, overwrite = true, statsCols = Seq("o_orderkey"))
    val mx = base.agg(max(col("o_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val m = mx.getLong(0)
      // the delete commits as DELETION VECTORS: the streamed change
      // feed must be value-identical to a rewrite delete's (the shared
      // op_vt_changes oracle is the cross-check), with zero data files
      // rewritten (gated here)
      require(VersionedTable.deleteWhere(s, table,
        col("o_orderkey") <= m / 4, deletionVectors = true) == 1)
      // fully-dead files DROP from the manifest (the low band lives in
      // whole files on this clustered layout); everything else carries
      // by name and no data file is ever written
      require(VersionedTable.files(s, table, 1).toSet
        .subsetOf(VersionedTable.files(s, table, 0).toSet),
        "the DV delete must write no data file")
      val updates = base.where(col("o_orderkey") > m * 3 / 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = base.where(col("o_orderkey") > m * 3 / 4)
        .select((col("o_orderkey") + m * 10).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") + 5).as("o_totalprice"))
      require(VersionedTable.mergeInto(s, table,
        updates.unionByName(inserts), Seq("o_orderkey")) == 2)
    }
    val q = s.readStream
      .format(classOf[graft.sources.VtStreamSource].getName)
      .option("path", table)
      .option("startingVersion", "0")
      .option("readChangeFeed", "true")
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          VersionedTable.commit(batch, out, overwrite = false,
            txnId = Some(s"stvc_$batchId")): Unit
      }
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (VersionedTable.latestVersion(s, out).isEmpty)
      base.limit(0).withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0))
    else VersionedTable.read(s, out)
  }

  /** QUALITY-GATED streaming publish — the production composition of
    * the round's pieces: every micro-batch is audited
    * ([[graft.operators.QualityAudit]], one scan) and COMMITTED to the
    * versioned table only if every rule passes; a failing batch routes
    * whole to a quarantine sink (dead-letter for reprocess) and the
    * table never sees it. BOTH lanes are exactly-once: commit and
    * quarantine each go through `VersionedTable.commit` with a
    * batchId-derived txnId, so a micro-batch replayed after a crash
    * no-ops on whichever side it already landed. Three chronological
    * batches: two clean, one with planted violations (negated prices).
    * The entry requires the version history to show exactly the clean
    * commits and the quarantine to hold exactly the bad batch; the
    * oracle is the clean subset — a leaked bad row or a dropped clean
    * one flips the hash. */
  val stQualityGate: Q = (s, d) => withStreamPartitions(s, 4) {
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    val dir = Sources.fixtureDir(s, "graft_stqg_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val quarantine = s"${dir.getAbsolutePath}/quarantine"
    val txns = s"${dir.getAbsolutePath}/txns"
    val cdcDir = Sources.fixtureDir(s, "graft_stqg_cdc_")
    val t0 = System.currentTimeMillis() - 180000
    Sources.writeOrderedPart(
      ords.where(col("__y") <= 1997).drop("__y"), cdcDir, "a.parquet", t0)
    // the MIXED batch: 1998's ODD-key prices negated — the batch must
    // SPLIT row-level, clean evens to the table, violating odds to
    // quarantine, in ONE atomic multi-table commit
    Sources.writeOrderedPart(
      ords.where(col("__y") === 1998).drop("__y")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 2 === 1, -col("o_totalprice"))
            .otherwise(col("o_totalprice"))),
      cdcDir, "b.parquet", t0 + 60000)
    Sources.writeOrderedPart(
      ords.where(col("__y") > 1998).drop("__y"), cdcDir, "c.parquet",
      t0 + 120000)
    val schema = ords.drop("__y").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${cdcDir.getAbsolutePath}/*.parquet")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          import graft.operators.{MultiTableTxn, VersionedTable}
          val rules = Seq(
            col("o_orderkey").isNotNull,
            col("o_totalprice") > 0)
          val pass = coalesce(rules.reduce(_ && _), lit(false))
          // pin the batch: both lanes and the emptiness probes must
          // see ONE evaluation (a foreachBatch frame re-executes its
          // plan per action)
          val pinned = batch.localCheckpoint()
          val clean = pinned.where(pass)
          val bad = pinned.where(!pass)
          val (hasClean, hasBad) = (!clean.isEmpty, !bad.isEmpty)
          if (hasClean && hasBad)
            // the SPLIT batch: clean + quarantine lanes land as ONE
            // multi-table transaction — a crash between the lanes can
            // never publish half a batch, and a checkpoint-lagged
            // replay no-ops on the decision file (exactly-once both
            // lanes, together)
            MultiTableTxn.commit(s, Seq(
              MultiTableTxn.TableWrite(clean, table, overwrite = false),
              MultiTableTxn.TableWrite(bad, quarantine,
                overwrite = false)),
              txns, s"qg_split_$batchId"): Unit
          else if (hasClean)
            VersionedTable.commit(clean, table,
              overwrite = false, txnId = Some(s"qg_$batchId")): Unit
          else if (hasBad)
            // Dead-letter through the SAME idempotent commit protocol
            // as the table side: a bare append would double-write the
            // bad batch when a replay follows a crash after the write
            // but before the checkpoint advances. With a txnId the
            // replay no-ops and the quarantine is exactly-once too.
            VersionedTable.commit(bad, quarantine,
              overwrite = false, txnId = Some(s"qg_bad_$batchId")): Unit
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val hist = graft.operators.VersionedTable.versions(s, table)
    val nBad = ords.where(col("__y") === 1998 &&
      col("o_orderkey") % 2 === 1).count()
    if (nBad > 0) {
      require(graft.operators.VersionedTable.read(s, quarantine)
          .count() == nBad,
        "exactly the violating rows must land in quarantine")
      require(graft.operators.VersionedTable.read(s, table)
        .where(col("o_totalprice") <= 0).count() == 0,
        "no violating row may reach the published table")
      // TORN-STATE gate: every input row landed in exactly one lane —
      // a half-applied split (one lane committed, the other lost)
      // breaks the count identity
      require(graft.operators.VersionedTable.read(s, table).count() +
          graft.operators.VersionedTable.read(s, quarantine).count() ==
          ords.count(),
        "split lanes must be all-or-nothing: row counts must add up")
      // and the split batch really went through the ONE-decision txn
      require(new java.io.File(txns).listFiles() != null &&
        new java.io.File(txns).listFiles()
          .exists(_.getName.endsWith(".decision")),
        "the mixed batch must commit through one MultiTableTxn decision")
    }
    if (hist.isEmpty) ords.drop("__y").limit(0)
    else graft.operators.VersionedTable.read(s, table)
  }

  /** LATE-DATA drop — the watermark-VIOLATION case the mode matrix
    * lacked: the OLDER half of the fixture arrives LAST, wholly behind
    * the watermark, and the aggregation must refuse it (Spark's
    * late-row drop, `numRowsDroppedByWatermark`).
    *
    * THREE chronological micro-batches, not two: since SPARK-40925,
    * late-row FILTERING uses the PREVIOUS batch's watermark
    * (`watermarkForLateEvents`) while EVICTION uses the current one —
    * late rows landing in the very next batch after the advancing one
    * are still admitted (measured: a two-file feed emits the late
    * windows with dropped=0). So batch 1 carries the upper-mid quarter
    * (advances event time), batch 2 the newest quarter (the watermark
    * CATCHES UP to ms-trunc(max) − 1 h for the late filter), and
    * batch 3 the older half — every row now sits hours behind the
    * late-filter watermark, in windows long closed, and drops.
    * Determinism: cuts are integer epoch-µs arithmetic; the fixture
    * spans weeks, so no late window ends near the watermark and the
    * watermark never regresses on old data. The oracle is the hourly
    * aggregate over the NEWER half only under st_hourly's append
    * -emission rule — a value check that the drop happened (a
    * full-data aggregate differs in every straddling window). */
  val stLateData: Q = (s, d) => withStreamPartitions(s, 4) {
    val ev = Tables.events(s, d)
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0)
    if (b.isNullAt(0)) {
      EventStreams.hourlyAgg(ev).limit(0)
    } else {
      val cut = (b.getLong(0) + b.getLong(1)) / 2
      val cut2 = (cut + b.getLong(1)) / 2
      val us = unix_micros(col("ts"))
      val dir = Sources.fixtureDir(s, "graft_stlate_")
      val t0 = System.currentTimeMillis() - 180000
      Sources.writeOrderedPart(
        ev.where(us > cut && us <= cut2), dir, "a.parquet", t0)
      Sources.writeOrderedPart(
        ev.where(us > cut2), dir, "b.parquet", t0 + 60000)
      Sources.writeOrderedPart(
        ev.where(us <= cut), dir, "c.parquet", t0 + 120000)
      Sources.registerCleanup(dir)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${dir.getAbsolutePath}/*.parquet")
      EventStreams.runToMemory(
        EventStreams.hourlyAgg(stream), uniq("st_late"))
    }
  }

  // STREAMING anomaly screen: the offline-model/online-scoring shape —
  // per-type volume statistics are computed BATCH-side (the "model"),
  // broadcast into a stream-static join after the windowed aggregation,
  // and every closed hourly window is z-scored and flagged in-flight.
  // Emission = st_hourly's append rule; the oracle composes
  // ev_anomaly's exact-moment arithmetic with that emission filter.
  val stAnomaly: Q = (s, d) => withStreamPartitions(s, 4) {
    val hourlyBatch = events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
    val m = hourlyBatch.groupBy(col("event_type")).agg(
      count(lit(1)).cast("double").as("nh"),
      sum(col("n")).as("s"),
      sum(col("n") * col("n")).as("q"))
    val z = (col("n").cast("double") - col("s") / col("nh")) /
      sqrt((col("q") - col("s") * col("s") / col("nh")) / col("nh"))
    val flagged = EventStreams.hourlyAgg(eventStream(s, d))
      .join(broadcast(m), "event_type")
      .withColumn("z", graft.functions.DetRound.det6(z))
      .where(abs(col("z")) > 2.0)
      .select(col("event_type"), col("hour"), col("n"), col("z"))
    EventStreams.runToMemory(flagged, uniq("st_anomaly"))
  }

  val queries: Map[String, Q] = Map(
    "st_anomaly" -> stAnomaly,
    "st_merge_upsert" -> stMergeUpsert,
    "st_incr_agg" -> stIncrAgg,
    "st_versioned_sink" -> stVersionedSink,
    "st_vt_sink" -> stVtSink,
    "st_vt_source_chunked" -> stVtSourceChunked,
    "st_vt_source_cdf" -> stVtSourceCdf,
    "st_vt_sink_merge" -> stVtSinkMerge,
    "st_vt_sink_dv" -> stVtSinkDv,
    "st_vt_source" -> stVtSource,
    "st_vt_merge" -> stVtMerge,
    "st_vt_changes" -> stVtChanges,
    "st_quality_gate" -> stQualityGate,
    "st_join" -> stJoin,
    "st_neardup" -> stNearDup,
    "st_dedup_keys" -> stDedupKeys,
    "st_hourly" -> stHourly,
    "st_hourly_complete" -> stHourlyComplete,
    "st_hourly_update" -> stHourlyUpdate,
    "st_late_data" -> stLateData,
    "st_sliding" -> stSliding,
    "st_sessions" -> stSessions,
    "st_redact" -> stRedact,
    "st_file_sink" -> stFileSink,
    "st_contamination" -> stContamination)

  val oracles: Map[String, String] = Map(
    // Shared with op_merge_upsert: the sequential batch application
    // provably converges to the single-merge result (see stMergeUpsert).
    "st_merge_upsert" -> Ops.oracles("op_merge_upsert"),
    // Micro-batch boundaries must be invisible: the one-shot rollup.
    "st_incr_agg" -> Ops.oracles("op_incr_agg"),
    // Append commits union to the source: batch boundaries invisible.
    "st_versioned_sink" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    // The format sink relays the same content: batch boundaries and
    // the sink plumbing itself must both be invisible.
    "st_vt_sink" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    // Snapshot + tailed appends relay the whole table exactly once:
    // a duplicated or dropped micro-batch window flips the hash.
    "st_vt_source" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    // The chunked snapshot walk + tail must relay the same content:
    // an overlapping, duplicated, or dropped file slice flips the hash.
    "st_vt_source_chunked" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    // The streamed change feed equals the batch change-set replay
    // (same history as op_vt_changes).
    "st_vt_changes" -> Ops.oracles("op_vt_changes"),
    // Snapshot-then-CDF: the replica's final state is snapshot
    // (≤1997) ∪ appended changes (1998) minus the delete of the
    // pre-append %7 keys — replayed here by full scan.
    "st_vt_source_cdf" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       year(o_orderdate) AS o_year
        |FROM orders
        |WHERE o_orderkey IS NOT NULL
        |  AND year(o_orderdate) <= 1998
        |  AND NOT (year(o_orderdate) <= 1997
        |           AND o_orderkey % 7 = 0)""".stripMargin,
    // The CDC final state: 1997 untouched, 1998 updated (doubled),
    // pre-1997 deleted, post-1998 inserted (+7). A replayed, dropped,
    // or reordered batch flips the hash.
    "st_vt_merge" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE year(o_orderdate) = 1997
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |FROM orders WHERE year(o_orderdate) = 1998
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 7 AS o_totalprice
        |FROM orders WHERE year(o_orderdate) > 1998""".stripMargin,
    // The format-sink merge lane replays the identical CDC history:
    // same final state, same hash sensitivity.
    "st_vt_sink_merge" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE year(o_orderdate) = 1997
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |FROM orders WHERE year(o_orderdate) = 1998
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 7 AS o_totalprice
        |FROM orders WHERE year(o_orderdate) > 1998""".stripMargin,
    // The DV sink lane replays the identical CDC history with zero
    // file rewrites: same final state, same hash sensitivity.
    "st_vt_sink_dv" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE year(o_orderdate) = 1997
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |FROM orders WHERE year(o_orderdate) = 1998
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 7 AS o_totalprice
        |FROM orders WHERE year(o_orderdate) > 1998""".stripMargin,
    // Only the clean batches publish: 1998 (the planted-violation
    // batch) must be wholly absent.
    // Row-level gate: 1998's odd keys were negated (violations →
    // quarantine); its clean evens MUST publish — atomically with the
    // quarantine lane, in one multi-table txn per micro-batch.
    "st_quality_gate" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE year(o_orderdate) <> 1998 OR o_orderkey % 2 = 0""".stripMargin,
    // ev_anomaly's exact-moment z arithmetic + st_hourly's append
    // emission rule (window end + 1h watermark <= ms-trunc(max ts)).
    "st_anomaly" ->
      """WITH mx AS (SELECT date_trunc('millisecond', max(ts)) AS mx
        |  FROM events),
        |hourly AS (SELECT
        |    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |    date_trunc('hour', ts) AS h0, event_type,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2, 3),
        |m AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS nh,
        |    sum(n) AS s, sum(n * n) AS q
        |  FROM hourly GROUP BY 1),
        |z AS (SELECT h.event_type, h.hour, h.h0, h.n,
        |    floor((h.n - m.s / m.nh)
        |      / sqrt((m.q - m.s * m.s / m.nh) / m.nh) * 1000000 + 0.5)
        |      / 1000000 AS z
        |  FROM hourly h JOIN m ON h.event_type = m.event_type)
        |SELECT event_type, hour, CAST(n AS BIGINT) AS n, z
        |FROM z WHERE abs(z) > 2.0
        |  AND h0 + INTERVAL 2 HOUR <= (SELECT mx FROM mx)""".stripMargin,
    "st_redact" -> Ext.redactOracle,
    // Verified-LSH output ≡ exact-Jaccard pairs (dedup_minhash's parity
    // argument), restricted to arriving (odd) × corpus (even) ids.
    "st_neardup" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM toks WHERE len(t) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS inter
        |  FROM sh n JOIN sh o ON n.s = o.s
        |  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
        |  GROUP BY 1, 2)
        |SELECT new_id, old_id,
        |  floor(inter * 1.0 / (sa.n + sb.n - inter) * 1000000 + 0.5)
        |    / 1000000 AS jaccard
        |FROM pairs
        |JOIN sz sa ON new_id = sa.doc_id
        |JOIN sz sb ON old_id = sb.doc_id
        |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5""".stripMargin,
    // The file sink must round-trip the same rows the memory sink sees.
    "st_file_sink" -> Ext.redactOracle,
    // The stream-static join emits one row per (bench, corpus, shared
    // shingle) — the contamination evidence stream, no aggregation.
    "st_contamination" ->
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 6, 1)),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
        |      || ' ' || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6]
        |      || ' ' || t[i+7]))) AS s
        |  FROM toks WHERE len(t) >= 8)
        |SELECT b.doc_id AS bench_id, c.doc_id AS corpus_id, c.s AS shingle
        |FROM sh c JOIN sh b ON b.s = c.s
        |WHERE b.source = 'src0' AND c.source <> 'src0'""".stripMargin,
    "st_join" ->
      """SELECT c.user_id AS user_id, c.event_id AS click_id,
        |  e.event_id AS view_id,
        |  epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
        |FROM events c JOIN events e
        |  ON c.user_id = e.user_id
        |  AND c.event_type = 'click' AND e.event_type = 'view'
        |  AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,
    "st_dedup_keys" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // Update-mode two-batch replay: batch-1 groups at their batch-1
    // state, plus every group batch 2 touches at its final state. The
    // cut replays the same integer epoch-µs midpoint.
    "st_hourly_update" ->
      """WITH b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2
        |    AS cut FROM events),
        |e1 AS (SELECT e.* FROM events e, b WHERE epoch_us(ts) <= cut),
        |e2 AS (SELECT e.* FROM events e, b WHERE epoch_us(ts) > cut),
        |a1 AS (SELECT strftime(date_trunc('hour', ts),
        |      '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e1 GROUP BY 1, 2),
        |tot AS (SELECT strftime(date_trunc('hour', ts),
        |      '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |k2 AS (SELECT DISTINCT strftime(date_trunc('hour', ts),
        |      '%Y-%m-%d %H:%M:%S') AS hour, event_type FROM e2)
        |SELECT * FROM a1
        |UNION ALL
        |SELECT tot.* FROM tot JOIN k2 USING (hour, event_type)""".stripMargin,
    // Late-data drop: batch 2's older half arrives wholly behind the
    // watermark set by batch 1's newer half, so the result is the
    // newer half's aggregate under the standard emission rule. (A
    // full-data aggregate would differ in every straddling window —
    // the drop is value-checked, not assumed.)
    "st_late_data" ->
      """WITH b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2
        |    AS cut FROM events),
        |m AS (SELECT date_trunc('millisecond', max(ts)) AS mx FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, b
        |WHERE epoch_us(ts) > cut
        |  AND date_trunc('hour', ts) + INTERVAL 2 HOUR <= (SELECT mx FROM m)
        |GROUP BY 1, 2""".stripMargin,
    // Complete mode has NO emission filter: the final table is the
    // plain batch aggregate over everything.
    "st_hourly_complete" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Emission rule: window end <= watermark = ms-trunc(max ts) - 1h.
    "st_hourly" ->
      """WITH m AS (SELECT date_trunc('millisecond', max(ts)) AS mx
        |  FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 2 HOUR <= (SELECT mx FROM m)
        |GROUP BY 1, 2""".stripMargin,
    // Sliding windows (the ev_sliding unnest) + the emission rule:
    // window end (start + 1h) <= watermark = ms-trunc(max ts) - 1h.
    "st_sliding" ->
      """WITH m AS (SELECT date_trunc('millisecond', max(ts)) AS mx
        |  FROM events),
        |cand AS (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |            time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
        |      AS ws,
        |    ts
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM cand
        |WHERE ts >= ws AND ts < ws + INTERVAL 1 HOUR
        |  AND ws + INTERVAL 2 HOUR <= (SELECT mx FROM m)
        |GROUP BY 1, 2""".stripMargin,
    // Batch sessionization (the ev_sessions CTE) + the emission rule:
    // non-final sessions always surface (a later event closed them);
    // a user's final session surfaces iff its timeout (session end +
    // gap, in ms) fell strictly before the final watermark
    // (ms-trunc(max ts) - gap).
    "st_sessions" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |y AS (
        |  SELECT *, CASE WHEN prev_us IS NULL
        |      OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_idx
        |  FROM y),
        |sess AS (
        |  SELECT user_id, session_idx, count(*) AS n_events,
        |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM z GROUP BY user_id, session_idx),
        |m AS (SELECT max(epoch_us(ts)) AS mxus FROM events),
        |ranked AS (
        |  SELECT sess.*, row_number() OVER (PARTITION BY user_id
        |    ORDER BY session_idx DESC) AS rn
        |  FROM sess)
        |SELECT user_id, start_us, end_us, n_events, sum_value
        |FROM ranked, m
        |WHERE rn > 1
        |   OR (end_us // 1000 + 1800000) < (mxus // 1000 - 1800000)""".stripMargin)
}
