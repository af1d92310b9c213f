package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{UnionDfs, BalancedSample, DfHistogram, Bucketize,
  TopKPerKey, SaltedJoin, ZOrder}
import graft.functions.StableHash

/** Queries exercising the reference-derived operator library (SURVEY §2):
  * schema-merging union, stratified sample, histogram, bucketize,
  * stable hash. */
object Ops {
  import Tables._

  type Q = (SparkSession, String) => DataFrame

  // U1 union_dfs: two frames with partially-overlapping schemas; missing
  // columns null-padded (ref: oarphpy/spark.py:149-192).
  val opUnionDfs: Q = (s, d) => {
    val a = customer(s, d).select(col("c_custkey").as("key"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    val b = supplier(s, d).select(col("s_suppkey").as("key"),
      col("s_name").as("name"), col("s_nationkey").as("nationkey"))
    UnionDfs(a, b)
  }

  // A2 df_histogram: 50-bin histogram of l_extendedprice, all buckets.
  val opHistogram: Q = (s, d) =>
    DfHistogram.asDf(lineitem(s, d), "l_extendedprice", numBins = 50)

  // P4 bucketize: fixed-edge CASE chain over l_quantity (edges cover the
  // 1..50 domain; out-of-range → -1 bucket).
  val opBucketize: Q = (s, d) =>
    lineitem(s, d)
      .groupBy(Bucketize(col("l_quantity"), Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0))
        .as("bucket"))
      .agg(count(lit(1)).as("n"))

  // F1 stable_hash as a column op (portable md5 definition).
  val opStableHash: Q = (s, d) =>
    documents(s, d).select(col("doc_id"),
      StableHash.stableHashCol(col("text")).as("stable_hash"))

  // F2 hash_to_rgb: reference-parity value→color (md5 → Knuth-mod hue →
  // HSV, golden-pinned in UtilSpec, ref: oarphpy/plotting.py:20-35) as a
  // compiled Scala UDF over the column (the Dedup.shingleFn treatment —
  // one JVM call per row, no interpreted lambdas). The oracle rebuilds
  // the 128-bit digest from two 64-bit hex halves (2^64 mod 2654435769 =
  // 2120883862 folded in; every product < 2^63) and replays the exact
  // double chain, so the RGB triples are value-checked cross-engine.
  val opHashRgb: Q = (s, d) => {
    val rgb = udf { v: String =>
      val (r, g, b) = StableHash.hashToRgb(v)
      (r, g, b)
    }
    documents(s, d)
      .select(col("doc_id"), rgb(col("doc_id").cast("string")).as("c"))
      .select(col("doc_id"), col("c._1").as("r"), col("c._2").as("g"),
        col("c._3").as("b"))
  }

  // A3 balanced sample: portable md5-threshold Bernoulli → the exact
  // sample is reproducible in DuckDB, so the oracle checks values, not
  // just expectation. Row identity = lineitem's natural key.
  val opBalancedSample: Q = (s, d) =>
    BalancedSample(lineitem(s, d), "l_returnflag", nPerCategory = Some(500),
      idCols = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))

  // O3 top-k per key via the partial-aggregating heap (O(keys×k)
  // shuffle, no per-key partition sort) — oracle is the window
  // row_number formulation: results must be identical.
  val opTopKPerKey: Q = (s, d) =>
    TopKPerKey(orders(s, d), Seq("o_custkey"), "o_totalprice",
      "o_orderkey", k = 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"), col("rank"))

  // Skew-salted join: salting must be INVISIBLE in the result — the
  // oracle is the plain (unsalted) join + aggregation.
  val opSaltedJoin: Q = (s, d) => {
    val l = lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
    val r = orders(s, d).select(col("o_orderkey").as("l_orderkey"),
      col("o_orderpriority"))
    SaltedJoin(l, r, Seq("l_orderkey"), saltFactor = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
  }

  // Bucketed co-located join, driver-checked END-TO-END through the
  // physical layout: both sides land as 8-bucket managed tables keyed
  // on c_custkey, and the join plans with NO Exchange (gated in
  // ScaleOpsSpec on the executed plan) — the at-rest design lever for
  // repeated fact-fact joins at 100 TB. The oracle is the plain join:
  // bucketing must be result-invisible. Warehouse artifacts are
  // .gitignore'd; overwrite mode keeps reruns idempotent.
  val opBucketedJoin: Q = (s, d) => {
    val c = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    val o = orders(s, d).select(col("o_custkey").as("c_custkey"),
      col("o_totalprice"))
    graft.operators.Bucketing.writeBucketed(
      c, "graft_bk_cust", Seq("c_custkey"), 8, Seq("c_custkey"))
    graft.operators.Bucketing.writeBucketed(
      o, "graft_bk_ord", Seq("c_custkey"), 8, Seq("c_custkey"))
    graft.operators.Bucketing.bucketedJoin(
      s, "graft_bk_cust", "graft_bk_ord", Seq("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
  }

  // The reference's flagship viz operator as a value-checked query: the
  // per-(pivot, bucket) histogram grid that HistogramWithExamples
  // computes distributed (3 jobs at any pivot count). Example strings
  // are display-arbitrary and excluded; the counts/edges are the data
  // contract. Output is O(pivots × bins) — a driver-local frame by
  // design.
  val vizHistogram: Q = (s, d) => {
    import s.implicits._
    // Two synthetic pivot groups exercise the operator's edge contracts
    // end-to-end against the oracle: 'ZZ' has ONLY null values (a
    // value-less pivot must be DROPPED — emitting 50 empty [0,0)
    // buckets would fabricate edges), and the NULL pivot has real
    // values (must survive as SQL NULL through the U+0001 sentinel).
    val synth = Seq(
      ("ZZ", Option.empty[Double]), ("ZZ", Option.empty[Double]),
      (null.asInstanceOf[String], Some(1000.0)),
      (null.asInstanceOf[String], Some(2000.0)),
      (null.asInstanceOf[String], Some(3000.0)))
      .toDF("l_returnflag", "l_extendedprice")
    val r = graft.viz.HistogramWithExamples.run(
      lineitem(s, d).select(col("l_returnflag"), col("l_extendedprice"))
        .unionByName(synth),
      "l_extendedprice", subPivotCol = Some("l_returnflag"))
    // A NULL pivot travels internally as the U+0001 sentinel (genuine
    // U+0001 chars are doubled); translate back to SQL NULL and unescape
    // at the output edge so the contract matches the oracle's GROUP BY.
    r.buckets.map(b => (
        if (b.pivot == "\u0001null") null
        else b.pivot.replace("\u0001\u0001", "\u0001"),
        b.bucket, b.lo, b.hi, b.count))
      .toDF("pivot_key", "bucket", "lo", "hi", "n")
  }

  // Deterministic k-row uniform sample PER KEY ("reservoir"): rank rows
  // by the portable md5 draw, keep the top 5 via the bounded-heap
  // aggregator — O(keys×k) shuffle, no per-key partition sort, and the
  // exact same sample on any engine (oracle = the window formulation
  // over the same draw).
  val opReservoirPerKey: Q = (s, d) => {
    // Repartition BEFORE the md5 draw: the draw is the CPU cost here
    // and must run at full parallelism, not at the scan's split count.
    val withDraw = lineitem(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .withColumn("__rowid",
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long"))
      .withColumn("__draw", BalancedSample.hash60(
        Seq(col("l_orderkey"), col("l_linenumber")), 7L))
    TopKPerKey(withDraw, Seq("l_returnflag"), "__draw", "__rowid", k = 5)
      .select(col("l_returnflag"), col("__rowid").as("sample_id"), col("rank"))
  }

  // Dataset profile: one aggregate pass over lineitem → one row per
  // column (counts, exact distinct, typed min/max lanes). Driver state
  // is O(|cols|); the oracle is the per-column UNION ALL of the same
  // statistics.
  val opProfile: Q = (s, d) =>
    graft.operators.ColumnProfiler.profile(lineitem(s, d))

  // The 100 TB default profile mode: HLL distincts fused into the ONE
  // aggregate job (no melt/distinct second job — PlanSpec pins the
  // single-job shape). DuckDB can't replay Spark's HLL++ estimate, so
  // the row pins every deterministic lane exactly (n_rows, n_nonnull,
  // typed min/max) plus the estimate's accuracy contract as a boolean:
  // |hll/exact - 1| <= 0.15 (3x the default 5% rsd). The oracle emits
  // literal TRUE — an out-of-band estimate flips the hash and fails the
  // row. (The exact-mode pass exists only to source the comparison
  // denominator; it is itself value-oracled by op_profile.)
  val opProfileApprox: Q = (s, d) => {
    val li = lineitem(s, d)
    // One representative column per lane (high-card bigint, low-card
    // int, double, string, timestamp) — the HLL contract is per-column,
    // so five lanes pin it as well as eleven at half the bench cost;
    // op_profile still value-checks every column in exact mode.
    val cols = Seq("l_orderkey", "l_linenumber", "l_extendedprice",
      "l_returnflag", "l_shipdate")
    val approx = graft.operators.ColumnProfiler.profile(
      li, cols, exactDistinct = false)
    val exact = graft.operators.ColumnProfiler.profile(li, cols)
      .select(col("col_name"), col("n_distinct").as("__nd_exact"))
    approx.join(exact, "col_name")
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"),
        (abs(col("n_distinct").cast("double") / col("__nd_exact") - 1.0)
          <= 0.15).as("nd_ok"))
  }

  // CDC-style snapshot upsert over customer: deletes (key % 13 == 0),
  // updates (+100.00 to acctbal for key % 7 == 0 among the survivors),
  // inserts (clones shifted past the CURRENT max key — derived from
  // the data, not a constant, so insert keys can never collide with
  // base keys at ANY scale factor) — all synthesized deterministically
  // from the base table so the oracle replays the change set and the
  // merge. One full-outer hash join + codegen coalesce projection
  // (SnapshotMerge).
  val opMergeUpsert: Q = (s, d) => {
    val base = customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    // one 1-row aggregate of driver state; oracle replays as a subquery
    val maxRow = base.agg(max(col("c_custkey"))).collect()(0)
    if (maxRow.isNullAt(0)) base // zero-row base: nothing to synthesize
    else {
      val maxKey = maxRow.getLong(0)
      val deletes = base.where(pmod(col("c_custkey"), lit(13)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), lit("D").as("op"))
      val updates = base.where(pmod(col("c_custkey"), lit(13)) =!= 0 &&
          pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal"), lit("U").as("op"))
      val inserts = base.where(pmod(col("c_custkey"), lit(17)) === 0)
        .select((col("c_custkey") + lit(maxKey)).as("c_custkey"),
          concat(lit("NEW_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_nationkey"), lit(0.0).as("c_acctbal"), lit("I").as("op"))
      graft.operators.SnapshotMerge(
        base, deletes.unionByName(updates).unionByName(inserts),
        "c_custkey")
    }
  }

  // Z-order layout roundtrip: lineitem clustered on (l_partkey,
  // l_suppkey) via the Morton curve, read back through a TWO-dimension
  // selective predicate. The value oracle is the plain filter (layout
  // must be value-invisible); the SCAN-REDUCTION claim — parquet
  // min/max stats prune most files for predicates on either dimension
  // — is measured in ZOrderSpec (per-file dim-span assertion) and
  // SCALE.md. numFiles=16 keeps the fixture's files non-trivial; at
  // scale it is total-bytes / target-file-size.
  val opZorderScan: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_zorder_")
    ZOrder.write(lineitem(s, d), Seq("l_partkey", "l_suppkey"),
      dir.getAbsolutePath, numFiles = 16)
    Sources.registerCleanup(dir)
    s.read.parquet(dir.getAbsolutePath)
      .where(col("l_partkey") <= 500 && col("l_suppkey") <= 50)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
  }

  // Small-file compaction roundtrip: documents written as 64 tiny
  // files (the streaming-sink/CDC accretion shape), compacted to
  // size-targeted files in place (temp+rename swap), read back. The
  // oracle is the source table (compaction is layout-only by
  // contract); file-count arithmetic and the partitioned path are
  // spec'd in CompactSpec.
  val opCompactRoundtrip: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_compact_")
    documents(s, d).repartition(64)
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    graft.operators.Compact(s, dir.getAbsolutePath,
      targetFileBytes = 8L * 1024 * 1024)
    Sources.registerCleanup(dir)
    s.read.parquet(dir.getAbsolutePath)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("h"))
  }

  // Targeted at-rest delete (the right-to-be-forgotten shape):
  // documents written range-clustered on doc_id across 16 files, a
  // contiguous id band deleted — discovery's literal IN filter prunes
  // to the files whose row-group min/max overlap the band, only those
  // rewrite, every other file MOVES (metadata rename, no data copy).
  // The oracle is the surviving table (delete semantics only — layout
  // invisible); the pruning ratio and swap hygiene are spec'd in
  // TargetedDeleteSpec.
  val opTargetedDelete: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_tdelete_")
    documents(s, d).repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    Sources.registerCleanup(dir)
    graft.operators.TargetedDelete(s, dir.getAbsolutePath, "doc_id",
      (10L until 25L).toSeq)
    s.read.parquet(dir.getAbsolutePath)
      .select(col("doc_id"), col("source"),
        md5(coalesce(col("text"), lit(""))).as("h"))
  }

  // The PARTITIONED targeted delete: documents written hive-partitioned
  // on source (and range-clustered on doc_id within each partition),
  // the FIRST source's low-id band deleted through the partitioned
  // wrapper — one global discovery scan finds the single affected leaf
  // dir, the flat delete runs there only, every other partition is
  // never listed or read (a delete set spread across all partitions
  // would instead pay one flat delete per leaf — correct, just
  // unpruned). Same delete-semantics-only oracle shape as the flat
  // entry; partition columns survive (read back from the dir
  // structure). Cross-partition crash recovery is spec'd in
  // TargetedDeleteSpec.
  val opTargetedDeletePart: Q = (s, d) => {
    val src = documents(s, d)
    val out = src.select(col("doc_id"), col("source"),
      md5(coalesce(col("text"), lit(""))).as("h"))
    // Zero-row corpus: a dynamic partitionBy write creates NO leaf
    // dirs — deliberate empty frame with the output schema.
    if (src.isEmpty) out.limit(0)
    else {
    // Keys confined to ONE partition value (min source, doc_id < 40) —
    // deterministic, and the pruning story is observable: exactly one
    // leaf rewrites. Collect is bounded by the band.
    val keys = src.where(
        col("source") === src.agg(min(col("source"))).collect()(0)
          .getString(0) && col("doc_id") < 40)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    if (keys.isEmpty) out
    else {
      val dir = Sources.fixtureDir(s, "graft_tdelpart_")
      src.repartitionByRange(8, col("source"), col("doc_id"))
        .sortWithinPartitions(col("source"), col("doc_id"))
        .write.mode("overwrite").partitionBy("source")
        .parquet(dir.getAbsolutePath)
      Sources.registerCleanup(dir)
      graft.operators.TargetedDelete.applyPartitioned(
        s, dir.getAbsolutePath, "doc_id", keys)
      s.read.parquet(dir.getAbsolutePath)
        .select(col("doc_id"), col("source"),
          md5(coalesce(col("text"), lit(""))).as("h"))
    }
    }
  }

  // Bloom-pruned semi join: lineitem reduced map-side by a bloom
  // filter over the URGENT orders' keys BEFORE any shuffle, then the
  // exact semi join on the survivors. Bloom false positives are
  // removed by the exact join and false negatives don't exist, so the
  // result — and the oracle — is the plain semi join.
  val opBloomSemiJoin: Q = (s, d) => {
    val urgent = orders(s, d).where(col("o_orderpriority") === "1-URGENT")
    graft.operators.BloomPrune.semiJoin(
      lineitem(s, d), urgent, "l_orderkey", "o_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"))
  }

  /** Scoped conf override: set, run, restore — an entry must never
    * leak session-wide conf changes into the other queries. */
  private def withConfs[T](
      s: SparkSession, kv: (String, String)*)(f: => T): T = {
    val olds = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally olds.foreach { case (k, o) =>
      o.fold(s.conf.unset(k))(v => s.conf.set(k, v)) }
  }

  /** The MIN/MAX/COUNT frame for footer-only aggregation; shared with
    * PlanSpec's PushedAggregation gate. */
  private[graft] def metaAggFrame(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/lineitem.parquet").agg(
      count(lit(1)).as("n_rows"),
      min(col("l_orderkey")).as("min_key"),
      max(col("l_orderkey")).as("max_key"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"))

  /** The confs that turn on footer-only aggregation: DSv2 parquet read
    * path + aggregate pushdown (Spark 4 spells the conf
    * `aggregatePushdown` — the 3.x capital-D name is silently ignored). */
  private[graft] val metaAggConfs = Seq(
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.sources.useV1SourceList" -> "")

  /** FOOTER-ONLY aggregation: parquet keeps min/max/count per row group
    * in its metadata, and with the DSv2 read path + aggregate pushdown
    * Spark answers whole-table MIN/MAX/COUNT from footers alone — zero
    * data pages decoded (`PushedAggregation` in the scan, gated by
    * PlanSpec). At 100 TB this turns full-corpus stats from a scan into
    * an O(#files) metadata sweep — the cheapest query the format can
    * answer. Confs are entry-scoped, so the result is materialized
    * UNDER them (pushdown is consulted at optimization time; a lazy
    * frame would escape the scope and silently fall back to a scan). */
  val opMetaAgg: Q = (s, d) => withConfs(s, metaAggConfs: _*) {
    val df = metaAggFrame(s, d)
    val rows = java.util.Arrays.asList(df.collect(): _*)
    s.createDataFrame(rows, df.schema)
  }

  // Iterative-graph workload: PageRank over the part co-purchase graph
  // (parts sharing an order are linked, both directions — symmetric, so
  // no dangling mass). Fixed-point long arithmetic end to end makes the
  // 10-iteration power recurrence bit-exact in both engines; the oracle
  // unrolls the same integer recurrence as 10 chained CTEs. Scale shape
  // (operators/PageRank.scala): edges+degrees partitioned once and
  // reused; per-iteration shuffle is the O(nodes) rank table only.
  val opPagerank: Q = (s, d) => {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    graft.operators.PageRank.run(e, iterations = 10)
      .orderBy(col("r").desc, col("node"))
      .limit(25)
      .select(col("node").as("p_partkey"), col("r").as("rank_fp"))
  }

  // Zone-map (file-level min/max manifest) scan planning: lineitem
  // written range-clustered on l_orderkey across 16 files, the
  // manifest built in one grouped aggregate, then a selective range
  // read planned FROM THE MANIFEST — only span-overlapping files are
  // opened (1–2 of 16 here; pruning ratio and staleness refusal are
  // spec'd in ZoneMapSpec). The oracle is the plain range filter:
  // manifest planning must be result-invisible.
  val opZonemapPrune: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_zmap_")
    lineitem(s, d).repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    Sources.registerCleanup(dir)
    graft.operators.ZoneMapIndex.build(s, dir.getAbsolutePath,
      Seq("l_orderkey", "l_quantity"))
    graft.operators.ZoneMapIndex.prunedRead(s, dir.getAbsolutePath,
      "l_orderkey", 1000L, 3000L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  // Zone-map INCREMENTAL refresh end to end: build the manifest on the
  // initial clustered layout, APPEND two new files (stale manifest —
  // prunedRead refuses), refresh (only the new files are scanned), and
  // the pruned range read must again equal the plain filter over the
  // grown table. Exercises operators/ZoneMapIndex.refresh through the
  // driver oracle, not just ZoneMapSpec.
  val opZonemapRefresh: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_zmapr_")
    val li = lineitem(s, d)
    li.where(col("l_linenumber") <= 4)
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    Sources.registerCleanup(dir)
    graft.operators.ZoneMapIndex.build(s, dir.getAbsolutePath,
      Seq("l_orderkey"))
    li.where(col("l_linenumber") === 5).coalesce(1)
      .write.mode("append").parquet(dir.getAbsolutePath)
    li.where(col("l_linenumber") >= 6).coalesce(1)
      .write.mode("append").parquet(dir.getAbsolutePath)
    val (fresh, dropped) =
      graft.operators.ZoneMapIndex.refresh(s, dir.getAbsolutePath)
    require(fresh == 2 && dropped == 0,
      s"refresh should index exactly the 2 appended files: ($fresh, $dropped)")
    graft.operators.ZoneMapIndex.prunedRead(s, dir.getAbsolutePath,
      "l_orderkey", 1000L, 3000L)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  // Versioned-table OPTIMIZE as a driver entry: three small appends
  // accrete many tiny files; compact() rewrites the latest version into
  // one target-size file as a NEW version (rollback-able — v2 stays
  // time-travelable), and the read must be content-invisible. The
  // oracle is the source table.
  val opVtCompact: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_vtc_")
    Sources.registerCleanup(dir)
    val t0 = new java.io.File(dir, "docs").getAbsolutePath
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    for (m <- 0 until 3)
      graft.operators.VersionedTable.commit(
        docs.where(pmod(col("doc_id"), lit(3)) === m).repartition(2),
        t0, overwrite = false)
    val before = graft.operators.VersionedTable.files(s, t0, 2).size
    val cv = graft.operators.VersionedTable.compact(s, t0,
      targetFileBytes = 1L << 30)
    val after = graft.operators.VersionedTable.files(s, t0, cv).size
    require(after < before,
      s"compaction must shrink the file count: $before -> $after")
    require(graft.operators.VersionedTable.read(s, t0, Some(2)).count() ==
      graft.operators.VersionedTable.read(s, t0).count(),
      "pre-compaction version must stay readable and equal")
    graft.operators.VersionedTable.read(s, t0)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
  }

  // Manifest-stats scan planning over a VERSIONED table: v0 commits
  // half of lineitem range-clustered on l_orderkey (8 files, per-file
  // min/max harvested from parquet footers into the manifest), v1
  // appends the other half (stats columns inherited), v2 overwrites
  // with an empty frame — and the range read is planned from v1's
  // MANIFEST ALONE, composing time travel with file skipping: only
  // span-overlapping files of the TIME-TRAVELED version are opened
  // (gated below), no sidecar, no refresh step. The oracle is the
  // plain range filter over the full table: manifest planning must be
  // result-invisible, and reading v1 (not the empty latest) is what
  // the oracle checks.
  val opVtPrunedRead: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_vtpr_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    graft.operators.VersionedTable.commit(
      li.where(col("l_linenumber") <= 4)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    graft.operators.VersionedTable.commit(
      li.where(col("l_linenumber") >= 5)
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = false)
    graft.operators.VersionedTable.commit(li.limit(0), t, overwrite = true)
    val entries = graft.operators.VersionedTable.readEntries(s, t, 1)
    val keep = graft.operators.VersionedTable.pruneEntries(
      entries, "l_orderkey", 1000L, 3000L)
    require(entries.isEmpty || keep.size < entries.size,
      s"manifest stats must prune files: ${keep.size}/${entries.size}")
    graft.operators.VersionedTable.prunedRead(
      s, t, "l_orderkey", 1000L, 3000L, asOfVersion = Some(1))
  }

  // Row-level DELETE as a versioned commit: the table is committed
  // range-clustered on doc_id, then the low-id fifth is deleted via
  // VersionedTable.deleteWhere — only the files whose manifest span
  // holds matching rows are rewritten; the rest carry into the new
  // version BY REFERENCE (gated below). The pre-delete version stays
  // readable and whole until expire(); a replayed delete (same txnId)
  // no-ops; after expire + vacuum only the latest version's files
  // remain on disk. The oracle is the anti-filter over the source
  // table.
  val opVtDelete: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtd_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "docs").getAbsolutePath
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    VersionedTable.commit(
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    val mx = docs.agg(max(col("doc_id"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val cut = mx.getLong(0) / 5
      val pred = col("doc_id") <= cut
      val preFiles = VersionedTable.files(s, t, 0).toSet
      val v = VersionedTable.deleteWhere(s, t, pred,
        txnId = Some("vtd_del1"))
      require(v == 1, s"delete must commit version 1, got $v")
      // untouched files carry by reference — the delete must NOT have
      // rewritten the whole table
      val carried = VersionedTable.files(s, t, 1).toSet.intersect(preFiles)
      require(carried.nonEmpty,
        "a range delete over a range-clustered table must carry files")
      require(VersionedTable.read(s, t, Some(0)).count() == docs.count(),
        "the pre-delete version must stay whole")
      require(VersionedTable.deleteWhere(s, t, pred,
        txnId = Some("vtd_del1")) == v,
        "a replayed delete (same txnId) must no-op")
      VersionedTable.expire(s, t, keepLast = 1)
      VersionedTable.vacuumUnreferenced(s, t, 0L)
      val live = VersionedTable.files(s, t, v).toSet
      val onDisk = new java.io.File(t).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
      require(onDisk == live,
        s"after expire+vacuum only v$v's files remain: $onDisk vs $live")
    }
    VersionedTable.read(s, t)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"),
        col("source"))
  }

  // DELETION-VECTOR delete (the write-amplification fix): the same
  // table as op_vt_delete, but the predicate is OFF-CLUSTER (doc_id %
  // 3 — every range-clustered file holds matches, the shape where a
  // rewrite delete rewrites the WHOLE table) and the delete commits as
  // ONE delta-sized sidecar instead: every data file carries BY NAME
  // (gated), the sidecar is ≥10× smaller than the bytes a rewrite
  // would have written (gated), metadata COUNT stays exact, reads and
  // time travel mask exactly, and compact() materializes the vectors
  // away (gated: no dv entries after). The oracle is the anti-filter —
  // a DV delete must be value-identical to a rewrite delete.
  val opVtDeleteDv: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdv_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "docs").getAbsolutePath
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    VersionedTable.commit(
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    val pred = col("doc_id") % 3 === 0
    val dataBytes = VersionedTable.readEntries(s, t, 0)
      .map(_.size).filter(_ > 0).sum
    val v = VersionedTable.deleteWhere(s, t, pred,
      txnId = Some("vtdv_del1"), deletionVectors = true)
    if (v == 1) {
      require(VersionedTable.files(s, t, 1).toSet ==
        VersionedTable.files(s, t, 0).toSet,
        "a DV delete must not rewrite or drop any data file")
      val e1 = VersionedTable.readEntries(s, t, 1)
      val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
        s.sessionState.newHadoopConf())
      val sidecarBytes = e1.flatMap(_.dv.map(_._1)).distinct
        .map(n => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$t/$n")).getLen).sum
      // the whole point: bytes written collapse vs the rewrite the
      // off-cluster predicate would have forced (guarded: only when
      // the fixture is big enough for file overheads to amortize)
      require(dataBytes < 50000 || sidecarBytes * 10 <= dataBytes,
        s"DV delete must write >=10x less: sidecar $sidecarBytes vs " +
          s"data $dataBytes")
      // metadata-only count is still exact over the mask
      val live = VersionedTable.countRows(s, t)
      require(live == VersionedTable.read(s, t).count(),
        s"countRows must subtract the mask: $live")
      require(VersionedTable.read(s, t, Some(0)).count() == docs.count(),
        "the pre-delete version must stay whole")
      require(VersionedTable.deleteWhere(s, t, pred,
        txnId = Some("vtdv_del1"), deletionVectors = true) == 1,
        "a replayed DV delete (same txnId) must no-op")
      // OPTIMIZE materializes the vectors away
      val cv = VersionedTable.compact(s, t,
        targetFileBytes = 64L * 1024)
      require(VersionedTable.readEntries(s, t, cv).forall(_.dv.isEmpty),
        "compact must materialize deletion vectors")
    }
    VersionedTable.read(s, t)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"),
        col("source"))
  }

  // METADATA-ONLY AGGREGATES (the Delta/Iceberg metadata-query
  // posture): a whole-table SQL count/min/max over a versioned
  // catalog table folds to a LocalRelation computed from the
  // manifest's exact row counts and footer-harvested spans — ZERO
  // data files opened (gated: the optimized plan's only leaves are
  // LocalRelations). At 100 TB that turns a multi-minute 800k-file
  // scan into a milliseconds manifest read. Exact-or-untouched:
  // count stays foldable on DV'd versions (live = physical − masked,
  // gated), min/max refuse there (a masked row could have held the
  // extremum) and on un-indexed columns. The oracle recomputes all
  // four values by full scan in DuckDB.
  val opVtMetaAgg: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtmeta_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey", "l_quantity"))
    VersionedTable.deleteWhere(s, t, col("l_orderkey") % 4 === 0,
      txnId = Some("vtmeta_del"), deletionVectors = true)
    def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // count(col) = Σ(rows − nulls) folds from the manifest's per-
    // column null counts — the most common profiling aggregate after
    // count(*), likewise zero data files opened
    val meta = s.sql(
      s"SELECT count(*) AS n0, min(l_orderkey) AS lo, " +
        s"max(l_orderkey) AS hi, count(l_quantity) AS cq " +
        s"FROM graft.`$t` VERSION AS OF 0")
    require(foldsToLocal(meta),
      "whole-table count/count(col)/min/max must fold to metadata")
    val after = s.sql(s"SELECT count(*) AS n1 FROM graft.`$t`")
    require(foldsToLocal(after),
      "count over the DV'd version must fold (live = physical - masked)")
    // min/max over the DV'd version: the %4 mask touches every file,
    // so metadata alone cannot bound the extrema — but the HYBRID
    // still answers exactly (boundary rescan), matching the oracle
    val mx = s.sql(s"SELECT max(l_orderkey) AS hi1 FROM graft.`$t`")
    meta.crossJoin(after).crossJoin(mx)
  }

  // PREDICATE-BOUNDED METADATA COUNT: `count(*) WHERE <range>` over a
  // clustered versioned table answers interior files from the
  // manifest (exact row counts + null counts prove every row matches)
  // and scans ONLY the boundary files — at 100 TB a time-range count
  // reads two files instead of the whole overlap. Gated: the
  // middle-half range scans at most a few of the 8 clustered files
  // (df.inputFiles), and a full-range predicate folds to a
  // LocalRelation with no scan at all. The oracle recomputes the
  // count by full scan in DuckDB.
  val opVtCountWhere: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtcw_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val maxRow = lineitem(s, d).agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val lo = (maxId + 1) / 4
    val hi = (3L * (maxId + 1)) / 4
    val q = s.sql(s"SELECT count(*) AS n, min(l_orderkey) AS klo, " +
      s"max(l_orderkey) AS khi FROM graft.`$t` " +
      s"WHERE l_orderkey >= $lo AND l_orderkey < $hi")
    if (VersionedTable.readEntries(s, t, 0).size >= 8) {
      val read = q.inputFiles.length
      require(read < 8,
        s"interior files must answer from the manifest, scanned $read/8")
      // an all-covering range on the clustered key folds scan-free —
      // provable only when the key is null-free (all-in demands a
      // zero null count; comparisons are null-rejecting)
      val hasNull = lineitem(s, d)
        .where(col("l_orderkey").isNull).limit(1).count() > 0
      if (!hasNull) {
        val aligned = s.sql(s"SELECT count(*) AS n FROM graft.`$t` " +
          s"WHERE l_orderkey >= ${Long.MinValue}")
        require(aligned.queryExecution.optimizedPlan.collectLeaves()
          .forall(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
          "an all-in predicate must fold with no scan")
        require(aligned.collect()(0).getLong(0) ==
          VersionedTable.read(s, t).count(), "sanity: folded full count")
      }
    }
    q
  }

  // OR-DISJUNCTION METADATA COUNT: `count(*) WHERE a OR b` — the
  // everyday multi-band shape (`year = 1995 OR year = 1997`) — now
  // classifies per disjunct: a file is all-in when SOME disjunct
  // provably covers its every row, all-out when EVERY disjunct
  // excludes it, and only straddling files scan. Gated: the two
  // outer-quartile bands open at most the straddling boundary files
  // of 8 clustered ones. The oracle recomputes in DuckDB.
  val opVtCountOr: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtor_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val maxRow = lineitem(s, d).agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val q1 = (maxId + 1) / 4
    val q3 = (3L * (maxId + 1)) / 4
    val q = s.sql(s"SELECT count(*) AS n, min(l_orderkey) AS klo, " +
      s"max(l_orderkey) AS khi FROM graft.`$t` " +
      s"WHERE l_orderkey < $q1 OR l_orderkey >= $q3")
    if (VersionedTable.readEntries(s, t, 0).size >= 8) {
      val read = q.inputFiles.length
      require(read < 4,
        s"all-in band files must answer from the manifest, " +
          s"scanned $read/8")
    }
    q
  }

  // DV'D MIN/MAX FROM METADATA + EXTREMUM-ONLY RESCAN: a deletion
  // vector can hide an extremum ONLY in files whose recorded span
  // could extend past the clean-file baseline. An interior mask
  // therefore folds min/max pure-metadata (gated: LocalRelation-only
  // plan), and masking the global max rescans just the extremum-
  // touching file(s) (gated: ≤2 files opened of 8) — at 100 TB every
  // min/max on a lightly-masked table stops paying a full column
  // scan. The oracle replays both masks in DuckDB.
  val opVtDvMinmax: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdvmm_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val maxRow = lineitem(s, d).agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val mid = maxId / 2
    VersionedTable.deleteWhere(s, t, col("l_orderkey") === mid,
      txnId = Some("vtdvmm_mid"), deletionVectors = true)
    def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val sel = s"SELECT count(*) AS n, count(l_orderkey) AS nk, " +
      s"min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM graft.`$t`"
    // gate the pure fold only when the masked file really is interior
    // (its span strictly inside the clean-file baseline) — tiny or
    // hostile fixtures may mask a boundary file, where a rescan is
    // the CORRECT plan
    val e1 = VersionedTable.readEntries(s, t,
      VersionedTable.latestVersion(s, t).getOrElse(0))
    def spanOf(e: VersionedTable.FileEntry): Option[(Long, Long)] =
      e.stats.get("l_orderkey").flatten.collect {
        case (a: Long, b: Long) => (a, b) }
    val dvd = e1.filter(_.dv.exists(_._2 > 0))
    val clean = e1.filterNot(_.dv.exists(_._2 > 0)).flatMap(spanOf)
    val interiorOnly = dvd.nonEmpty && clean.nonEmpty &&
      dvd.forall(e => spanOf(e).exists { case (a, b) =>
        a > clean.map(_._1).min && b < clean.map(_._2).max })
    if (interiorOnly)
      require(foldsToLocal(s.sql(sel)),
        "an interior DV must not force any scan for min/max")
    // mask the global max: only extremum-touching files may rescan
    VersionedTable.deleteWhere(s, t, col("l_orderkey") === maxId,
      txnId = Some("vtdvmm_max"), deletionVectors = true)
    val q = s.sql(sel)
    if (interiorOnly && e1.size >= 8) {
      val read = q.inputFiles.length
      require(read <= 2,
        s"only extremum-touching DV'd files may rescan, got $read/8")
    }
    q
  }

  // DATE-SPAN FOLDS + PREDICATE-ALGEBRA COMPLETION: dates normalize
  // through their physical epoch days (unit-safe, unlike
  // timestamps), so min/max/count(col) of a DATE column fold from
  // the manifest (gated: LocalRelation-only plan); the exact
  // translation also covers IS NULL (decided by null counts alone),
  // != / NOT IN (all-out on single-point spans, all-in when every
  // listed value provably misses the span), and date-banded ORs
  // (gated: only boundary files scan). The oracle recomputes all
  // seven values by full scan in DuckDB.
  val opVtMetaDates: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdate_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ords").getAbsolutePath
    // the fixture stores o_orderdate as TIMESTAMP_NTZ; a DATE cast
    // lands the span-foldable epoch-day physical type
    VersionedTable.commit(
      orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_date"),
          col("o_orderdate"))
        .repartitionByRange(8, col("o_date"))
        .sortWithinPartitions(col("o_date")),
      t, overwrite = true,
      statsCols = Seq("o_orderkey", "o_date", "o_orderdate"))
    def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val agg = s.sql(s"SELECT count(*) AS n, " +
      s"count(o_date) AS nd, min(o_date) AS lo0, " +
      s"max(o_date) AS hi0, min(o_orderdate) AS tlo0, " +
      s"max(o_orderdate) AS thi0 FROM graft.`$t`")
    require(foldsToLocal(agg),
      "date AND timestamp min/max + count(col) must fold from the " +
        "manifest (timestamp spans are unit-normalized micros)")
    val base = agg.select(col("n"), col("nd"),
      date_format(col("lo0"), "yyyy-MM-dd").as("lo"),
      date_format(col("hi0"), "yyyy-MM-dd").as("hi"),
      date_format(col("tlo0"), "yyyy-MM-dd HH:mm:ss").as("tlo"),
      date_format(col("thi0"), "yyyy-MM-dd HH:mm:ss").as("thi"))
    val orQ = s.sql(s"SELECT count(*) AS n_or FROM graft.`$t` " +
      "WHERE o_date < DATE '1993-06-01' " +
      "OR o_date >= DATE '1997-06-01'")
    if (VersionedTable.readEntries(s, t, 0).size >= 8)
      require(orQ.inputFiles.length < 4,
        s"date-banded OR must scan boundaries only: " +
          s"${orQ.inputFiles.length}/8")
    val neQ = s.sql(s"SELECT count(*) AS n_ne FROM graft.`$t` " +
      "WHERE o_orderkey != 1")
    val nullQ = s.sql(s"SELECT count(*) AS n_null FROM graft.`$t` " +
      "WHERE o_date IS NULL")
    // TIMESTAMP_NTZ literal (no tz cast: a cast would wrap the
    // attribute and decline the exact translation)
    val tsQ = s.sql(s"SELECT count(*) AS n_ts FROM graft.`$t` " +
      "WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    if (VersionedTable.readEntries(s, t, 0).size >= 8)
      require(tsQ.inputFiles.length < 4,
        s"timestamp range must scan boundaries only: " +
          s"${tsQ.inputFiles.length}/8")
    base.crossJoin(orQ).crossJoin(neQ).crossJoin(nullQ).crossJoin(tsQ)
  }

  // GROUPED METADATA COUNTS: `GROUP BY <file-clustered key>` answers
  // per-group count(*) / count(col) from the manifest — the daily-
  // partitioned `GROUP BY day` shape; at 100 TB the per-day row
  // counts are one manifest read. Files are banded by construction;
  // point-span files fold, straddling files scan and union in
  // (gated: fewer than half the files open). The oracle replays the
  // GROUP BY by full scan in DuckDB.
  val opVtGroupMeta: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtgrp_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
    val maxRow = li.agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val w = math.max(1L, (maxId + 1) / 8)
    val banded = li.withColumn("band", expr(s"l_orderkey div $w"))
    val stats = Seq("band", "l_orderkey", "l_quantity")
    // one commit per band (the daily-partition ingest shape): every
    // file is single-valued in the grouping key, so the GROUP BY
    // folds whole. The distinct-band collect is bounded (≤ ~10 by
    // construction).
    val bands = banded.select(col("band")).distinct().collect()
      .map(r => if (r.isNullAt(0)) null
        else java.lang.Long.valueOf(r.getLong(0)))
      .sortBy(b => if (b == null) Long.MinValue else b.longValue())
    if (bands.isEmpty)
      VersionedTable.commit(banded, t, overwrite = true,
        statsCols = stats)
    else bands.zipWithIndex.foreach { case (b, i) =>
      val part = if (b == null) banded.where(col("band").isNull)
        else banded.where(col("band") === b.longValue())
      VersionedTable.commit(part.coalesce(1), t, overwrite = i == 0,
        statsCols = if (i == 0) stats else Seq.empty)
    }
    val q = s.sql(s"SELECT band, count(*) AS n, " +
      s"count(l_quantity) AS nq, min(l_orderkey) AS lo, " +
      s"max(l_orderkey) AS hi, sum(l_orderkey) AS sk, " +
      s"avg(l_orderkey) AS ak " +
      s"FROM graft.`$t` GROUP BY band")
    if (bands.length >= 2) {
      def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves()
          .forall(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      require(foldsToLocal(q),
        "single-band files must answer the GROUP BY (incl. the " +
          "per-group avg under its 2^53 proof) from metadata " +
          "with zero files opened")
    }
    q
  }

  // MULTI-KEY GROUPED METADATA FOLDS: `GROUP BY band, parity` answers
  // per-(key₁,key₂) count/sum/min/max from the manifest when files
  // are single-valued in EVERY grouping column — the
  // day × priority profiling shape; at 100 TB one manifest read
  // instead of a two-key shuffle over the table. Files are committed
  // one per band (parity = band % 2 rides along, so every file is
  // point-valued in both keys); gated: the whole GROUP BY folds to a
  // LocalRelation. The oracle replays the two-key GROUP BY in DuckDB.
  val opVtGroupMeta2: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtgrp2_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d).select(col("l_orderkey"))
    val maxRow = li.agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val w = math.max(1L, (maxId + 1) / 8)
    val banded = li.withColumn("band", expr(s"l_orderkey div $w"))
      .withColumn("parity", col("band") % 2)
    val stats = Seq("band", "parity", "l_orderkey")
    val bands = banded.select(col("band")).distinct().collect()
      .map(r => if (r.isNullAt(0)) null
        else java.lang.Long.valueOf(r.getLong(0)))
      .sortBy(b => if (b == null) Long.MinValue else b.longValue())
    if (bands.isEmpty)
      VersionedTable.commit(banded, t, overwrite = true,
        statsCols = stats)
    else bands.zipWithIndex.foreach { case (b, i) =>
      val part = if (b == null) banded.where(col("band").isNull)
        else banded.where(col("band") === b.longValue())
      VersionedTable.commit(part.coalesce(1), t, overwrite = i == 0,
        statsCols = if (i == 0) stats else Seq.empty)
    }
    val q = s.sql(s"SELECT band, parity, count(*) AS n, " +
      s"sum(l_orderkey) AS sk, min(l_orderkey) AS lo, " +
      s"max(l_orderkey) AS hi FROM graft.`$t` GROUP BY band, parity")
    if (bands.length >= 2) {
      def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collectLeaves()
          .forall(_.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      require(foldsToLocal(q),
        "two-key grouped aggregates over per-band files must answer " +
          "from metadata with zero files opened")
    }
    q
  }

  // DISTINCT FROM METADATA: `SELECT DISTINCT g…` (the grouped fold
  // with key-only outputs) and `count(DISTINCT g)` (every file
  // single-valued or all-null in g → the distinct set reads straight
  // off the manifest; a fully-masked point file's value vanishes,
  // exactly as from a scan). Gated: both shapes fold to
  // LocalRelations, including under an aligned WHERE. The oracle
  // replays all three in DuckDB by full scan.
  val opVtDistinctMeta: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdst_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d).select(col("l_orderkey"))
    val maxRow = li.agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val w = math.max(1L, (maxId + 1) / 8)
    val banded = li.withColumn("band", expr(s"l_orderkey div $w"))
      .withColumn("parity", col("band") % 2)
    val stats = Seq("band", "parity", "l_orderkey")
    val bands = banded.select(col("band")).distinct().collect()
      .map(r => if (r.isNullAt(0)) null
        else java.lang.Long.valueOf(r.getLong(0)))
      .sortBy(b => if (b == null) Long.MinValue else b.longValue())
    if (bands.isEmpty)
      VersionedTable.commit(banded, t, overwrite = true,
        statsCols = stats)
    else bands.zipWithIndex.foreach { case (b, i) =>
      val part = if (b == null) banded.where(col("band").isNull)
        else banded.where(col("band") === b.longValue())
      VersionedTable.commit(part.coalesce(1), t, overwrite = i == 0,
        statsCols = if (i == 0) stats else Seq.empty)
    }
    def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val dist = s.sql(
      s"SELECT DISTINCT band, parity FROM graft.`$t`")
    val counts = s.sql(s"SELECT count(DISTINCT band) AS nb, " +
      s"count(*) AS n FROM graft.`$t`")
    val bandedW = s.sql(s"SELECT count(DISTINCT band) AS nbw " +
      s"FROM graft.`$t` WHERE band >= 2")
    // STRADDLING-FILE HYBRID: a WHERE cutting through band 0's file
    // makes it a boundary — its values come from the scan, every
    // decided file's from metadata, one outer DISTINCT deduplicates
    // across the split. Gated: only the straddled file opens.
    val halfW = math.max(1L, w / 2)
    val straddle = s.sql(s"SELECT count(DISTINCT band) AS nbs " +
      s"FROM graft.`$t` WHERE l_orderkey >= $halfW")
    if (bands.length >= 2) {
      require(foldsToLocal(dist),
        "SELECT DISTINCT over per-band files must fold to metadata")
      require(foldsToLocal(counts),
        "count(DISTINCT) over per-band files must fold to metadata")
      require(foldsToLocal(bandedW),
        "count(DISTINCT) under an aligned WHERE must fold to metadata")
      require(straddle.inputFiles.length <= 1,
        "the straddling count(DISTINCT) must open only the boundary " +
          s"file, opened ${straddle.inputFiles.length}")
    }
    dist.crossJoin(counts).crossJoin(bandedW).crossJoin(straddle)
  }

  // APPROX-NDV FROM METADATA: the write ledger records each file's
  // HLL++ register words (the exact buffer Spark's
  // `approx_count_distinct` accumulates, hashed identically), so the
  // whole-table — and any cleanly-partitioned WHERE — estimate folds
  // to a manifest merge with ZERO files opened, bit-identical to the
  // scan (register max is an order-free idempotent join). On a 100 TB
  // corpus the daily "how many distinct users/documents" profile
  // becomes a metadata read. The entry asserts the bit-equality
  // differentially (fold vs direct file scan) and hands the oracle
  // exact-comparable outputs: DuckDB's HLL differs from Spark's, so
  // the estimate itself is checked as a deterministic tolerance
  // boolean, plus the exact count(DISTINCT) both engines share.
  val opVtApproxNdv: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtndv_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ord").getAbsolutePath
    val ord = orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val maxRow = ord.agg(max(col("o_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val w = math.max(1L, (maxId + 1) / 4)
    val banded = ord.withColumn("band", expr(s"o_orderkey div $w"))
    val stats = Seq("band", "o_custkey", "o_orderkey")
    val bands = banded.select(col("band")).distinct().collect()
      .map(_.getLong(0)).sorted
    if (bands.isEmpty)
      VersionedTable.commit(banded, t, overwrite = true,
        statsCols = stats)
    else bands.zipWithIndex.foreach { case (b, i) =>
      VersionedTable.commit(
        banded.where(col("band") === b).coalesce(1), t,
        overwrite = i == 0,
        statsCols = if (i == 0) stats else Seq.empty)
    }
    def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val full = s.sql(
      s"SELECT approx_count_distinct(o_custkey) AS a FROM graft.`$t`")
    // per-band files are single-valued in the group key: the grouped
    // estimate folds per group from the manifest registers
    val grouped = s.sql("SELECT band, " +
      "approx_count_distinct(o_custkey) AS a " +
      s"FROM graft.`$t` GROUP BY band")
    if (bands.nonEmpty) {
      require(foldsToLocal(full),
        "whole-table approx_count_distinct must fold to metadata")
      require(foldsToLocal(grouped),
        "per-band approx_count_distinct must fold to metadata")
    }
    // the DIFFERENTIAL gate: folds must be bit-identical to the
    // scan-side aggregates over the same files (not merely "close")
    val v = VersionedTable.latestVersion(s, t).get
    val entries = VersionedTable.readEntries(s, t, v)
    val scan = if (entries.isEmpty) banded.limit(0)
      else s.read.parquet(entries.map(e => s"$t/${e.name}"): _*)
    val groupedRows = grouped.collect()
    require(full.collect()(0).getLong(0) ==
      scan.agg(approx_count_distinct(col("o_custkey"))).collect()(0)
        .getLong(0),
      "whole-table metadata fold != scan estimate")
    require(groupedRows.map(_.toSeq).toSet ==
      scan.groupBy(col("band"))
        .agg(approx_count_distinct(col("o_custkey")).as("a"))
        .collect().map(_.toSeq).toSet,
      "per-band metadata folds != per-band scan estimates")
    // STRADDLING WHERE: a cut through band 0's file leaves one
    // boundary file — the SEEDED hybrid merges the all-in registers
    // into the scan aggregate's initial buffer and opens only that
    // file, still bit-identical to a full filtered scan
    val cut = w / 2
    val straddle = s.sql("SELECT approx_count_distinct(o_custkey) " +
      s"AS a FROM graft.`$t` WHERE o_orderkey >= $cut")
    val straddleVal = straddle.collect()(0).getLong(0)
    if (bands.length >= 2) {
      require(straddle.inputFiles.length <= 1,
        "the seeded hybrid must open only the straddled file, " +
          s"opened ${straddle.inputFiles.length}")
      require(straddleVal ==
        scan.where(col("o_orderkey") >= cut)
          .agg(approx_count_distinct(col("o_custkey"))).collect()(0)
          .getLong(0),
        "seeded hybrid != full filtered scan estimate")
    }
    val exactS = banded.where(col("o_orderkey") >= cut)
      .agg(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    val withinS = math.abs(straddleVal - exactS) <= 0.25 * exactS
    // oracle-comparable output: the exact per-band NDV both engines
    // share, plus the (deterministic) tolerance verdicts on the
    // estimates — rsd 0.05 → 25% is 5σ; observed error here is <2%
    val approxByBand = groupedRows
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = banded.groupBy(col("band"))
      .agg(countDistinct(col("o_custkey")).as("nd_exact"))
    import s.implicits._
    exact.collect().toSeq.map { r =>
      val (b, nd) = (r.getLong(0), r.getLong(1))
      (b, nd, math.abs(approxByBand(b) - nd) <= 0.25 * nd, exactS,
        withinS)
    }.toDF("band", "nd_exact", "within", "nds_exact", "within_s")
  }

  // TOP-K FROM METADATA: `ORDER BY key [DESC] LIMIT k` over a
  // versioned table opens ONLY files whose manifest span can reach
  // the provable top-k — on a 100 TB time-clustered table, the
  // latest-events query touches the newest file or two instead of a
  // full TakeOrdered scan. The rewrite only narrows the file set
  // (Sort + Limit still execute), so exactness is structural; gated:
  // each lane opens fewer files than the table holds. The oracle
  // replays both lanes by full scan in DuckDB (o_orderkey is unique,
  // so the limit is deterministic).
  val opVtTopkMeta: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vttopk_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ord").getAbsolutePath
    val ord = orders(s, d).select(col("o_orderkey"),
      col("o_totalprice").cast("double").as("price"))
    VersionedTable.commit(
      ord.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey"),
      t, overwrite = true, statsCols = Seq("o_orderkey"))
    val n = VersionedTable.readEntries(s, t, 0).size
    val newest = s.sql(s"SELECT o_orderkey, price FROM graft.`$t` " +
      "ORDER BY o_orderkey DESC LIMIT 100")
    val oldest = s.sql(s"SELECT o_orderkey, price FROM graft.`$t` " +
      "ORDER BY o_orderkey LIMIT 100")
    if (n >= 4) {
      require(newest.inputFiles.length < n,
        s"DESC top-k must skip files: ${newest.inputFiles.length}/$n")
      require(oldest.inputFiles.length < n,
        s"ASC top-k must skip files: ${oldest.inputFiles.length}/$n")
    }
    newest.withColumn("lane", lit("d"))
      .unionByName(oldest.withColumn("lane", lit("a")))
  }

  // JOIN-KEY DYNAMIC FILE PRUNING: the star-join shape — a selective
  // dimension filter prunes the versioned FACT table's files by the
  // build keys' span before the scan starts (file-level DPP; Spark's
  // partition-DPP cannot skip inside an unpartitioned table). The
  // rewrite only narrows the file set, so the oracle (a full-scan
  // join in DuckDB) is unchanged by pruning — gated: the fact side
  // opens fewer files than the table holds.
  val opVtDfp: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdfp_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "fact").getAbsolutePath
    val li = lineitem(s, d).select(col("l_orderkey"),
      col("l_quantity").cast("double").as("qty"))
    VersionedTable.commit(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val n = VersionedTable.readEntries(s, t, 0).size
    val maxRow = orders(s, d).agg(max(col("o_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val dim = orders(s, d)
      .where(col("o_orderkey") <= maxId / 8)
      .select(col("o_orderkey"), col("o_custkey"))
    dim.createOrReplaceTempView("graft_dfp_dim")
    val q = s.sql(s"SELECT f.l_orderkey AS k, f.qty, " +
      s"d.o_custkey AS ck FROM graft.`$t` f " +
      "JOIN graft_dfp_dim d ON f.l_orderkey = d.o_orderkey")
    if (n >= 4 && maxId > 16)
      require(q.inputFiles.length < n,
        s"the dim filter must prune fact files: " +
          s"${q.inputFiles.length}/$n")
    q
  }

  // SUM/AVG FROM METADATA: the write path harvests each file's EXACT
  // per-column Σ (integral + decimal; floats never — IEEE summation
  // is order-dependent) in one delta-sized column-pruned pass, and
  // `sum()` / `avg()` then fold from the manifest with zero data
  // files opened — the last everyday profiling aggregates that still
  // scanned. Exact-or-scan: integral sums reproduce Spark's wrap /
  // ANSI-checked semantics (ANSI under a no-partial-overflow span
  // proof), wide decimals re-apply the final fit check, small
  // decimals ride the DecimalAggregates unscaled-long rewrite, and
  // avg folds only under the 2^53 double-exactness proof. A banded
  // WHERE folds all-in files and scans only boundaries (gated).
  // The oracle recomputes every value by full scan in DuckDB.
  val opVtMetaSum: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtsum_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          col("l_extendedprice").cast("decimal(8,2)").as("price8"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true,
      statsCols = Seq("l_orderkey", "l_linenumber", "price", "price8"))
    def foldsToLocal(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // decimal sums compare as DOUBLE across engines, so the casts sit
    // in an OUTER projection — in the aggregate itself they would
    // block the fold shape (deliberately: exact-or-untouched)
    val whole = s.sql(
      s"""SELECT n, sk, sl, CAST(sp AS DOUBLE) AS sp,
         |  CAST(sp8 AS DOUBLE) AS sp8, ak,
         |  CAST(plo AS DOUBLE) AS plo, CAST(phi AS DOUBLE) AS phi
         |FROM (
         |  SELECT count(*) AS n, sum(l_orderkey) AS sk,
         |    sum(l_linenumber) AS sl, sum(price) AS sp,
         |    sum(price8) AS sp8, avg(l_orderkey) AS ak,
         |    min(price) AS plo, max(price) AS phi
         |  FROM graft.`$t`)""".stripMargin)
    require(foldsToLocal(whole),
      "whole-table sum/avg and decimal min/max must fold from the " +
        "manifest with zero files opened")
    val maxRow = lineitem(s, d).agg(max(col("l_orderkey"))).collect()(0)
    val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    val lo = (maxId + 1) / 4
    val hi = (3L * (maxId + 1)) / 4
    // the straddling band exercises the AVG HYBRID too: boundary
    // Σ/n partials union with the all-in files' exact metadata
    // halves under the 2^53 proof — same file-skipping gate
    val banded = s.sql(s"SELECT sum(l_orderkey) AS skw, " +
      s"count(*) AS nw, avg(l_orderkey) AS akw FROM graft.`$t` " +
      s"WHERE l_orderkey >= $lo AND l_orderkey < $hi")
    if (VersionedTable.readEntries(s, t, 0).size >= 8) {
      val read = banded.inputFiles.length
      require(read < 8,
        s"interior files must answer sums/avg from the manifest, " +
          s"scanned $read/8")
    }
    whole.crossJoin(banded)
  }

  // SEGMENTED (v7) MANIFESTS — commit-log metadata cost at 100 TB:
  // the inline layout rewrites the full O(live files) entry list per
  // commit (~80 MB per commit at ~800k files), so at streaming
  // cadence the manifest write IS the commit cost. The v7 layout
  // stores entries in immutable uuid-named segment files and each
  // manifest just references them: an append carries every previous
  // segment BY REFERENCE and writes one delta-sized segment (gated),
  // a delete rewrites only the segments it touches (gated: the
  // untouched half's segment survives verbatim), and expire+vacuum
  // retire segments exactly when no retained version references them
  // (gated). The whole layout must be value-invisible: the oracle is
  // the plain anti-filter over documents.
  val opVtSegmented: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtseg_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "docs").getAbsolutePath
    val prevThreshold = VersionedTable.segmentThreshold
    VersionedTable.setSegmentThreshold(2)
    try {
      val docs = documents(s, d).where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text"), col("source"))
      // zero-row fixture: nothing to segment — commit the empty table
      // and return the schema-shaped empty result (no gates to assert)
      val maxRow = docs.agg(max(col("doc_id"))).collect()(0)
      val maxId = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
      val half = (maxId + 1) / 2
      val q3 = (3L * (maxId + 1)) / 4
      def clustered(df: org.apache.spark.sql.DataFrame) =
        df.repartitionByRange(4, col("doc_id"))
          .sortWithinPartitions(col("doc_id"))
      VersionedTable.commit(clustered(docs.where(col("doc_id") < half)),
        t, overwrite = true, statsCols = Seq("doc_id"))
      val segs0 = VersionedTable.segmentNames(s, t, 0)
      // a near-empty fixture's base half can fall below the threshold
      // (inline manifest — deliberate downgrade, not a failure); gate
      // segmentation only when the commit actually crossed it
      require(VersionedTable.readEntries(s, t, 0).size < 2 ||
          segs0.nonEmpty,
        "the base commit must be segmented (v7)")
      val v1 = VersionedTable.commit(
        clustered(docs.where(col("doc_id") >= half)),
        t, overwrite = false, txnId = Some("vtseg_append"))
      if (v1 == 1 && segs0.nonEmpty) {
        val segs1 = VersionedTable.segmentNames(s, t, 1)
        require(segs0.toSet.subsetOf(segs1.toSet),
          "an append must carry every previous segment by reference")
        require((segs1.toSet -- segs0.toSet).size == 1,
          "an append writes exactly one delta-sized segment")
        val mfBytes = new java.io.File(t,
          "_graft_log/v00001.manifest").length()
        require(mfBytes < 2048,
          s"a segmented manifest is ref lines, not entries: ${mfBytes}B")
        // the delete predicate hits only the appended half's files
        // (range-clustered: the base half's spans exclude it), so the
        // base segment must carry by reference through the delete
        val v2 = VersionedTable.deleteWhere(s, t, col("doc_id") >= q3,
          txnId = Some("vtseg_del"))
        val segs2 = VersionedTable.segmentNames(s, t, v2).toSet
        require(segs0.toSet.subsetOf(segs2),
          "a delete must not rewrite segments it provably cannot touch")
        require((segs1.toSet -- segs2).nonEmpty,
          "the touched segment must be replaced")
        require(VersionedTable.deleteWhere(s, t, col("doc_id") >= q3,
          txnId = Some("vtseg_del")) == v2,
          "a replayed delete (same txnId) must no-op")
        // retention: segments die exactly with their last referencing
        // version
        VersionedTable.expire(s, t, keepLast = 1)
        VersionedTable.vacuumUnreferenced(s, t, 0L)
        val onDisk = new java.io.File(t, "_graft_log").listFiles()
          .map(_.getName).filter(_.endsWith(".segment")).toSet
        require(onDisk == segs2,
          s"after expire+vacuum only v$v2's segments remain: " +
            s"$onDisk vs $segs2")
      }
      VersionedTable.read(s, t)
        .select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("h"), col("source"))
    } finally VersionedTable.setSegmentThreshold(prevThreshold)
  }

  // DELETION-VECTOR UPDATE + MERGE (the write-amplification fix for
  // the remaining mutation verbs): both predicates/keys are
  // OFF-CLUSTER (every range-clustered file holds matches), yet
  // NEITHER commit rewrites or drops a data file (gated: the file set
  // only grows) — pre-images mask via one sidecar, post-images/upserts
  // append as new delta-sized files. The oracle replays update CASE →
  // merge CASE + tombstone anti-filter; DV mutations must be
  // value-identical to rewrites.
  val opVtDmlDv: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdmldv_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    // unique (orderkey, linenumber) keys via a deterministic MIN (the
    // fixture's lineitem is not PK-unique on the TPC-H pair)
    val li = lineitem(s, d)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(min(col("l_quantity")).as("l_quantity"))
    VersionedTable.commit(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val v1 = VersionedTable.updateWhere(s, t, col("l_orderkey") % 7 === 0,
      Map("l_quantity" -> (col("l_quantity") * 2 + 1)),
      txnId = Some("dvupd"), deletionVectors = true)
    if (v1 == 1) {
      require(VersionedTable.files(s, t, 0).toSet
        .subsetOf(VersionedTable.files(s, t, 1).toSet),
        "a DV update must keep every data file")
      require(VersionedTable.updateWhere(s, t,
        col("l_orderkey") % 7 === 0,
        Map("l_quantity" -> (col("l_quantity") * 2 + 1)),
        txnId = Some("dvupd"), deletionVectors = true) == 1,
        "replayed DV update must no-op")
      // CDC merge over the POST-update state: %22 keys tombstone,
      // other %11 keys pin quantity to -5
      val src = VersionedTable.read(s, t)
        .where(col("l_orderkey") % 11 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          lit(-5.0).as("l_quantity"),
          (col("l_orderkey") % 22 === 0).as("del"))
      val v2 = VersionedTable.mergeInto(s, t, src,
        Seq("l_orderkey", "l_linenumber"), tombstoneCol = Some("del"),
        deletionVectors = true)
      require(VersionedTable.files(s, t, 1).toSet
        .subsetOf(VersionedTable.files(s, t, v2).toSet),
        "a DV merge must keep every data file")
      // metadata COUNT stays exact over stacked masks
      require(VersionedTable.countRows(s, t) ==
        VersionedTable.read(s, t).count(),
        "countRows must subtract stacked masks exactly")
    }
    VersionedTable.read(s, t)
  }

  // OPTIMIZE ... CLUSTER BY as a versioned commit: v0 lands lineitem
  // in a hash-SCATTERED layout (every file spans the whole key range —
  // the manifest stats prove pruning is impossible), then a clustered
  // compaction rewrites it range-sorted on l_orderkey as a new
  // version. The re-harvested footer spans must now prune the same
  // range read (gated: strictly fewer files than the file count, and
  // no worse than the scattered layout), while the pre-compaction
  // version stays time-travelable. The oracle is the plain range
  // filter — clustering must be result-invisible.
  val opVtOptimizeCluster: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtoc_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(li.repartition(8), t, overwrite = true,
      statsCols = Seq("l_orderkey"))
    val e0 = VersionedTable.readEntries(s, t, 0)
    val keep0 = VersionedTable.pruneEntries(e0, "l_orderkey", 1000L, 3000L)
    // ~64 KB target keeps several output files at fixture scale so the
    // post-compaction prune gate is meaningful (not one giant file)
    val cv = VersionedTable.compact(s, t, targetFileBytes = 64L * 1024,
      clusterBy = Seq("l_orderkey"))
    val e1 = VersionedTable.readEntries(s, t, cv)
    val keep1 = VersionedTable.pruneEntries(e1, "l_orderkey", 1000L, 3000L)
    require(e1.size < 2 ||
      (keep1.size < e1.size && keep1.size <= keep0.size),
      s"clustered compaction must earn pruning: " +
        s"${keep0.size}/${e0.size} -> ${keep1.size}/${e1.size}")
    require(VersionedTable.read(s, t, Some(0)).count() ==
      VersionedTable.read(s, t, Some(cv)).count(),
      "pre-compaction version must stay whole")
    VersionedTable.prunedRead(s, t, "l_orderkey", 1000L, 3000L)
  }

  // Predicate-scoped OPTIMIZE (Delta's OPTIMIZE ... WHERE): lineitem
  // lands range-clustered, then ONLY the low-key span re-clusters —
  // selection is pure manifest set logic (no data read for
  // discovery), files outside the span carry BY REFERENCE (gated),
  // and the commit is content-invisible: the oracle is the same plain
  // range filter as the other optimize lanes.
  val opVtOptimizeWhere: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtow_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val mx = li.agg(max(col("l_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val pred = Seq(VersionedTable.ExactRange.between("l_orderkey",
        0L, mx.getLong(0) / 4))
      val pre = VersionedTable.files(s, t, 0)
      val sel = VersionedTable.pruneEntriesWhere(
        VersionedTable.readEntries(s, t, 0), pred)
      val v = VersionedTable.compactWhere(s, t, pred,
        targetFileBytes = 1L << 30,
        clusterBy = Seq("l_orderkey"))
      if (sel.size >= 2) {
        require(v == 1, s"scoped optimize must commit version 1, got $v")
        require((VersionedTable.files(s, t, 1).toSet & pre.toSet).size
          == pre.size - sel.size,
          "files outside the span must carry by reference")
      }
    }
    VersionedTable.prunedRead(s, t, "l_orderkey", 1000L, 3000L)
  }

  // Incremental consumption of a versioned table: three chronological
  // append commits, then readAppendsSince(v0) resolves the NEW rows as
  // the manifest FILE DIFF — the read costs O(delta) files, no rescan
  // of history (gated: row count equals the version-count difference).
  // A non-append commit (here a compaction) in the window must make
  // the call refuse LOUDLY — the file diff is no longer row-level
  // adds. The oracle is the post-1996 filter: the delta must be
  // exactly the appended years.
  val opVtIncrRead: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtir_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ords").getAbsolutePath
    val ords = orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"), year(col("o_orderdate")).as("__y"))
    VersionedTable.commit(ords.where(col("__y") <= 1996).drop("__y"),
      t, overwrite = true)
    VersionedTable.commit(
      ords.where(col("__y").between(1997, 1998)).drop("__y"),
      t, overwrite = false)
    VersionedTable.commit(ords.where(col("__y") > 1998).drop("__y"),
      t, overwrite = false)
    val inc = VersionedTable.readAppendsSince(s, t, fromVersion = 0)
    require(inc.count() ==
      VersionedTable.read(s, t, Some(2)).count() -
        VersionedTable.read(s, t, Some(0)).count(),
      "the file-diff delta must be exactly the appended rows")
    // materialize before the history stops being append-only below
    val out = inc.localCheckpoint()
    VersionedTable.compact(s, t, targetFileBytes = 1L << 30)
    val refused =
      try { VersionedTable.readAppendsSince(s, t, 0); false }
      catch { case _: IllegalArgumentException => true }
    require(refused,
      "readAppendsSince must refuse across non-append commits")
    out
  }

  // MERGE INTO as a versioned commit: the table is committed
  // range-clustered on o_orderkey, then a CDC batch carrying UPDATES
  // (top-quarter keys, prices doubled) and INSERTS (brand-new keys
  // beyond every file's span) merges in ONE commit — only the files
  // whose manifest span can hold a matched key are rewritten (coarse
  // source-span prune, then an exact key probe of the candidates);
  // the low-key files carry into the new version BY REFERENCE (gated
  // below). The pre-merge version stays whole; a replayed merge
  // (same txnId) no-ops. The oracle replays the upsert in SQL.
  val opVtMerge: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtm_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ords").getAbsolutePath
    val ords = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    VersionedTable.commit(
      ords.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      t, overwrite = true, statsCols = Seq("o_orderkey"))
    val mx = ords.agg(max(col("o_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val m = mx.getLong(0)
      val cut = m * 3 / 4
      val updates = ords.where(col("o_orderkey") > cut)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = ords.where(col("o_orderkey") > cut)
        .select((col("o_orderkey") + m * 10).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") + 5).as("o_totalprice"))
      val source = updates.unionByName(inserts)
      val preFiles = VersionedTable.files(s, t, 0).toSet
      val v = VersionedTable.mergeInto(s, t, source, Seq("o_orderkey"),
        txnId = Some("vtm_1"))
      require(v == 1, s"merge must commit version 1, got $v")
      require((VersionedTable.files(s, t, 1).toSet & preFiles).nonEmpty,
        "a span-pruned merge over a clustered table must carry files")
      require(VersionedTable.read(s, t, Some(0)).count() == ords.count(),
        "the pre-merge version must stay whole")
      require(VersionedTable.mergeInto(s, t, source, Seq("o_orderkey"),
        txnId = Some("vtm_1")) == v,
        "a replayed merge (same txnId) must no-op")
      require(VersionedTable.versions(s, t).map(_.mode) ==
        Seq("overwrite", "merge"))
    }
    VersionedTable.read(s, t)
  }

  // RESTORE as a versioned commit (Delta's RESTORE TABLE ... VERSION AS
  // OF): v0 lands the full docs table, v1 deletes the low-id fifth,
  // then restoreTo(0) rolls the content back as a NEW commit whose
  // manifest carries v0's files BY REFERENCE — zero data movement at
  // any table size (gated: the restore's file list IS v0's). The
  // rolled-back delete stays time-travelable; a replayed restore (same
  // txnId) no-ops; the restore commit's change feed is the exact
  // undo-diff (pure inserts of the deleted rows). The oracle is the
  // untouched source table — a rollback must be content-invisible.
  val opVtRestore: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtr_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "docs").getAbsolutePath
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    VersionedTable.commit(
      docs.repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    val mx = docs.agg(max(col("doc_id"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val cut = mx.getLong(0) / 5
      VersionedTable.deleteWhere(s, t, col("doc_id") <= cut) // v1
      val v = VersionedTable.restoreTo(s, t, 0, txnId = Some("vtr_1"))
      require(v == 2, s"restore must commit version 2, got $v")
      require(VersionedTable.files(s, t, 2).toSet ==
        VersionedTable.files(s, t, 0).toSet,
        "a restore is metadata-only: v2's manifest must carry v0's " +
          "files by reference, no data movement")
      require(VersionedTable.read(s, t, Some(1)).count() < docs.count(),
        "the rolled-back delete must stay time-travelable")
      require(VersionedTable.restoreTo(s, t, 0, txnId = Some("vtr_1")) == v,
        "a replayed restore (same txnId) must no-op")
      // the restore's change feed is the exact undo-diff of the delete
      val feed = VersionedTable.readChanges(s, t, 2)
        .groupBy("_change_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(feed.getOrElse("delete", 0L) == 0L &&
        feed.getOrElse("insert", 0L) ==
          docs.where(col("doc_id") <= cut).count(),
        s"restore feed must be pure re-inserts of the deleted rows: $feed")
      require(VersionedTable.versions(s, t).map(_.mode) ==
        Seq("overwrite", "delete", "restore"))
    }
    VersionedTable.read(s, t)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"),
        col("source"))
  }

  // Predicate-scoped atomic overwrite (Delta's replaceWhere) — the
  // idempotent-backfill primitive: v0 lands orders range-clustered on
  // o_orderkey, then ONE commit swaps the top-quarter slice for its
  // recomputed form (prices doubled). Only files whose span holds a
  // slice row are rewritten; the low-key files carry BY REFERENCE
  // (gated). The pre-backfill version stays whole; a replayed backfill
  // (same txnId) no-ops; a replacement row OUTSIDE the predicate scope
  // refuses loudly (checked: the operation must converge under its own
  // replay). The oracle replays the slice swap in SQL.
  val opVtReplaceWhere: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtrw_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ords").getAbsolutePath
    val ords = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    VersionedTable.commit(
      ords.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      t, overwrite = true, statsCols = Seq("o_orderkey"))
    val mx = ords.agg(max(col("o_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val cut = mx.getLong(0) * 3 / 4
      val pred = col("o_orderkey") > cut
      val recomputed = ords.where(pred)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val preFiles = VersionedTable.files(s, t, 0).toSet
      val v = VersionedTable.replaceWhere(s, t, pred, recomputed,
        txnId = Some("vtrw_1"))
      require(v == 1, s"replaceWhere must commit version 1, got $v")
      require((VersionedTable.files(s, t, 1).toSet & preFiles).nonEmpty,
        "files outside the replaced slice must carry by reference")
      require(VersionedTable.read(s, t, Some(0)).count() == ords.count(),
        "the pre-backfill version must stay whole")
      require(VersionedTable.replaceWhere(s, t, pred, recomputed,
        txnId = Some("vtrw_1")) == v,
        "a replayed backfill (same txnId) must no-op")
      val outOfScope =
        try {
          VersionedTable.replaceWhere(s, t, pred,
            ords.where(col("o_orderkey") <= cut).limit(1)); false
        } catch { case _: IllegalArgumentException => true }
      require(outOfScope,
        "a replacement row outside the predicate scope must refuse")
      require(VersionedTable.versions(s, t).map(_.mode) ==
        Seq("overwrite", "replace"))
    }
    VersionedTable.read(s, t)
  }

  // Deep CLONE at a time-traveled version (Delta's DEEP CLONE ...
  // VERSION AS OF): lineitem lands clustered, a delete advances the
  // source, then the PRE-delete version forks into an independent
  // table via a distributed byte-copy — the clone's v0 manifest
  // carries the source entries VERBATIM (gated: same names/rows/spans,
  // so pruning needs no re-harvest), and the source's later history is
  // invisible to it (gated). The oracle is the full source table at
  // the cloned version — a clone must be content-exact.
  val opVtClone: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtcl_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val c = new java.io.File(dir, "li_fork").getAbsolutePath
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val mx = li.agg(max(col("l_orderkey"))).collect()(0)
    if (!mx.isNullAt(0))
      VersionedTable.deleteWhere(s, t, // source moves on past the fork
        col("l_orderkey") <= mx.getLong(0) / 5)
    require(VersionedTable.cloneTo(s, t, c, asOfVersion = Some(0)) == 0)
    require(VersionedTable.readEntries(s, c, 0) ==
      VersionedTable.readEntries(s, t, 0),
      "clone entries must carry verbatim — stats without re-harvest")
    if (!mx.isNullAt(0))
      require(VersionedTable.read(s, c).count() == li.count() &&
        VersionedTable.read(s, t).count() < li.count(),
        "the clone forks the PRE-delete version; the source keeps its " +
          "own history")
    VersionedTable.read(s, c)
  }

  // Metadata-only query answers (Delta's metadata-only COUNT path):
  // COUNT(*) and MIN/MAX over the stats column fold from the
  // manifest's per-file row counts and spans — one small manifest
  // read, ZERO data files opened at any table size. A delete first
  // advances the table so the numbers prove the manifest tracks
  // rewrites, not just the original commit. The oracle recomputes all
  // three the honest way — any drift between metadata and data flips
  // the hash.
  val opVtStats: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vts_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(li.repartition(8), t, overwrite = true,
      statsCols = Seq("l_orderkey"))
    val mx = li.agg(max(col("l_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) // rewritten files must re-harvest exactly
      VersionedTable.deleteWhere(s, t,
        col("l_orderkey") > mx.getLong(0) * 4 / 5)
    val n = VersionedTable.countRows(s, t)
    val span = VersionedTable.statsSpan(s, t, "l_orderkey").getOrElse(
      throw new IllegalStateException("manifest must carry spans"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("min_key",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("max_key",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val row = org.apache.spark.sql.Row(n,
      span.map(x => java.lang.Long.valueOf(x._1.asInstanceOf[Long]))
        .orNull,
      span.map(x => java.lang.Long.valueOf(x._2.asInstanceOf[Long]))
        .orNull)
    s.createDataFrame(java.util.Arrays.asList(row), schema)
  }

  // CHECK constraints at the commit gate (Delta's ADD CONSTRAINT): the
  // even-key half lands, a price-positivity constraint is added
  // (validated against the live rows in one scan), the odd-key half
  // appends THROUGH the gate, then a violating batch (negated prices)
  // must refuse loudly BEFORE staging — no new version, no debris
  // (gated). Enforcement is one fused aggregate scan of each incoming
  // batch; a clean table is the only thing that can exist, so the
  // oracle is the plain source table.
  val opVtConstraints: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtc_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ords").getAbsolutePath
    val ords = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    VersionedTable.commit(ords.where(col("o_orderkey") % 2 === 0),
      t, overwrite = true)
    VersionedTable.setConstraint(s, t, "price_pos",
      "o_totalprice IS NOT NULL AND o_totalprice > 0")
    VersionedTable.commit(ords.where(col("o_orderkey") % 2 =!= 0),
      t, overwrite = false) // valid rows pass the gate
    if (ords.take(1).nonEmpty) {
      val bad = ords.limit(5)
        .withColumn("o_totalprice", -abs(col("o_totalprice")) - 1)
      val refused =
        try { VersionedTable.commit(bad, t, overwrite = false); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("price_pos") }
      require(refused,
        "a violating batch must refuse with the constraint named")
      require(VersionedTable.latestVersion(s, t) == Some(1),
        "a refused batch must not commit")
      require(VersionedTable.constraints(s, t).map(_._1) ==
        Seq("price_pos"))
    }
    VersionedTable.read(s, t)
  }

  // Schema evolution across versioned commits (the src_schema_evolution
  // scenario lifted onto the commit log): v0 lands the even docs as
  // (doc_id, text), v1 appends the odd docs WITH A NEW COLUMN — the
  // manifest records the merged schema, so the latest read back-fills
  // null for pre-evolution files (mergeSchema semantics planned from
  // ONE manifest, no per-file footer merging), while a time-travel
  // read at v0 keeps its own pre-evolution shape (gated). The oracle
  // rebuilds the evolved table: source only where the odd half
  // carried it.
  val opVtSchemaEvolution: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtse_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "docs").getAbsolutePath
    val docs = documents(s, d).where(col("doc_id").isNotNull)
    VersionedTable.commit(
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text")),
      t, overwrite = true)
    VersionedTable.commit(
      docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"), col("source")),
      t, overwrite = false)
    require(VersionedTable.read(s, t, Some(0)).columns.toSeq ==
      Seq("doc_id", "text"),
      "time travel to v0 must keep the pre-evolution shape")
    require(VersionedTable.schemaOf(s, t, 1).fieldNames.toSeq ==
      Seq("doc_id", "text", "source"),
      "the append manifest must record the merged schema")
    VersionedTable.read(s, t)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("h"), col("source"))
  }

  // Conjunctive manifest pruning: the table is z-order clustered on
  // (l_orderkey, l_quantity), so per-file spans are tight on BOTH
  // dimensions and a two-column conjunction opens FEWER files than
  // either single-column prune (gated) — plus an IN-list predicate on
  // l_linenumber, all decided from the manifest alone. The oracle is
  // the plain three-predicate filter: pruning must be
  // result-invisible.
  val opVtPrunedMulti: Q = (s, d) => {
    import graft.operators.VersionedTable
    import VersionedTable.{ExactIn, ExactRange}
    val dir = Sources.fixtureDir(s, "graft_vtpm_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "li").getAbsolutePath
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(li.repartition(8), t, overwrite = true,
      statsCols = Seq("l_orderkey", "l_quantity"))
    val cv = VersionedTable.compact(s, t, targetFileBytes = 48L * 1024,
      clusterBy = Seq("l_orderkey", "l_quantity"))
    val entries = VersionedTable.readEntries(s, t, cv)
    val pa = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactRange.between("l_orderkey", 1000L, 5000L)))
    val pb = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactRange.between("l_quantity", 1.0, 10.0)))
    val both = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactRange.between("l_orderkey", 1000L, 5000L),
        ExactRange.between("l_quantity", 1.0, 10.0)))
    require(both.size <= pa.size && both.size <= pb.size,
      "a conjunction can never open more files than one conjunct")
    require(entries.size < 8 ||
      (both.size < pa.size && both.size < pb.size),
      s"z-clustered 2-col conjunction must out-prune both single " +
        s"prunes: ${pa.size}/${pb.size}/${both.size} of ${entries.size}")
    VersionedTable.prunedReadWhere(s, t, Seq(
      ExactRange.between("l_orderkey", 1000L, 5000L),
      ExactRange.between("l_quantity", 1.0, 10.0),
      ExactIn("l_linenumber", Seq(1L, 3L, 5L))))
  }

  // Incremental aggregate maintenance: a (priority × month) revenue
  // rollup initialized from pre-1995 orders, then TWO delta batches
  // (1995, post-1995) folded in at rest — each apply costs
  // O(|state| + |delta|), never O(|history|), and the monoid state
  // makes the result independent of batch boundaries. The oracle is
  // the one-shot aggregate over everything: incremental maintenance
  // must be result-invisible.
  val opIncrAgg: Q = (s, d) => {
    val keys = Seq("o_orderpriority", "month")
    val withMonth = orders(s, d).withColumn("month",
      date_format(col("o_orderdate"), "yyyy-MM"))
    val dir = Sources.fixtureDir(s, "graft_incragg_")
    Sources.registerCleanup(dir)
    val path = s"${dir.getAbsolutePath}/state"
    // fixture orders span 1995-2001: cuts at 1996/1998 make all THREE
    // batches genuinely non-empty (a pre-1995 init batch was empty)
    for (b <- Seq(
        withMonth.where(year(col("o_orderdate")) <= 1996),
        withMonth.where(year(col("o_orderdate")).between(1997, 1998)),
        withMonth.where(year(col("o_orderdate")) > 1998)))
      graft.operators.IncrementalAgg.applyAtRest(
        s, path, b, keys, Seq("o_totalprice"))
    graft.operators.IncrementalAgg.withDerived(
      s.read.parquet(path), Seq("o_totalprice"))
  }

  // Row-level CHANGE FEED derived from manifest diffs — no change
  // files are ever written: a delete commit's feed is exactly its
  // removed rows (co-located survivors in the rewritten files must
  // NOT appear — the exceptAll over touched files only), a merge's is
  // the delete/insert pair per update plus the inserts. The oracle
  // replays both commits' change sets in SQL; a leaked survivor, a
  // missed removal, or a preimage-instead-of-postimage flips the hash.
  val opVtChanges: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtch_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "ords").getAbsolutePath
    val base = orders(s, d).where(year(col("o_orderdate")) <= 1998)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    VersionedTable.commit(
      base.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      t, overwrite = true, statsCols = Seq("o_orderkey"))
    val mx = base.agg(max(col("o_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val m = mx.getLong(0)
      require(VersionedTable.deleteWhere(s, t,
        col("o_orderkey") <= m / 4) == 1, "delete must commit v1")
      val updates = base.where(col("o_orderkey") > m * 3 / 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = base.where(col("o_orderkey") > m * 3 / 4)
        .select((col("o_orderkey") + m * 10).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") + 5).as("o_totalprice"))
      require(VersionedTable.mergeInto(s, t,
        updates.unionByName(inserts), Seq("o_orderkey")) == 2,
        "merge must commit v2")
    }
    VersionedTable.readChangesRange(s, t, 0)
  }

  // Materialized-view sync off the commit log (the hand-rolled
  // watermark loop collapsed to one call): the rollup initializes from
  // the table's first version, then ONE syncFromTable folds the whole
  // two-append window as the manifest file diff — O(delta), no history
  // rescan — and a replayed sync no-ops (the watermark IS the applied
  // txn record, swapped atomically with the state). The oracle is the
  // one-shot aggregate: maintenance must be result-invisible.
  val opVtSyncAgg: Q = (s, d) => {
    import graft.operators.{IncrementalAgg, VersionedTable}
    val keys = Seq("o_orderpriority", "month")
    val withMonth = orders(s, d).withColumn("month",
      date_format(col("o_orderdate"), "yyyy-MM"))
    val dir = Sources.fixtureDir(s, "graft_vtsync_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val state = s"${dir.getAbsolutePath}/state"
    VersionedTable.commit(
      withMonth.where(year(col("o_orderdate")) <= 1996),
      table, overwrite = true)
    require(IncrementalAgg.syncFromTable(s, state, table, keys,
      Seq("o_totalprice")).contains((-1, 0)), "init syncs the snapshot")
    VersionedTable.commit(
      withMonth.where(year(col("o_orderdate")).between(1997, 1998)),
      table, overwrite = false)
    VersionedTable.commit(
      withMonth.where(year(col("o_orderdate")) > 1998),
      table, overwrite = false)
    require(IncrementalAgg.syncFromTable(s, state, table, keys,
      Seq("o_totalprice")).contains((0, 2)),
      "one sync folds the whole append window")
    require(IncrementalAgg.syncFromTable(s, state, table, keys,
      Seq("o_totalprice")).isEmpty, "an up-to-date sync must no-op")
    IncrementalAgg.withDerived(s.read.parquet(state), Seq("o_totalprice"))
  }

  // Incremental VIEW maintenance through the CHANGE FEED: the rollup
  // follows the table through a delete AND a merge — windows the
  // appends-only sync must refuse — by folding each change with its
  // sign (insert +1/+value, delete −1/−value; an update nets its
  // delete/insert pair). One sync call folds the whole three-commit
  // window; the oracle is the one-shot aggregate over the FINAL table
  // rebuilt in SQL — signed maintenance must be result-invisible.
  val opVtSyncChanges: Q = (s, d) => {
    import graft.operators.{IncrementalAgg, VersionedTable}
    val keys = Seq("o_orderpriority", "month")
    val dir = Sources.fixtureDir(s, "graft_vtsc_")
    Sources.registerCleanup(dir)
    val table = s"${dir.getAbsolutePath}/table"
    val state = s"${dir.getAbsolutePath}/state"
    val ords = orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority"),
      date_format(col("o_orderdate"), "yyyy-MM").as("month"),
      col("o_totalprice"))
    VersionedTable.commit(
      ords.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")),
      table, overwrite = true, statsCols = Seq("o_orderkey"))
    require(IncrementalAgg.syncChangesFromTable(s, state, table, keys,
      Seq("o_totalprice")).contains((-1, 0)), "init syncs the snapshot")
    val mx = ords.agg(max(col("o_orderkey"))).collect()(0)
    if (!mx.isNullAt(0)) {
      val m = mx.getLong(0)
      require(VersionedTable.deleteWhere(s, table,
        col("o_orderkey") <= m / 4) == 1)
      val updates = ords.where(col("o_orderkey") > m * 3 / 4)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val inserts = ords.where(col("o_orderkey") > m * 3 / 4)
        .select((col("o_orderkey") + m * 10).as("o_orderkey"),
          col("o_orderpriority"), col("month"),
          (col("o_totalprice") + 5).as("o_totalprice"))
      require(VersionedTable.mergeInto(s, table,
        updates.unionByName(inserts), Seq("o_orderkey")) == 2)
      require(IncrementalAgg.syncChangesFromTable(s, state, table, keys,
        Seq("o_totalprice")).contains((0, 2)),
        "one signed sync folds the delete + merge window")
      require(IncrementalAgg.syncChangesFromTable(s, state, table, keys,
        Seq("o_totalprice")).isEmpty, "an up-to-date sync must no-op")
    }
    IncrementalAgg.withDerived(s.read.parquet(state), Seq("o_totalprice"))
  }

  // Incremental maintenance of a MATERIALIZED JOIN
  // (operators/IncrementalJoinView.scala): the view tracks
  // orders ⋈ customer through (1) a baseline full join, (2) ONE window
  // where BOTH sides change — reassigned orders (ΔL) and renamed
  // customers (ΔR), so the lane-1-wins conflict rule is exercised on
  // every reassigned order whose OLD customer was also renamed —
  // (3) a delete window that cascades pairs out of the view, and
  // (4) a replayed sync that must no-op. Each sync computes only
  // ΔL ⋈ R@new + L@old ⋈ ΔR with the snapshot side span-pruned through
  // the manifest — never a view rescan. The oracle is the plain
  // L ⋈ R SQL of the FINAL state: maintenance must be
  // result-invisible.
  val opVtJoinView: Q = (s, d) => {
    import graft.operators.{IncrementalJoinView, VersionedTable}
    val dir = Sources.fixtureDir(s, "graft_vtjv_")
    Sources.registerCleanup(dir)
    val l = s"${dir.getAbsolutePath}/orders"
    val r = s"${dir.getAbsolutePath}/customer"
    val v = s"${dir.getAbsolutePath}/view"
    val ords = orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = customer(s, d)
      .select(col("c_custkey"), col("c_name"))
    val mx = ords.agg(max(col("o_orderkey"))).collect()(0)
    val m = if (mx.isNullAt(0)) 0L else mx.getLong(0) // empty input: m=0
    VersionedTable.commit(
      ords.where(col("o_orderkey") <= m / 4)
        .repartitionByRange(8, col("o_custkey"))
        .sortWithinPartitions(col("o_custkey")),
      l, overwrite = true, statsCols = Seq("o_custkey"))
    VersionedTable.commit(
      cust.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions(col("c_custkey")),
      r, overwrite = true, statsCols = Seq("c_custkey"))
    val on = Seq("o_custkey" -> "c_custkey")
    val pk = (Seq("o_orderkey"), Seq("c_custkey"))
    // (1) baseline
    require(IncrementalJoinView.sync(s, v, l, r, on, pk._1, pk._2)
      .contains(((-1, 0), (-1, 0))), "init materializes the full join")
    if (m > 0) {
      // (2) both sides in ONE window: reassign + reprice the low-key
      // orders; rename the low-key customers the reassignment targets
      VersionedTable.mergeInto(s, l,
        ords.where(col("o_orderkey") <= m / 20)
          .select(col("o_orderkey"),
            (pmod(col("o_custkey"), lit(100L)) + 1L).as("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice")),
        Seq("o_orderkey"))
      VersionedTable.mergeInto(s, r,
        cust.where(col("c_custkey") <= 100L)
          .select(col("c_custkey"),
            concat(lit("renamed_"), col("c_custkey")).as("c_name")),
        Seq("c_custkey"))
      require(IncrementalJoinView.sync(s, v, l, r, on, pk._1, pk._2)
        .contains(((0, 1), (0, 1))),
        "one sync folds the both-sides window")
      // (3) delete window: drop a customer band, cascading their orders
      require(VersionedTable.deleteWhere(s, r,
        col("c_custkey").between(101L, 150L)) >= 1)
      require(IncrementalJoinView.sync(s, v, l, r, on, pk._1, pk._2)
        .contains(((1, 1), (1, 2))), "delete window syncs lane 2 only")
      // (4) replay no-op
      require(IncrementalJoinView.sync(s, v, l, r, on, pk._1, pk._2)
        .isEmpty, "an up-to-date sync must no-op")
    }
    VersionedTable.read(s, v)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("c_custkey"), col("c_name"))
  }

  // SQL-surface time travel (sources/VtCatalog.scala): the whole query
  // runs through spark.sql — `VERSION AS OF 0` against the pre-delete
  // snapshot, anti-joined with the table's LATEST state, no Scala read
  // API anywhere. The result is exactly the deleted band; the oracle
  // replays the delete predicate over the source table. Null doc_ids
  // survive the delete (SQL WHERE-delete semantics) and the null-safe
  // anti join must therefore exclude them.
  val opVtSqlTravel: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtsql_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/docs"
    VersionedTable.commit(
      documents(s, d).select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("h"), col("source")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    VersionedTable.deleteWhere(s, t, col("doc_id") % 10 === 0)
    s.sql(
      s"""SELECT v0.doc_id, v0.h, v0.source
         |FROM graft.`$t` VERSION AS OF 0 AS v0
         |LEFT ANTI JOIN graft.`$t` AS cur
         |  ON v0.doc_id <=> cur.doc_id""".stripMargin)
  }

  // Row-level UPDATE ... SET ... WHERE as a versioned commit
  // (VersionedTable.updateWhere): the everyday mutation verb — SET
  // expressions evaluate against each matching row (quantity triples,
  // +1), files that cannot hold a match carry BY REFERENCE (gated:
  // v0 ∩ v1 file sets non-empty on the clustered layout), a replayed
  // txnId no-ops. The oracle replays the update as a CASE expression
  // over the source table — any stray write to a non-matching row, or
  // a missed matching row, flips the hash.
  val opVtUpdate: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtupd_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.format("graft-vt").option("statsCols", "l_orderkey").save(t)
    val v1 = VersionedTable.updateWhere(s, t,
      col("l_orderkey").between(1000L, 3000L),
      Map("l_quantity" -> (col("l_quantity") * 3 + 1)),
      txnId = Some("upd_band"))
    if (v1 == 1) { // a no-match update (empty fixture) commits nothing
      require(VersionedTable.files(s, t, 1).toSet
        .intersect(VersionedTable.files(s, t, 0).toSet).nonEmpty,
        "files outside the band must carry by reference")
      require(VersionedTable.updateWhere(s, t,
        col("l_orderkey").between(1000L, 3000L),
        Map("l_quantity" -> (col("l_quantity") * 3 + 1)),
        txnId = Some("upd_band")) == 1, "replayed update must no-op")
    } else require(v1 == 0, s"unexpected update version: $v1")
    VersionedTable.read(s, t)
  }

  // COLUMN MAPPING (rename without rewrite): half of lineitem commits
  // under the original name, the column renames mid-history as a
  // METADATA-ONLY commit (file list identical — gated), the other half
  // appends under the NEW name (staged physically under the OLD name —
  // gated via the raw parquet footer), and both pruning AND time
  // travel keep working (v0 reads with its own names). The oracle is
  // the whole table under the renamed projection: mapping must be
  // value-invisible.
  val opVtRename: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtrn_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(
      li.where(col("l_linenumber") <= 4)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey", "l_quantity"))
    val rv = VersionedTable.renameColumn(s, t, "l_quantity", "qty")
    require(rv == 1 &&
      VersionedTable.files(s, t, 1) == VersionedTable.files(s, t, 0),
      "rename must be metadata-only: identical file list")
    require(VersionedTable.read(s, t, Some(0)).columns
      .contains("l_quantity"),
      "time travel must return the version's own names")
    // append under the NEW logical name; files stage PHYSICAL
    VersionedTable.commit(
      li.where(col("l_linenumber") >= 5)
        .withColumnRenamed("l_quantity", "qty")
        .repartitionByRange(4, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = false)
    val newFiles = VersionedTable.files(s, t, 2).toSet --
      VersionedTable.files(s, t, 1).toSet
    require(newFiles.isEmpty || s.read.parquet(
        newFiles.map(n => s"$t/$n").toSeq: _*)
      .columns.contains("l_quantity"),
      "appended files must carry the physical column name")
    // manifest spans re-keyed: pruning on the NEW name still cuts
    val e2 = VersionedTable.readEntries(s, t, 2)
    require(e2.size < 2 || VersionedTable.pruneEntries(
        e2, "l_orderkey", 1000L, 3000L).size < e2.size,
      "pruning must keep cutting after the rename")
    VersionedTable.read(s, t)
  }

  // Torn-update regression (r13 fix, now oracled): a MULTI-SET swap
  // whose predicate references a SET column. Every SET expression AND
  // the predicate must evaluate against the row's PRE-image in ONE
  // projection — a chained evaluation would compute l_extendedprice
  // from l_quantity's post-image (torn swap) and/or re-select rows on
  // half-updated values. The oracle replays the swap as CASE
  // expressions over the pre-image, which is exactly SQL UPDATE
  // semantics; +1 on doubles is bit-exact in both engines.
  val opVtUpdateMultiset: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtupm_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val pred = col("l_quantity") < 10.0 &&
      col("l_orderkey").between(1000L, 3000L)
    val v1 = VersionedTable.updateWhere(s, t, pred, Map(
      "l_quantity" -> (col("l_extendedprice") + 1.0),
      "l_extendedprice" -> (col("l_quantity") + 1.0)),
      txnId = Some("upd_swap"))
    if (v1 == 1) {
      require(VersionedTable.files(s, t, 1).toSet
        .intersect(VersionedTable.files(s, t, 0).toSet).nonEmpty,
        "files outside the band must carry by reference")
      require(VersionedTable.updateWhere(s, t, pred, Map(
        "l_quantity" -> (col("l_extendedprice") + 1.0),
        "l_extendedprice" -> (col("l_quantity") + 1.0)),
        txnId = Some("upd_swap")) == 1,
        "replayed multi-SET update must no-op")
    } else require(v1 == 0, s"unexpected update version: $v1")
    VersionedTable.read(s, t)
  }

  // SQL INSERT surface (sources/VtCatalog.scala VtSqlTable): after the
  // setup commit, BOTH the insert and the final read run through
  // spark.sql only — INSERT INTO ... SELECT self-joins the catalog
  // table, and the insert lands as ONE transactional append commit
  // (gated in-entry: exactly versions [overwrite, append]). The oracle
  // replays the union — a double-applied or torn insert flips rows.
  val opVtSqlInsert: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtins_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/docs"
    VersionedTable.commit(
      documents(s, d).where(col("doc_id").isNotNull)
        .select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("h"), col("source")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    s.sql(s"INSERT INTO graft.`$t` " +
      s"SELECT doc_id + 1000000, h, source FROM graft.`$t` " +
      "WHERE doc_id % 5 = 0")
    require(VersionedTable.versions(s, t).map(_.mode) ==
      Seq("overwrite", "append"),
      "the INSERT must land as exactly one append commit")
    s.sql(s"SELECT doc_id, h, source FROM graft.`$t`")
  }

  // SQL DELETE surface: `DELETE FROM graft.t WHERE ...` resolves
  // through SupportsDelete onto VersionedTable.deleteWhere — ONE
  // delta-sized delete commit (mode gated in-entry, untouched files
  // carried by reference on the clustered layout), then the read runs
  // through spark.sql too. The oracle is the anti-filter.
  val opVtSqlDelete: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdel_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    VersionedTable.commit(
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    s.sql(s"DELETE FROM graft.`$t` WHERE l_orderkey BETWEEN 1000 AND 3000")
    val modes = VersionedTable.versions(s, t).map(_.mode)
    require(modes == Seq("overwrite", "delete") ||
      modes == Seq("overwrite"), // empty fixture: nothing matched
      s"SQL DELETE must be one delta delete commit: $modes")
    if (modes.size == 2)
      require(VersionedTable.files(s, t, 1).toSet
        .intersect(VersionedTable.files(s, t, 0).toSet).nonEmpty,
        "untouched files must carry by reference")
    s.sql(s"SELECT l_orderkey, l_linenumber, l_quantity FROM graft.`$t`")
  }

  // SQL UPDATE surface (plans/VtDml.scala): the multi-SET swap runs as
  // SQL TEXT through the catalog — the strategy lowers the resolved
  // UpdateTable onto VersionedTable.updateWhere, so SQL users get the
  // same pre-image semantics, CHECK gates, and touched-files-only
  // rewrite (both gated in-entry). Same oracle as the Scala-API twin
  // op_vt_update_multiset: the two surfaces must be value-identical.
  val opVtSqlUpdate: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtsqlu_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    VersionedTable.commit(
      lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    s.sql(s"UPDATE graft.`$t` SET " +
      "l_quantity = l_extendedprice + 1, " +
      "l_extendedprice = l_quantity + 1 " +
      "WHERE l_quantity < 10 AND l_orderkey BETWEEN 1000 AND 3000")
    val modes = VersionedTable.versions(s, t).map(_.mode)
    require(modes == Seq("overwrite", "update") ||
      modes == Seq("overwrite"), // empty fixture: nothing matched
      s"SQL UPDATE must be one delta update commit: $modes")
    if (modes.size == 2)
      require(VersionedTable.files(s, t, 1).toSet
        .intersect(VersionedTable.files(s, t, 0).toSet).nonEmpty,
        "files outside the band must carry by reference")
    s.sql(s"SELECT l_orderkey, l_linenumber, l_quantity, " +
      s"l_extendedprice FROM graft.`$t`")
  }

  // SQL MERGE INTO surface (plans/VtDml.scala): ONE SQL statement
  // carries all three CDC verbs — WHEN MATCHED AND s.del THEN DELETE,
  // WHEN MATCHED THEN UPDATE SET *, WHEN NOT MATCHED AND NOT s.del
  // THEN INSERT * — lowered onto VersionedTable.mergeInto's tombstone
  // contract (delta-sized discovery, one commit, gated in-entry). The
  // oracle replays the delete/update/insert split directly.
  val opVtSqlMerge: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtsqlm_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/docs"
    val docs = documents(s, d).where(col("doc_id").isNotNull)
    VersionedTable.commit(
      docs.select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("h"), col("source"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    // CDC feed over the LOW doc_id band (a clustered CDC batch — the
    // shape where delta-sized discovery carries files): even band keys
    // tombstone, odd band keys re-hash; %11 keys insert under shifted
    // ids (never matching — ids are band-shifted past the max)
    val mx = docs.agg(max(col("doc_id"))).collect()(0)
    val cut = if (mx.isNullAt(0)) 0L else mx.getLong(0) / 5
    docs.where(col("doc_id") <= cut)
      .select(col("doc_id"),
        md5(concat(coalesce(col("text"), lit("")), lit("u"))).as("h"),
        col("source"), (col("doc_id") % 2 === 0).as("del"))
      .unionByName(docs.where(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("h"), col("source"),
          lit(false).as("del")))
      .createOrReplaceTempView("graft_sqlmerge_src")
    s.sql(s"MERGE INTO graft.`$t` AS t USING graft_sqlmerge_src AS s " +
      "ON t.doc_id = s.doc_id " +
      "WHEN MATCHED AND s.del THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED AND NOT s.del THEN INSERT *")
    val modes = VersionedTable.versions(s, t).map(_.mode)
    require(modes == Seq("overwrite", "merge") ||
      modes == Seq("overwrite"), // empty fixture
      s"SQL MERGE must be one delta merge commit: $modes")
    if (modes.size == 2)
      require(VersionedTable.files(s, t, 1).toSet
        .intersect(VersionedTable.files(s, t, 0).toSet).nonEmpty,
        "files outside the touched key range must carry by reference")
    s.sql(s"SELECT doc_id, h, source FROM graft.`$t`")
  }

  // SQL SELECT over a DV'd + RENAMED table (plans/VtMaskedScan.scala):
  // the optimizer rewrite swaps the catalog relation for the masking/
  // aliasing read plan, so plain SQL answers exactly with NO
  // compaction — gated in-entry that the version really carries a
  // vector and a mapping, and that zero data files were written. The
  // oracle is the anti-filter under the new column name.
  val opVtSqlDvSelect: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdvsel_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/docs"
    VersionedTable.commit(
      documents(s, d).select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("h"), col("source"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    val v1 = VersionedTable.deleteWhere(s, t, col("doc_id") % 3 === 0,
      deletionVectors = true)
    VersionedTable.renameColumn(s, t, "h", "digest")
    if (v1 == 1) {
      val vN = VersionedTable.latestVersion(s, t).get
      require(VersionedTable.readEntries(s, t, vN).exists(_.dv.nonEmpty),
        "the served version must actually carry a deletion vector")
      require(VersionedTable.files(s, t, vN).toSet
        .subsetOf(VersionedTable.files(s, t, 0).toSet),
        "no data file may be written for the masked SQL read")
    }
    s.sql(s"SELECT doc_id, digest, source FROM graft.`$t`")
  }

  // SQL DDL end-to-end (sources/VtCatalog.scala createTable/alterTable
  // onto the metadata-only verbs): CTAS seeds the even half, ALTER ADD
  // extends the schema with zero data movement (old files back-fill
  // null), the odd half arrives with the new column populated, ALTER
  // RENAME maps source→origin without rewriting — gated in-entry that
  // neither DDL wrote a data file and that each version time-travels
  // with its own column names. Oracle: the union replay under the
  // final names.
  val opVtSqlDdl: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtddl_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/docs"
    documents(s, d).createOrReplaceTempView("vtddl_src")
    s.sql(s"CREATE TABLE graft.`$t` " +
      "TBLPROPERTIES ('stats_cols' = 'doc_id') AS " +
      "SELECT doc_id, source, n_chars FROM vtddl_src WHERE doc_id % 2 = 0")
    val v1 = VersionedTable.latestVersion(s, t).get
    val f1 = VersionedTable.files(s, t, v1).toSet
    s.sql(s"ALTER TABLE graft.`$t` ADD COLUMN flag BIGINT")
    val v2 = VersionedTable.latestVersion(s, t).get
    require(VersionedTable.files(s, t, v2).toSet == f1,
      "ADD COLUMN must write zero data files")
    s.sql(s"INSERT INTO graft.`$t` " +
      "SELECT doc_id, source, n_chars, doc_id % 7 " +
      "FROM vtddl_src WHERE doc_id % 2 = 1")
    val v3 = VersionedTable.latestVersion(s, t).get
    val f3 = VersionedTable.files(s, t, v3).toSet
    s.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN source TO origin")
    val v4 = VersionedTable.latestVersion(s, t).get
    require(VersionedTable.files(s, t, v4).toSet == f3,
      "RENAME COLUMN must write zero data files")
    require(s.sql(s"SELECT * FROM graft.`$t` VERSION AS OF $v1")
      .columns.toSeq == Seq("doc_id", "source", "n_chars"),
      "the pre-DDL version must time-travel with its own shape")
    require(s.sql(s"SELECT * FROM graft.`$t` VERSION AS OF $v4")
      .columns.toSeq == Seq("doc_id", "origin", "n_chars", "flag"),
      "the post-DDL version must carry the evolved shape")
    // the standard audit forms: SHOW TBLPROPERTIES is the stock V2
    // surface; DESCRIBE HISTORY and the maintenance statements ride
    // the parser GraftExtensions injects
    val tprops = s.sql(s"SHOW TBLPROPERTIES graft.`$t`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    require(tprops.get("format").contains("graft-vt") &&
      tprops.get("version").contains(v4.toString), s"props: $tprops")
    val hist = s.sql(s"DESCRIBE HISTORY graft.`$t`")
      .select("version").collect().map(_.getInt(0)).toSeq
    require(hist == (v4 to 0 by -1),
      s"DESCRIBE HISTORY must list every commit newest-first: $hist")
    require(s.sql(s"DESCRIBE DETAIL graft.`$t`").count() == 1,
      "DESCRIBE DETAIL answers one metadata row")
    // maintenance statements lower onto the procedures; OPTIMIZE is
    // content-invisible (the oracle hash proves it)
    require(s.sql(s"OPTIMIZE graft.`$t`").count() == 1,
      "OPTIMIZE must report its bin-pack commit")
    require(s.sql(s"VACUUM graft.`$t` RETAIN 168 HOURS")
      .columns.sameElements(Array("removed")), "VACUUM reports sweeps")
    s.sql(s"SELECT doc_id, origin, n_chars, flag FROM graft.`$t`")
  }

  // RECLUSTER POLICY (the measure→decide→repair maintenance loop):
  // lineitem commits range-clustered, then three WHOLE-RANGE appends
  // (the shape steady CDC traffic produces) rot the layout — the
  // manifest-only decay metric must see it (gated: decay rises by >2
  // expected files), maintainClustering must repair it in one
  // rollback-able optimize commit (gated: decay back to ~1, healthy
  // layout no-ops), and the whole loop must be value-invisible: the
  // oracle is the plain union replay.
  val opVtRecluster: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtrc_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(
      li.where(col("l_linenumber") <= 4)
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val d0 = VersionedTable.clusteringDecay(s, t, "l_orderkey")
    require(VersionedTable.maintainClustering(s, t, "l_orderkey").isEmpty,
      "a freshly clustered layout must not trigger a rewrite")
    for (b <- 5 to 7)
      VersionedTable.commit(
        li.where(col("l_linenumber") === b).coalesce(1),
        t, overwrite = false)
    val d1 = VersionedTable.clusteringDecay(s, t, "l_orderkey")
    require(d0.isEmpty || d1.isEmpty || d1.get > d0.get + 2.0,
      s"whole-range appends must register as decay: $d0 -> $d1")
    val rv = VersionedTable.maintainClustering(s, t, "l_orderkey",
      targetFileBytes = 64L * 1024)
    if (d1.exists(_ > 2.0)) {
      require(rv.nonEmpty, s"decay $d1 must trigger the repair")
      val d2 = VersionedTable.clusteringDecay(s, t, "l_orderkey")
      require(d2.exists(_ < 2.0),
        s"the repair must restore near-1 point cost: $d1 -> $d2")
      require(VersionedTable.maintainClustering(s, t, "l_orderkey").isEmpty,
        "maintenance must no-op until decay returns")
    }
    VersionedTable.read(s, t)
  }

  // LIVE INDEX RE-DECLARATION (VersionedTable.setStatsCols via ALTER
  // TABLE SET TBLPROPERTIES): mid-life the table re-declares its
  // span/bloom index to include l_quantity with zero data movement —
  // gated that no data file is written, the new column's metadata
  // span stays undecidable (conservative, never wrong) until OPTIMIZE
  // rewrites, then answers exactly. Value-invisible: the plain-table
  // oracle.
  val opVtStatsRedeclare: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtsr_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    VersionedTable.commit(
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val f0 = VersionedTable.files(s, t, 0).toSet
    s.sql(s"ALTER TABLE graft.`$t` SET TBLPROPERTIES " +
      "('stats_cols' = 'l_orderkey,l_quantity')")
    val v1 = VersionedTable.latestVersion(s, t).get
    require(VersionedTable.files(s, t, v1).toSet == f0,
      "re-declaring the index must write zero data files")
    // zero-row input: spans are provably NULL (Some(None)) rather
    // than undecidable — the conservative-until-rewrite gate assumes
    // row-bearing files
    val vtEmpty = VersionedTable.countRows(s, t) == 0L
    require(vtEmpty ||
      VersionedTable.statsSpan(s, t, "l_quantity").isEmpty,
      "files predating the declaration must stay conservative")
    s.sql(s"CALL graft.optimize(table => '$t', full => true)")
    require(vtEmpty ||
      VersionedTable.statsSpan(s, t, "l_quantity").exists(_.nonEmpty),
      "after the rewrite the new index answers exact metadata spans")
    require(
      VersionedTable.countRows(s, t) == VersionedTable.countRows(s, t, Some(0)),
      "the whole walk is content-invisible")
    VersionedTable.read(s, t)
  }

  // COMBINED TIME-TRAVEL WALK: one history interleaving every
  // metadata feature — DV delete → column rename → restore → compact —
  // read back version BY VERSION through `TIMESTAMP AS OF` on the SQL
  // catalog (the masked rewrite serving DV'd and mapped snapshots).
  // Gated per version: v0 whole under the original names, v1 masked,
  // v2 masked under the renamed column (value-identical to v1), v3
  // (the restore) back to v1's names and rows, v4 (compact) vector-
  // free and value-identical. The oracle is the anti-filter replay of
  // the one real delete.
  val opVtHistoryWalk: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vthw_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/docs"
    def pause(): Unit = Thread.sleep(10) // distinct commit wall-clocks
    VersionedTable.commit(
      documents(s, d).select(col("doc_id"),
          md5(coalesce(col("text"), lit(""))).as("h"), col("source"))
        .repartitionByRange(8, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      t, overwrite = true, statsCols = Seq("doc_id"))
    if (VersionedTable.countRows(s, t) == 0L)
      // empty input: nothing to delete/restore — the walk's gates
      // assume data; return the schema-shaped empty result
      s.sql(s"SELECT doc_id, h, source FROM graft.`$t`")
    else {
    pause()
    VersionedTable.deleteWhere(s, t, col("doc_id") % 3 === 0,
      deletionVectors = true)
    pause()
    VersionedTable.renameColumn(s, t, "h", "digest")
    pause()
    VersionedTable.restoreTo(s, t, 1)
    pause()
    VersionedTable.compact(s, t)
    val hist = VersionedTable.versions(s, t)
    require(hist.map(_.version) == Seq(0, 1, 2, 3, 4),
      s"the walk expects exactly five versions: $hist")
    require(hist.map(_.timestampMs) == hist.map(_.timestampMs).sorted &&
      hist.map(_.timestampMs).distinct.size == 5,
      "commit wall-clocks must be strictly increasing for the walk")
    // render the literal in the SESSION zone (Spark parses timestamp
    // literals there, NOT in the JVM default zone — a
    // java.sql.Timestamp.toString would mis-resolve on non-UTC hosts)
    val zone = java.time.ZoneId.of(s.conf.get(
      "spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
    def atTs(v: Int) = {
      val ms = hist.find(_.version == v).get.timestampMs
      val lit = java.time.Instant.ofEpochMilli(ms).atZone(zone)
        .toLocalDateTime.format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
      s.sql(s"SELECT * FROM graft.`$t` TIMESTAMP AS OF '$lit'")
    }
    val total = atTs(0).count()
    require(atTs(0).columns.toSeq == Seq("doc_id", "h", "source"),
      "v0 travels under the original names")
    val masked = atTs(1).count()
    require(masked < total,
      s"v1 must mask the DV-deleted band: $masked vs $total")
    require(atTs(2).columns.toSeq == Seq("doc_id", "digest", "source"),
      "v2 travels under the renamed column")
    require(atTs(2).select(col("doc_id"), col("digest").as("h"),
        col("source"))
      .exceptAll(atTs(1)).isEmpty,
      "the rename must be value-invisible under time travel")
    require(atTs(3).columns.toSeq == Seq("doc_id", "h", "source") &&
      atTs(3).count() == masked,
      "the restore travels with v1's names and rows")
    require(VersionedTable.readEntries(s, t, 4).forall(_.dv.isEmpty),
      "the compact must materialize every vector")
    require(atTs(4).count() == masked,
      "the compact is value-invisible")
    s.sql(s"SELECT doc_id, h, source FROM graft.`$t`")
    }
  }

  // DV-DECAY POLICY (the masked-fraction bound,
  // VersionedTable.materializeDvAbove + CALL graft.materialize_dv):
  // lineitem lands range-clustered on l_orderkey, then two stacked DV
  // deletes mask ~4/7 of the LOW key band — the manifest-only policy
  // must rewrite exactly the decayed files (gated: every healthy file
  // carries by reference, no file stays past the bound, a second call
  // no-ops) and the loop is value-invisible: the oracle is the
  // anti-filter replay.
  val opVtDvDecay: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtdvd_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    VersionedTable.commit(
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"),
      t, overwrite = true, statsCols = Seq("l_orderkey"))
    val mxRow = li.agg(max("l_orderkey")).head
    if (mxRow.isNullAt(0)) VersionedTable.read(s, t) // empty input
    else {
    val cut = mxRow.getLong(0) / 4
    VersionedTable.deleteWhere(s, t,
      col("l_orderkey") <= cut && col("l_linenumber") % 2 === 0,
      deletionVectors = true)
    VersionedTable.deleteWhere(s, t,
      col("l_orderkey") <= cut && col("l_linenumber") % 3 === 0,
      deletionVectors = true)
    def over(e: VersionedTable.FileEntry): Boolean =
      e.dv.exists(dd => e.nRows > 0 && dd._2.toDouble / e.nRows > 0.3)
    val v2 = VersionedTable.latestVersion(s, t).get
    val entries2 = VersionedTable.readEntries(s, t, v2)
    require(entries2.exists(over),
      "the stacked deletes must decay at least one file past the bound")
    val healthy = entries2.filterNot(over).map(_.name).toSet
    require(healthy.nonEmpty, "the high band must stay healthy")
    val row = s.sql(
      s"CALL graft.materialize_dv(table => '$t')").collect()(0)
    require(row.getInt(0) > 0 && row.getBoolean(1),
      s"the policy must trigger on the decayed band: $row")
    val after = VersionedTable.readEntries(s, t, row.getInt(2))
    require(healthy.subsetOf(after.map(_.name).toSet),
      "healthy files must carry by reference through the repair")
    require(!after.exists(over),
      "no file may stay past the bound after the repair")
    require(VersionedTable.materializeDvAbove(s, t).isEmpty,
      "the policy must no-op until decay returns")
    VersionedTable.read(s, t)
    }
  }

  // SQL maintenance verbs (sources/VtProcedures.scala, Spark 4 stored
  // procedures): five small per-batch commits, then `CALL
  // graft.optimize` bin-packs them (gated: fewer files, prior version
  // still time-travels), `CALL graft.history` lists the audit rows
  // (gated: one per commit, newest first), and the final read runs
  // through SQL. The oracle is the plain projection — maintenance
  // must be value-invisible.
  val opVtSqlOptimize: Q = (s, d) => {
    import graft.operators.VersionedTable
    val dir = Sources.fixtureDir(s, "graft_vtsqlo_")
    Sources.registerCleanup(dir)
    val t = s"${dir.getAbsolutePath}/li"
    val li = lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    for (b <- 1 to 5)
      VersionedTable.commit(li.where(col("l_linenumber") === b),
        t, overwrite = b == 1, statsCols = Seq("l_orderkey"))
    VersionedTable.commit(li.where(col("l_linenumber") > 5),
      t, overwrite = false)
    val hist = s.sql(s"CALL graft.history(table => '$t')").collect()
    require(hist.length == 6 && hist.head.getInt(0) == 5,
      s"history must list every commit newest-first: ${hist.length}")
    val before = VersionedTable.files(s, t, 5).size
    val opt = s.sql(s"CALL graft.optimize(table => '$t')").collect()
    require(opt.head.getInt(0) == 6,
      "optimize must commit the next version")
    require(before < 2 || opt.head.getInt(1) < before,
      s"bin-packing must reduce files: $before -> ${opt.head.getInt(1)}")
    require(VersionedTable.read(s, t, Some(5)).count() ==
      VersionedTable.read(s, t).count(),
      "the pre-optimize version must stay time-travelable")
    s.sql(s"SELECT l_orderkey, l_linenumber, l_quantity FROM graft.`$t`")
  }

  // MULTI-TABLE TRANSACTION (operators/MultiTableTxn.scala): the
  // classic two-table atomic move — the doc_id < 100 band MOVES from
  // table A to table B in ONE commit, staged through the DELTA-SIZED
  // verbs (TableDelete rewrites only the files that can hold the band
  // on the doc_id-clustered layout — carried-by-reference gated
  // in-entry — plus one append; a single decision-file promote flips
  // both), after an ABORTED txn (staged on both tables, decision =
  // abort) proves the all-or-nothing contract. The result is both
  // tables' rows tagged by origin; the oracle replays the band split —
  // any torn state (half-applied txn, leaked abort) flips the hash.
  val opVtMultiTxn: Q = (s, d) => {
    import graft.operators.{MultiTableTxn, VersionedTable}
    import graft.operators.MultiTableTxn.{TableDelete, TableWrite}
    val dir = Sources.fixtureDir(s, "graft_mtxn_")
    Sources.registerCleanup(dir)
    val (a, b, dec) = (s"${dir.getAbsolutePath}/a",
      s"${dir.getAbsolutePath}/b", s"${dir.getAbsolutePath}/txns")
    val docs = documents(s, d).where(col("doc_id").isNotNull)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
    VersionedTable.commit(
      docs.repartitionByRange(4, col("doc_id"))
        .sortWithinPartitions(col("doc_id")),
      a, overwrite = true, statsCols = Seq("doc_id"))
    VersionedTable.commit(docs.limit(0), b, overwrite = true)
    // an ABORTED txn first: stage a bogus move of EVERYTHING, decide
    // abort — both tables must remain exactly as committed above
    new java.io.File(dec).mkdirs()
    val bogusUri = MultiTableTxn.decisionUri(dec, "bogus")
    VersionedTable.deleteWhere(s, a, lit(true),
      txnId = Some("mtxn_bogus_0"), pendingTxn = Some(bogusUri))
    VersionedTable.commitImpl(docs, b, overwrite = true,
      txnId = Some("mtxn_bogus_1"), statsCols = Seq.empty,
      maxRetries = 5, onBeforeManifestCommit = () => (),
      pendingTxn = Some(bogusUri))
    require(MultiTableTxn.abort(s, dec, "bogus"))
    require(VersionedTable.read(s, b).isEmpty,
      "aborted txn must leave B empty")
    // the REAL move, atomically across both tables, delta-sized on A
    val ops = Seq(
      TableDelete(a, col("doc_id") < 100L),
      TableWrite(docs.where(col("doc_id") < 100L), b,
        overwrite = false, statsCols = Seq("doc_id")))
    val vs = MultiTableTxn.commit(s, ops, dec, "move_band")
    if (vs.head == 1) { // the delete staged (empty fixture: no-op)
      require(VersionedTable.files(s, a, vs.head).toSet
        .intersect(VersionedTable.files(s, a, 0).toSet).nonEmpty,
        "the txn delete must carry A's untouched files by reference")
      // replay (crash-after-decision recovery) must be a no-op
      require(MultiTableTxn.commit(s, ops, dec, "move_band") == vs,
        "re-driven txn must resolve, not re-commit")
    }
    VersionedTable.read(s, a).withColumn("tbl", lit("a"))
      .unionByName(VersionedTable.read(s, b).withColumn("tbl", lit("b")))
      .select(col("tbl"), col("doc_id"), col("h"))
  }

  // Triangle counting over the part co-purchase graph via
  // degree-ordered orientation (operators/Triangles.scala — wedges
  // only from the low-degree corner, O(|E|^1.5) candidates, no hub
  // reducer). The oracle is the textbook a<b<c three-way self-join:
  // orientation must be count-invisible. The entry scopes the graph
  // to ONE order-year: every order is a part-clique, so wedge volume
  // grows superlinearly with the scan and the full-corpus graph is a
  // probe workload (ScaleProbe `triangles`: 10× sf0.1 in SCALE.md),
  // not a per-round bench entry.
  val opTriangles: Q = (s, d) => {
    val ords95 = orders(s, d).where(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey").as("ok"))
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .join(ords95, Seq("ok"), "left_semi")
      .distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    graft.operators.Triangles.count(e)
  }

  // Crash-debris vacuum (operators/Vacuum.scala): the table dir is
  // salted with every debris species the engine's swap ops can leave —
  // an aged temp snapshot dir, an aged sink part temp, a stale backup
  // WITH its live sibling — plus a FRESH temp and an orphaned backup
  // that must both survive. The oracle is the source table: vacuum
  // must be invisible to live data, whatever it deletes. The
  // kept/deleted manifest itself is spec'd in VacuumSpec.
  val opVacuum: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_vac_")
    Sources.registerCleanup(dir)
    val table = new java.io.File(dir, "docs")
    documents(s, d).coalesce(2)
      .write.mode("overwrite").parquet(table.getAbsolutePath)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    def mk(f: java.io.File, aged: Boolean): Unit = {
      java.nio.file.Files.write(f.toPath, "junk".getBytes)
      if (aged) require(f.setLastModified(old))
    }
    val tmpDir = new java.io.File(dir, ".docs__snap_tmp")
    tmpDir.mkdirs()
    mk(new java.io.File(tmpDir, "part-0.parquet"), aged = false)
    require(tmpDir.setLastModified(old))
    mk(new java.io.File(dir, ".part-00003-77.avro.tmp"), aged = true)
    mk(new java.io.File(dir, ".shard-00001-42.tar.tmp"), aged = false) // fresh: keep
    val bak = new java.io.File(dir, ".docs__snap_old") // live sibling exists
    bak.mkdirs(); mk(new java.io.File(bak, "part-0.parquet"), aged = false)
    require(bak.setLastModified(old))
    val orphan = new java.io.File(dir, ".lost__agg_old") // no sibling: keep
    orphan.mkdirs(); require(orphan.setLastModified(old))
    graft.operators.Vacuum(s, dir.getAbsolutePath, ttlMs = 3600 * 1000L)
    s.read.parquet(table.getAbsolutePath)
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"))
  }

  // HLL sketch COLUMNS at rest (Spark 4's DataSketches builtins): the
  // pre-aggregated-sketch-table pattern — per-group sketches built
  // once and stored as binary, re-estimated and UNIONED across groups
  // without re-reading the fact table (sketch union is the only
  // distinct-count that composes after aggregation). Exact lanes pin
  // the group cardinalities; the sketches' estimates are pinned via
  // the accuracy-contract booleans (the op_profile_approx discipline —
  // DuckDB can't replay the sketch bytes, an out-of-band estimate
  // flips the hash).
  val opSketchUnion: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_sketch_")
    Sources.registerCleanup(dir)
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"),
        count_distinct(col("l_orderkey")).as("nd"))
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    val skt = s.read.parquet(dir.getAbsolutePath)
    val exactGlobal = lineitem(s, d)
      .agg(count_distinct(col("l_orderkey")).as("g"))
    val globalOk = skt
      .agg(hll_union_agg(col("sk")).as("u")).crossJoin(broadcast(exactGlobal))
      .select((abs(hll_sketch_estimate(col("u")).cast("double")
        / col("g") - 1.0) <= 0.05).as("global_ok"))
    skt.crossJoin(broadcast(globalOk))
      .select(col("l_returnflag"), col("nd"),
        (abs(hll_sketch_estimate(col("sk")).cast("double")
          / col("nd") - 1.0) <= 0.05).as("grp_ok"),
        col("global_ok"))
  }

  // Versioned table + time travel (operators/VersionedTable.scala):
  // three commits — overwrite, append, destructive overwrite — then a
  // TIME-TRAVEL read of the middle version, which must equal the full
  // corpus even though the LATEST version has dropped half of it. The
  // entry also exercises the crash story end to end: data files
  // published without a manifest (a simulated pre-commit crash) are
  // invisible to every versioned read and swept by vacuumUnreferenced,
  // while fresh orphans survive the TTL. The oracle is the source
  // table — version history must reconstruct it exactly.
  val opTimeTravel: Q = (s, d) => {
    val dir = Sources.fixtureDir(s, "graft_vt_")
    Sources.registerCleanup(dir)
    val t = new java.io.File(dir, "docs").getAbsolutePath
    val docs = documents(s, d)
      .select(col("doc_id"), col("text"), col("source"))
    val v0 = graft.operators.VersionedTable.commit(
      docs.where(col("doc_id") % 2 === 0), t, overwrite = true)
    val v1 = graft.operators.VersionedTable.commit(
      docs.where(col("doc_id") % 2 =!= 0), t, overwrite = false)
    val v2 = graft.operators.VersionedTable.commit(
      docs.where(col("doc_id") % 7 === 0), t, overwrite = true)
    require(Seq(v0, v1, v2) == Seq(0, 1, 2), "version numbering drifted")
    // pre-commit crash: a published-but-unmanifested data file must be
    // invisible now and TTL-swept later
    val orphan = new java.io.File(dir, "docs/v00099-part-orphan.parquet")
    docs.limit(3).coalesce(1).write.mode("overwrite")
      .parquet(orphan.getAbsolutePath + ".stage")
    val part = new java.io.File(orphan.getAbsolutePath + ".stage")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    require(part.renameTo(orphan), "orphan setup rename failed")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(orphan.getAbsolutePath + ".stage"))
    require(graft.operators.VersionedTable
      .vacuumUnreferenced(s, t, ttlMs = 3600 * 1000L).isEmpty,
      "fresh orphan must survive the TTL")
    require(orphan.setLastModified(
      System.currentTimeMillis() - 7200 * 1000L))
    require(graft.operators.VersionedTable
      .vacuumUnreferenced(s, t, ttlMs = 3600 * 1000L)
      == Seq("v00099-part-orphan.parquet"), "aged orphan must sweep")
    val hist = graft.operators.VersionedTable.versions(s, t)
    require(hist.map(v => (v.version, v.mode)) ==
      Seq((0, "overwrite"), (1, "append"), (2, "overwrite")), hist.toString)
    graft.operators.VersionedTable.read(s, t, asOfVersion = Some(1))
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"),
        col("source"))
  }

  // Declarative data-quality audit (operators/QualityAudit.scala): five
  // row-level rules folded into ONE table scan (the naive form reads
  // the table once per rule), plus a uniqueness constraint in the same
  // report shape. NULL predicates count as violations (audit semantics,
  // not SQL CHECK) — the oracle replays that with NOT coalesce(p, FALSE).
  val opQualityAudit: Q = (s, d) => {
    val docs = documents(s, d)
    val rules = Seq(
      "doc_id_nonneg" -> (col("doc_id") >= 0),
      "lang_wellformed" -> length(col("lang")).between(2, 3),
      "n_chars_consistent" -> (col("n_chars") === length(col("text"))),
      "text_nonempty" -> (length(col("text")) > 0),
      "text_not_null" -> col("text").isNotNull)
    graft.operators.QualityAudit.audit(docs, rules)
      .unionByName(graft.operators.QualityAudit.uniqueness(
        docs, Seq("doc_id"), "doc_id_unique"))
  }

  // Opt-in approximate-distinct REWRITE (plans/ApproxDistinctRewrite):
  // the same count(DISTINCT) query text planned exact and then — under
  // the session flag — as an HLL++ sketch, with the rewrite asserted
  // in the optimized plan (not just the answer). Exact lanes pin the
  // true counts; the sketch is pinned via its accuracy-contract boolean
  // (3-sigma of rsd, the op_profile_approx discipline). The exact side
  // is MATERIALIZED before the flag flips: DataFrames are lazy, and an
  // unexecuted "exact" plan would silently re-optimize into a sketch.
  val opApproxRewrite: Q = (s, d) => {
    val flag = graft.plans.ApproxDistinctRewrite.EnabledKey
    val exactRows = lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_orderkey")).as("nd_exact"))
      .collect().toSeq
    val exact = s.createDataFrame(
      new java.util.ArrayList(
        java.util.Arrays.asList(exactRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nd_exact",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // The estimates are materialized INSIDE the flag window too — the
    // returned frame builds a fresh QueryExecution at driver-execution
    // time, after the finally has restored the conf.
    s.conf.set(flag, "true")
    val estRows = try {
      val approx = lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_orderkey")).as("nd_est"))
      require(approx.queryExecution.optimizedPlan.toString
        .contains("approx_count_distinct"),
        "approx rewrite did not fire — is the rule registered?")
      approx.collect().toSeq
    } finally s.conf.unset(flag)
    val est = s.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(estRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nd_est",
          org.apache.spark.sql.types.LongType, nullable = false))))
    est.join(broadcast(exact), "l_returnflag")
      .select(col("l_returnflag"), col("nd_exact"),
        (abs(col("nd_est").cast("double") / col("nd_exact") - 1.0)
          <= 0.15).as("est_ok"))
  }

  // The MULTI-COLUMN arm of the rewrite rule: count(DISTINCT a, b)
  // planned as HLL++ over a null-guarded struct(a, b) — same sketch,
  // same error contract, same no-query-edit lever, for the composite
  // keys (user × day, order × line) fleet dashboards actually count.
  // Oracled like op_approx_rewrite: exact values pinned, the estimate
  // pinned through its 3-sigma accuracy boolean.
  val opApproxRewriteMulti: Q = (s, d) => {
    val flag = graft.plans.ApproxDistinctRewrite.EnabledKey
    val exactRows = lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count_distinct(col("l_orderkey"), col("l_linenumber"))
        .as("nd_exact"))
      .collect().toSeq
    val exact = s.createDataFrame(
      new java.util.ArrayList(
        java.util.Arrays.asList(exactRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nd_exact",
          org.apache.spark.sql.types.LongType, nullable = false))))
    // materialized INSIDE the flag window (the standing conf-window
    // rule: the returned frame re-optimizes after the restore)
    s.conf.set(flag, "true")
    val estRows = try {
      val approx = lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count_distinct(col("l_orderkey"), col("l_linenumber"))
          .as("nd_est"))
      require(approx.queryExecution.optimizedPlan.toString
        .contains("approx_count_distinct"),
        "multi-column approx rewrite did not fire")
      approx.collect().toSeq
    } finally s.conf.unset(flag)
    val est = s.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(estRows: _*)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_returnflag",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("nd_est",
          org.apache.spark.sql.types.LongType, nullable = false))))
    est.join(broadcast(exact), "l_returnflag")
      .select(col("l_returnflag"), col("nd_exact"),
        (abs(col("nd_est").cast("double") / col("nd_exact") - 1.0)
          <= 0.15).as("est_ok"))
  }

  val queries: Map[String, Q] = Map(
    "op_approx_rewrite" -> opApproxRewrite,
    "op_approx_rewrite_multi" -> opApproxRewriteMulti,
    "op_quality_audit" -> opQualityAudit,
    "op_zonemap_refresh" -> opZonemapRefresh,
    "op_vt_compact" -> opVtCompact,
    "op_vt_pruned_read" -> opVtPrunedRead,
    "op_vt_delete" -> opVtDelete,
    "op_vt_delete_dv" -> opVtDeleteDv,
    "op_vt_dml_dv" -> opVtDmlDv,
    "op_vt_optimize_cluster" -> opVtOptimizeCluster,
    "op_vt_optimize_where" -> opVtOptimizeWhere,
    "op_vt_incr_read" -> opVtIncrRead,
    "op_vt_merge" -> opVtMerge,
    "op_vt_restore" -> opVtRestore,
    "op_vt_replace_where" -> opVtReplaceWhere,
    "op_vt_constraints" -> opVtConstraints,
    "op_vt_clone" -> opVtClone,
    "op_vt_stats" -> opVtStats,
    "op_vt_schema_evolution" -> opVtSchemaEvolution,
    "op_vt_pruned_multi" -> opVtPrunedMulti,
    "op_time_travel" -> opTimeTravel,
    "op_vacuum" -> opVacuum,
    "op_sketch_union" -> opSketchUnion,
    "op_zonemap_prune" -> opZonemapPrune,
    "op_incr_agg" -> opIncrAgg,
    "op_vt_sync_agg" -> opVtSyncAgg,
    "op_vt_sync_changes" -> opVtSyncChanges,
    "op_vt_join_view" -> opVtJoinView,
    "op_vt_sql_travel" -> opVtSqlTravel,
    "op_vt_multi_txn" -> opVtMultiTxn,
    "op_vt_update" -> opVtUpdate,
    "op_vt_update_multiset" -> opVtUpdateMultiset,
    "op_vt_rename" -> opVtRename,
    "op_vt_sql_insert" -> opVtSqlInsert,
    "op_vt_sql_delete" -> opVtSqlDelete,
    "op_vt_sql_update" -> opVtSqlUpdate,
    "op_vt_sql_merge" -> opVtSqlMerge,
    "op_vt_sql_optimize" -> opVtSqlOptimize,
    "op_vt_recluster" -> opVtRecluster,
    "op_vt_dv_decay" -> opVtDvDecay,
    "op_vt_history_walk" -> opVtHistoryWalk,
    "op_vt_stats_redeclare" -> opVtStatsRedeclare,
    "op_vt_segmented" -> opVtSegmented,
    "op_vt_meta_agg" -> opVtMetaAgg,
    "op_vt_count_where" -> opVtCountWhere,
    "op_vt_count_or" -> opVtCountOr,
    "op_vt_dv_minmax" -> opVtDvMinmax,
    "op_vt_meta_dates" -> opVtMetaDates,
    "op_vt_group_meta" -> opVtGroupMeta,
    "op_vt_group_meta2" -> opVtGroupMeta2,
    "op_vt_distinct_meta" -> opVtDistinctMeta,
    "op_vt_approx_ndv" -> opVtApproxNdv,
    "op_vt_topk_meta" -> opVtTopkMeta,
    "op_vt_dfp" -> opVtDfp,
    "op_vt_meta_sum" -> opVtMetaSum,
    "op_vt_sql_dv_select" -> opVtSqlDvSelect,
    "op_vt_sql_ddl" -> opVtSqlDdl,
    "op_vt_changes" -> opVtChanges,
    "op_triangles" -> opTriangles,
    "op_pagerank" -> opPagerank,
    "op_meta_agg" -> opMetaAgg,
    "op_bloom_semi_join" -> opBloomSemiJoin,
    "op_compact_roundtrip" -> opCompactRoundtrip,
    "op_targeted_delete" -> opTargetedDelete,
    "op_targeted_delete_part" -> opTargetedDeletePart,
    "op_zorder_scan" -> opZorderScan,
    "op_profile" -> opProfile,
    "op_profile_approx" -> opProfileApprox,
    "op_merge_upsert" -> opMergeUpsert,
    "op_reservoir_per_key" -> opReservoirPerKey,
    "viz_histogram" -> vizHistogram,
    "op_union_dfs" -> opUnionDfs,
    "op_histogram" -> opHistogram,
    "op_bucketize" -> opBucketize,
    "op_stable_hash" -> opStableHash,
    "op_hash_rgb" -> opHashRgb,
    "op_balanced_sample" -> opBalancedSample,
    "op_topk_per_key" -> opTopKPerKey,
    "op_bucketed_join" -> opBucketedJoin,
    "op_salted_join" -> opSaltedJoin)

  // Per-column profile statistics, one UNION ALL branch per lineitem
  // column. Numeric + timestamp columns use the numeric min/max lane
  // (timestamps as epoch micros — no string-format dialect); strings
  // use binary-collation min/max strings.
  private def profileOracleFor(approx: Boolean): String = {
    val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val tsCols = Seq("l_shipdate")
    val strCols = Seq("l_returnflag", "l_linestatus")
    // Approx mode: the HLL estimate itself isn't engine-portable, so the
    // oracle pins its accuracy-contract boolean (TRUE) instead of the
    // estimate value; exact mode pins count(DISTINCT) itself. The approx
    // entry scopes to one representative column per type lane.
    val laneCols = Set("l_orderkey", "l_linenumber", "l_extendedprice",
      "l_returnflag", "l_shipdate")
    val ndLane =
      if (approx) "TRUE AS nd_ok"
      else "count(DISTINCT %s) AS n_distinct"
    def sel(c: String, mn: String, mx: String,
        mns: String, mxs: String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count($c) AS n_nonnull, ${ndLane.format(c)},
         |  $mn AS min_num, $mx AS max_num, $mns AS min_str, $mxs AS max_str
         |FROM lineitem""".stripMargin
    val nullD = "CAST(NULL AS DOUBLE)"
    val nullS = "CAST(NULL AS VARCHAR)"
    def scoped(cs: Seq[String]): Seq[String] =
      if (approx) cs.filter(laneCols) else cs
    (scoped(numCols).map(c => sel(c, s"CAST(min($c) AS DOUBLE)",
        s"CAST(max($c) AS DOUBLE)", nullS, nullS)) ++
      scoped(tsCols).map(c => sel(c, s"CAST(epoch_us(min($c)) AS DOUBLE)",
        s"CAST(epoch_us(max($c)) AS DOUBLE)", nullS, nullS)) ++
      scoped(strCols).map(c => sel(c, nullD, nullD, s"min($c)", s"max($c)")))
      .mkString("\nUNION ALL\n")
  }
  private val profileOracle: String = profileOracleFor(approx = false)

  // The same integer PageRank recurrence, unrolled: r_{i+1}(v) =
  // (0.15·S) // n + (85·Σ_{u→v} r_i(u) // outdeg(u)) // 100, S = 1e12.
  // All-BIGINT floor division (DuckDB `//` ≡ Spark `div` on positives):
  // no float summation anywhere, so the hash match is exact.
  private val pagerankOracle: String = {
    val steps = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    (150000000000 // nn.n) +
         |      (85 * CAST(sum(r${i - 1}.r // deg.outdeg) AS BIGINT)) // 100
         |      AS r
         |  FROM e
         |  JOIN r${i - 1} ON e.src = r${i - 1}.node
         |  JOIN deg ON e.src = deg.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |        AND a.l_partkey <> b.l_partkey),
       |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT deg.src AS node, 1000000000000 // nn.n AS r
       |       FROM deg CROSS JOIN nn),
       |$steps
       |SELECT node AS p_partkey, CAST(r AS BIGINT) AS rank_fp FROM r10
       |ORDER BY r DESC, node LIMIT 25""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Exact distinct counts by value; the sketch estimate pinned via
    // its 3-sigma accuracy boolean (TRUE on both sides or the row fails).
    "op_approx_rewrite" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS nd_exact,
        |  TRUE AS est_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    // Composite-key distinct as a row-value tuple, null-guarded to
    // Spark's count(DISTINCT a, b) semantics (any-null rows skip —
    // DuckDB would count (x, NULL) tuples); the estimate is pinned
    // through its accuracy boolean like the single-column entry.
    "op_approx_rewrite_multi" ->
      """SELECT l_returnflag,
        |  count(DISTINCT CASE
        |    WHEN l_orderkey IS NULL OR l_linenumber IS NULL THEN NULL
        |    ELSE (l_orderkey, l_linenumber) END) AS nd_exact,
        |  TRUE AS est_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    // Each rule replayed as NOT coalesce(pred, FALSE); uniqueness
    // violations = all rows carrying a duplicated non-null key.
    "op_quality_audit" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM documents),
        |r AS (
        |  SELECT 'doc_id_nonneg' AS rule, sum(CASE WHEN NOT
        |    coalesce(doc_id >= 0, FALSE) THEN 1 ELSE 0 END) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang_wellformed', sum(CASE WHEN NOT
        |    coalesce(length(lang) BETWEEN 2 AND 3, FALSE) THEN 1 ELSE 0 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'n_chars_consistent', sum(CASE WHEN NOT
        |    coalesce(n_chars = length(text), FALSE) THEN 1 ELSE 0 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text_nonempty', sum(CASE WHEN NOT
        |    coalesce(length(text) > 0, FALSE) THEN 1 ELSE 0 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'text_not_null', sum(CASE WHEN text IS NULL
        |    THEN 1 ELSE 0 END)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'doc_id_unique', coalesce((SELECT sum(c) FROM (
        |    SELECT count(*) AS c FROM documents WHERE doc_id IS NOT NULL
        |    GROUP BY doc_id HAVING count(*) > 1)), 0))
        |SELECT r.rule, n.n_rows, CAST(r.v AS BIGINT) AS n_violations,
        |  r.v = 0 AS pass
        |FROM r CROSS JOIN n""".stripMargin,
    // The time-traveled middle version IS the full corpus (v0 even ids
    // + v1 append of the odd ids), regardless of what v2 dropped.
    "op_time_travel" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents""".stripMargin,
    // Vacuum must be invisible to live data: the source table.
    "op_vacuum" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h
        |FROM documents""".stripMargin,
    // Exact group distincts pinned by value; sketch estimates pinned
    // via their accuracy-contract booleans (TRUE on both sides — an
    // out-of-band estimate flips the hash and fails the row).
    "op_sketch_union" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS nd,
        |  TRUE AS grp_ok, TRUE AS global_ok
        |FROM lineitem GROUP BY 1""".stripMargin,
    // Refresh + pruning must be result-invisible: plain range filter
    // over the FULL grown table.
    "op_zonemap_refresh" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    // Compaction is content-invisible: the source table.
    "op_vt_compact" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h
        |FROM documents""".stripMargin,
    // Manifest-stats planning over the time-traveled version must be
    // result-invisible: plain range filter over the full table (v1 =
    // both halves; the empty v2 overwrite must NOT be what's read).
    "op_vt_pruned_read" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    // Clustered compaction must be result-invisible: the same plain
    // range filter as op_vt_pruned_read.
    "op_vt_optimize_cluster" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    // Scoped OPTIMIZE must also be result-invisible: same filter.
    "op_vt_optimize_where" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    // The file-diff delta is exactly the appended years.
    "op_vt_incr_read" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE year(o_orderdate) > 1996""".stripMargin,
    // The versioned merge equals the SQL upsert replay: top-quarter
    // keys updated (price doubled), shifted copies inserted (price
    // +5), everything else untouched. The cut replays the engine's
    // integer max*3/4; null keys (none in the fixture, but the
    // contract) match nothing and survive.
    "op_vt_merge" ->
      """WITH mx AS (SELECT max(o_orderkey) * 3 // 4 AS cut,
        |  max(o_orderkey) * 10 AS shift FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders, mx WHERE o_orderkey IS NULL OR o_orderkey <= cut
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |FROM orders, mx WHERE o_orderkey > cut
        |UNION ALL
        |SELECT o_orderkey + shift AS o_orderkey, o_custkey,
        |  o_totalprice + 5 AS o_totalprice
        |FROM orders, mx WHERE o_orderkey > cut""".stripMargin,
    // A rollback must be content-invisible: the untouched source table
    // (same projection as op_vt_delete, whose delete it undoes).
    "op_vt_restore" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents""".stripMargin,
    // The scoped backfill replayed in SQL: everything at or below the
    // cut (or null-keyed) untouched, the top-quarter slice at its
    // recomputed (doubled) postimage. The cut replays the engine's
    // integer max*3/4.
    "op_vt_replace_where" ->
      """WITH mx AS (SELECT max(o_orderkey) * 3 // 4 AS cut FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders, mx WHERE o_orderkey IS NULL OR o_orderkey <= cut
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |FROM orders, mx WHERE o_orderkey > cut""".stripMargin,
    // The manifest-folded numbers recomputed the honest way over the
    // post-delete table (the engine's integer max*4/5 cut replayed).
    "op_vt_stats" ->
      """WITH cut AS (SELECT max(l_orderkey) * 4 // 5 AS c FROM lineitem),
        |kept AS (SELECT l_orderkey FROM lineitem, cut
        |         WHERE l_orderkey IS NULL OR l_orderkey <= c)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM kept""".stripMargin,
    // A deep clone of the pre-delete version is content-exact: the
    // full source table.
    "op_vt_clone" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem""",
    // Constraint enforcement must be content-invisible on clean data
    // (the violating batch never lands): the plain source table.
    "op_vt_constraints" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders""",
    // The manifest-diff change feed replayed: v1's deletes are the
    // low-quarter keys, v2's merge is the delete/insert pair per
    // updated top-quarter key plus the shifted inserts. Survivors
    // co-located in rewritten files must not appear on either side.
    "op_vt_changes" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE year(o_orderdate) <= 1998),
        |mx AS (SELECT max(o_orderkey) AS m FROM base)
        |SELECT 'delete' AS _change_type, CAST(1 AS INTEGER)
        |    AS _commit_version, o_orderkey, o_custkey, o_totalprice
        |FROM base, mx WHERE o_orderkey <= m // 4
        |UNION ALL
        |SELECT 'delete', CAST(2 AS INTEGER),
        |  o_orderkey, o_custkey, o_totalprice
        |FROM base, mx WHERE o_orderkey > m * 3 // 4
        |UNION ALL
        |SELECT 'insert', CAST(2 AS INTEGER),
        |  o_orderkey, o_custkey, o_totalprice * 2
        |FROM base, mx WHERE o_orderkey > m * 3 // 4
        |UNION ALL
        |SELECT 'insert', CAST(2 AS INTEGER),
        |  o_orderkey + m * 10, o_custkey, o_totalprice + 5
        |FROM base, mx WHERE o_orderkey > m * 3 // 4""".stripMargin,
    // The evolved table: every doc, with the mid-life column present
    // only where the post-evolution (odd) half carried it.
    "op_vt_schema_evolution" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,
    // Conjunctive + IN-list manifest pruning must be result-invisible:
    // the plain three-predicate filter.
    "op_vt_pruned_multi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 5000
        |  AND l_quantity BETWEEN 1 AND 10
        |  AND l_linenumber IN (1, 3, 5)""".stripMargin,
    // A versioned delete must equal the anti-filter (null doc_ids are
    // kept: SQL WHERE-delete semantics remove only predicate-TRUE
    // rows). The cut replays the engine's integer max/5.
    "op_vt_delete" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents
        |WHERE doc_id IS NULL
        |   OR doc_id > (SELECT max(doc_id) // 5 FROM documents)""".stripMargin,
    // A deletion-vector delete must equal the anti-filter exactly —
    // value-identical to a rewrite delete (nulls kept: SQL WHERE
    // semantics; the mask is invisible to every reader).
    "op_vt_delete_dv" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents
        |WHERE doc_id IS NULL OR doc_id % 3 <> 0""".stripMargin,
    // DV update→merge must equal the sequential replay: doubled+1 in
    // the %7 band, then -5 for surviving %11 keys, %22 keys gone.
    "op_vt_dml_dv" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber,
        |    min(l_quantity) AS l_quantity
        |  FROM lineitem GROUP BY 1, 2),
        |upd AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 7 = 0 THEN l_quantity * 2 + 1
        |         ELSE l_quantity END AS l_quantity
        |  FROM base)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey % 11 = 0 THEN -5.0
        |       ELSE l_quantity END AS l_quantity
        |FROM upd
        |WHERE l_orderkey % 22 <> 0""".stripMargin,
    // Zone-map planning must be result-invisible: plain range filter.
    "op_zonemap_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    // Incremental maintenance must equal the one-shot aggregate; sums
    // accumulate as DECIMAL(38,6) (the state's lane type) and the
    // derived mean replays the 1e-6 floor-round.
    "op_incr_agg" ->
      """SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_o_totalprice,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*) * 1000000 + 0.5) / 1000000 AS avg_o_totalprice
        |FROM orders GROUP BY 1, 2""".stripMargin,
    // Signed IVM must equal the one-shot rollup over the FINAL table:
    // untouched middle keys as-is, the deleted low quarter absent, the
    // merged top quarter at its doubled postimage, the shifted inserts
    // at +5. The same decimal-lane/rounding contract as op_incr_agg.
    "op_vt_sync_changes" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |final AS (
        |  SELECT o_orderpriority,
        |    strftime(o_orderdate, '%Y-%m') AS month, o_totalprice
        |  FROM orders, mx
        |  WHERE o_orderkey > m // 4 AND o_orderkey <= m * 3 // 4
        |  UNION ALL
        |  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m'),
        |    o_totalprice * 2
        |  FROM orders, mx WHERE o_orderkey > m * 3 // 4
        |  UNION ALL
        |  SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m'),
        |    o_totalprice + 5
        |  FROM orders, mx WHERE o_orderkey > m * 3 // 4)
        |SELECT o_orderpriority, month, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_o_totalprice,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*) * 1000000 + 0.5) / 1000000 AS avg_o_totalprice
        |FROM final GROUP BY 1, 2""".stripMargin,
    // UPDATE must equal the CASE replay: tripled+1 quantity exactly in
    // the key band, untouched elsewhere.
    "op_vt_update" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey BETWEEN 1000 AND 3000
        |       THEN l_quantity * 3 + 1 ELSE l_quantity END AS l_quantity
        |FROM lineitem""".stripMargin,
    // A rename must be value-invisible: the whole table under the new
    // projection, whichever side of the rename each row landed on.
    "op_vt_rename" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS qty
        |FROM lineitem""".stripMargin,
    // The multi-SET swap must equal the pre-image CASE replay: both
    // CASE branches read the ORIGINAL columns — SQL UPDATE semantics.
    "op_vt_update_multiset" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity < 10 AND l_orderkey BETWEEN 1000 AND 3000
        |       THEN l_extendedprice + 1 ELSE l_quantity END AS l_quantity,
        |  CASE WHEN l_quantity < 10 AND l_orderkey BETWEEN 1000 AND 3000
        |       THEN l_quantity + 1 ELSE l_extendedprice
        |       END AS l_extendedprice
        |FROM lineitem""".stripMargin,
    // A SQL DELETE must equal the anti-filter (keys are non-null).
    "op_vt_sql_delete" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey NOT BETWEEN 1000 AND 3000""".stripMargin,
    // The SQL UPDATE surface must equal the Scala twin's oracle: the
    // pre-image CASE replay of the multi-SET swap.
    "op_vt_sql_update" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity < 10 AND l_orderkey BETWEEN 1000 AND 3000
        |       THEN l_extendedprice + 1 ELSE l_quantity END AS l_quantity,
        |  CASE WHEN l_quantity < 10 AND l_orderkey BETWEEN 1000 AND 3000
        |       THEN l_quantity + 1 ELSE l_extendedprice
        |       END AS l_extendedprice
        |FROM lineitem""".stripMargin,
    // The SQL MERGE must equal the three-verb replay: even low-band
    // keys gone, odd low-band keys re-hashed, %11 keys re-inserted
    // band-shifted. The cut replays the engine's integer max/5.
    "op_vt_sql_merge" ->
      """WITH mx AS (SELECT max(doc_id) // 5 AS cut FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id <= (SELECT cut FROM mx)
        |       THEN md5(concat(coalesce(text, ''), 'u'))
        |       ELSE md5(coalesce(text, '')) END AS h,
        |  source
        |FROM documents
        |WHERE doc_id IS NOT NULL
        |  AND NOT (doc_id <= (SELECT cut FROM mx) AND doc_id % 2 = 0)
        |UNION ALL
        |SELECT doc_id + 2000000, md5(coalesce(text, '')), source
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id % 11 = 0""".stripMargin,
    // SQL over the masked+aliased table must equal the anti-filter
    // under the renamed column — no compaction in between.
    "op_vt_sql_dv_select" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS digest, source
        |FROM documents
        |WHERE doc_id IS NULL OR doc_id % 3 <> 0""".stripMargin,
    // The DDL walk must equal the union replay under the final names:
    // the CTAS half never saw the added column (null), the post-ADD
    // half carries it, and the rename is value-invisible.
    "op_vt_sql_ddl" ->
      """SELECT doc_id, source AS origin, n_chars,
        |  CAST(NULL AS BIGINT) AS flag
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars, doc_id % 7
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // Index re-declaration + rewrite must be value-invisible.
    "op_vt_stats_redeclare" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem""".stripMargin,
    // The interleaved walk ends restored-to-v1 then compacted: the
    // one real delete's anti-filter, under the original names.
    "op_vt_history_walk" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents
        |WHERE doc_id IS NULL OR doc_id % 3 <> 0""".stripMargin,
    // Metadata-folded aggregates must equal the full scan DuckDB runs:
    // whole-table count/min/max of version 0, plus the live count
    // after the DV delete of the l_orderkey % 4 = 0 band.
    "op_vt_meta_agg" ->
      """SELECT (SELECT count(*) FROM lineitem) AS n0,
        |       (SELECT min(l_orderkey) FROM lineitem) AS lo,
        |       (SELECT max(l_orderkey) FROM lineitem) AS hi,
        |       (SELECT count(l_quantity) FROM lineitem) AS cq,
        |       (SELECT count(*) FROM lineitem
        |        WHERE l_orderkey IS NULL OR l_orderkey % 4 <> 0) AS n1,
        |       (SELECT max(l_orderkey) FROM lineitem
        |        WHERE l_orderkey IS NULL OR l_orderkey % 4 <> 0) AS hi1""".stripMargin,
    // The predicate-bounded count must equal DuckDB's full scan of
    // the same middle-half range.
    "op_vt_count_where" ->
      """WITH mx AS (SELECT max(l_orderkey) + 1 AS m FROM lineitem)
        |SELECT count(*) AS n, min(l_orderkey) AS klo,
        |       max(l_orderkey) AS khi
        |FROM lineitem
        |WHERE l_orderkey >= (SELECT m FROM mx) // 4
        |  AND l_orderkey < (3 * (SELECT m FROM mx)) // 4""".stripMargin,
    // The OR-banded metadata count must equal DuckDB's full scan of
    // the same two outer-quartile bands.
    "op_vt_count_or" ->
      """WITH mx AS (SELECT max(l_orderkey) + 1 AS m FROM lineitem)
        |SELECT count(*) AS n, min(l_orderkey) AS klo,
        |       max(l_orderkey) AS khi
        |FROM lineitem
        |WHERE l_orderkey < (SELECT m FROM mx) // 4
        |   OR l_orderkey >= (3 * (SELECT m FROM mx)) // 4""".stripMargin,
    // Date folds + IS NULL / negation classification must equal the
    // full DuckDB scan of the same seven aggregates.
    "op_vt_meta_dates" ->
      """WITH o AS (SELECT o_orderkey,
        |                  CAST(o_orderdate AS DATE) AS o_date
        |           FROM orders)
        |SELECT (SELECT count(*) FROM o) AS n,
        |       (SELECT count(o_date) FROM o) AS nd,
        |       (SELECT strftime(min(o_date), '%Y-%m-%d') FROM o) AS lo,
        |       (SELECT strftime(max(o_date), '%Y-%m-%d') FROM o) AS hi,
        |       (SELECT count(*) FROM o
        |        WHERE o_date < DATE '1993-06-01'
        |           OR o_date >= DATE '1997-06-01') AS n_or,
        |       (SELECT count(*) FROM o WHERE o_orderkey <> 1) AS n_ne,
        |       (SELECT count(*) FROM o WHERE o_date IS NULL)
        |         AS n_null,
        |       (SELECT strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |        FROM orders) AS tlo,
        |       (SELECT strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        |        FROM orders) AS thi,
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00')
        |         AS n_ts""".stripMargin,
    // The grouped metadata counts must equal DuckDB's full-scan
    // GROUP BY over the same derived band.
    "op_vt_group_meta" ->
      """WITH mx AS (SELECT CASE WHEN max(l_orderkey) IS NULL THEN 1
        |                        ELSE greatest(1,
        |                          (max(l_orderkey) + 1) // 8) END AS w
        |           FROM lineitem)
        |SELECT l_orderkey // (SELECT w FROM mx) AS band,
        |       count(*) AS n, count(l_quantity) AS nq,
        |       min(l_orderkey) AS lo, max(l_orderkey) AS hi,
        |       CAST(sum(l_orderkey) AS BIGINT) AS sk,
        |       avg(l_orderkey) AS ak
        |FROM lineitem
        |GROUP BY 1""".stripMargin,
    // The two-key grouped metadata folds must equal DuckDB's
    // full-scan GROUP BY over both derived keys.
    "op_vt_group_meta2" ->
      """WITH mx AS (SELECT CASE WHEN max(l_orderkey) IS NULL THEN 1
        |                        ELSE greatest(1,
        |                          (max(l_orderkey) + 1) // 8) END AS w
        |           FROM lineitem)
        |SELECT l_orderkey // (SELECT w FROM mx) AS band,
        |       (l_orderkey // (SELECT w FROM mx)) % 2 AS parity,
        |       count(*) AS n,
        |       CAST(sum(l_orderkey) AS BIGINT) AS sk,
        |       min(l_orderkey) AS lo, max(l_orderkey) AS hi
        |FROM lineitem
        |GROUP BY 1, 2""".stripMargin,
    // The metadata distinct answers must equal DuckDB's full-scan
    // DISTINCT / count(DISTINCT) over the same derived keys.
    "op_vt_distinct_meta" ->
      """WITH mx AS (SELECT CASE WHEN max(l_orderkey) IS NULL THEN 1
        |                        ELSE greatest(1,
        |                          (max(l_orderkey) + 1) // 8) END AS w
        |           FROM lineitem),
        |     b AS (SELECT l_orderkey // (SELECT w FROM mx) AS band
        |           FROM lineitem)
        |SELECT DISTINCT band, band % 2 AS parity,
        |       (SELECT count(DISTINCT band) FROM b) AS nb,
        |       (SELECT count(*) FROM b) AS n,
        |       (SELECT count(DISTINCT band) FROM b WHERE band >= 2)
        |         AS nbw,
        |       (SELECT count(DISTINCT l_orderkey // (SELECT w FROM mx))
        |        FROM lineitem
        |        WHERE l_orderkey >=
        |          greatest(1, (SELECT w FROM mx) // 2)) AS nbs
        |FROM b""".stripMargin,
    // Spark's HLL++ estimate is engine-specific, so the oracle checks
    // the shared exact NDV plus the (deterministic) tolerance verdict;
    // the bit-equality of fold vs scan is asserted inside the entry.
    "op_vt_approx_ndv" ->
      """WITH mx AS (SELECT CASE WHEN max(o_orderkey) IS NULL THEN 1
        |                        ELSE greatest(1,
        |                          (max(o_orderkey) + 1) // 4) END AS w
        |           FROM orders)
        |SELECT o_orderkey // (SELECT w FROM mx) AS band,
        |       count(DISTINCT o_custkey) AS nd_exact, true AS within,
        |       (SELECT count(DISTINCT o_custkey) FROM orders
        |        WHERE o_orderkey >= (SELECT w FROM mx) // 2)
        |         AS nds_exact,
        |       true AS within_s
        |FROM orders GROUP BY 1""".stripMargin,
    // Both ORDER BY LIMIT lanes must equal DuckDB's full-scan sort
    // (o_orderkey is unique — the limit is deterministic).
    "op_vt_topk_meta" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
        |         'd' AS lane
        |  FROM orders ORDER BY o_orderkey DESC LIMIT 100)
        |UNION ALL
        |SELECT * FROM (
        |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
        |         'a' AS lane
        |  FROM orders ORDER BY o_orderkey LIMIT 100)""".stripMargin,
    // File pruning must be invisible to the answer: the pruned
    // star join equals DuckDB's full-scan join.
    "op_vt_dfp" ->
      """WITH mx AS (SELECT coalesce(max(o_orderkey), 0) AS m
        |            FROM orders)
        |SELECT l.l_orderkey AS k,
        |       CAST(l.l_quantity AS DOUBLE) AS qty,
        |       o.o_custkey AS ck
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderkey <= (SELECT m FROM mx) // 8""".stripMargin,
    // The metadata sums/averages must equal DuckDB's full scan — the
    // whole-table folds and the interior-band hybrid alike.
    "op_vt_meta_sum" ->
      """WITH mx AS (SELECT max(l_orderkey) + 1 AS m FROM lineitem)
        |SELECT count(*) AS n,
        |       CAST(sum(l_orderkey) AS BIGINT) AS sk,
        |       CAST(sum(l_linenumber) AS BIGINT) AS sl,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
        |         AS DOUBLE) AS sp,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(8,2)))
        |         AS DOUBLE) AS sp8,
        |       avg(l_orderkey) AS ak,
        |       CAST(min(CAST(l_extendedprice AS DECIMAL(12,2)))
        |         AS DOUBLE) AS plo,
        |       CAST(max(CAST(l_extendedprice AS DECIMAL(12,2)))
        |         AS DOUBLE) AS phi,
        |       (SELECT CAST(sum(l_orderkey) AS BIGINT) FROM lineitem
        |        WHERE l_orderkey >= (SELECT m FROM mx) // 4
        |          AND l_orderkey < (3 * (SELECT m FROM mx)) // 4)
        |         AS skw,
        |       (SELECT count(*) FROM lineitem
        |        WHERE l_orderkey >= (SELECT m FROM mx) // 4
        |          AND l_orderkey < (3 * (SELECT m FROM mx)) // 4)
        |         AS nw,
        |       (SELECT avg(l_orderkey) FROM lineitem
        |        WHERE l_orderkey >= (SELECT m FROM mx) // 4
        |          AND l_orderkey < (3 * (SELECT m FROM mx)) // 4)
        |         AS akw
        |FROM lineitem""".stripMargin,
    // The hybrid DV'd min/max must equal DuckDB's replay of both
    // masks (interior mid-key row, then the global-max row).
    "op_vt_dv_minmax" ->
      """WITH mx AS (SELECT max(l_orderkey) AS m FROM lineitem),
        |     live AS (SELECT l_orderkey FROM lineitem
        |              WHERE l_orderkey IS NULL OR
        |                    (l_orderkey <> (SELECT m FROM mx) // 2
        |                     AND l_orderkey <> (SELECT m FROM mx)))
        |SELECT count(*) AS n, count(l_orderkey) AS nk,
        |       min(l_orderkey) AS lo, max(l_orderkey) AS hi
        |FROM live""".stripMargin,
    // The segmented (v7) manifest layout must be value-invisible:
    // base half ∪ appended half, minus the top-quartile delete.
    "op_vt_segmented" ->
      """WITH mx AS (SELECT (3 * (max(doc_id) + 1)) // 4 AS q3
        |           FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents
        |WHERE doc_id IS NOT NULL
        |  AND doc_id < (SELECT q3 FROM mx)""".stripMargin,
    // The DV-decay repair must be value-invisible: the anti-filter
    // replay of the two stacked masks over the low key band.
    "op_vt_dv_decay" ->
      """WITH mx AS (SELECT max(l_orderkey) // 4 AS cut FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE NOT (l_orderkey <= (SELECT cut FROM mx)
        |  AND (l_linenumber % 2 = 0 OR l_linenumber % 3 = 0))""".stripMargin,
    // The recluster loop must be value-invisible: the whole table.
    "op_vt_recluster" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem""".stripMargin,
    // CALL-verb maintenance must be value-invisible: the plain table.
    "op_vt_sql_optimize" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem""".stripMargin,
    // A SQL INSERT INTO ... SELECT must equal the plain union replay.
    "op_vt_sql_insert" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents WHERE doc_id IS NOT NULL
        |UNION ALL
        |SELECT doc_id + 1000000, md5(coalesce(text, '')), source
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id % 5 = 0""".stripMargin,
    // The atomic two-table move must equal the band split — and the
    // aborted move-everything txn must be invisible (a leaked abort
    // would empty 'a' and double 'b').
    "op_vt_multi_txn" ->
      """SELECT CASE WHEN doc_id < 100 THEN 'b' ELSE 'a' END AS tbl,
        |  doc_id, md5(coalesce(text, '')) AS h
        |FROM documents WHERE doc_id IS NOT NULL""".stripMargin,
    // SQL time travel must surface exactly the deleted band: the
    // VERSION AS OF 0 snapshot minus the latest state = the rows the
    // delete predicate removed (null doc_ids survive a WHERE-delete).
    "op_vt_sql_travel" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h, source
        |FROM documents
        |WHERE doc_id % 10 = 0 AND doc_id IS NOT NULL""".stripMargin,
    // Join-IVM must equal the plain L ⋈ R of the FINAL state: the CTEs
    // rebuild each side's end state (reassigned/repriced low-key
    // orders, renamed low-key customers, the 101-150 customer band
    // deleted) and join them one-shot — delta-rule maintenance and its
    // lane-1 conflict resolution must be result-invisible.
    "op_vt_join_view" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders),
        |l AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey <= m // 20
        |         THEN (o_custkey % 100) + 1 ELSE o_custkey END
        |      AS o_custkey,
        |    CASE WHEN o_orderkey <= m // 20
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS o_totalprice
        |  FROM orders, mx WHERE o_orderkey <= m // 4),
        |r AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey <= 100
        |         THEN 'renamed_' || c_custkey ELSE c_name END AS c_name
        |  FROM customer WHERE c_custkey NOT BETWEEN 101 AND 150)
        |SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_name
        |FROM l JOIN r ON l.o_custkey = r.c_custkey""".stripMargin,
    // Commit-log-driven MV sync must equal the same one-shot rollup —
    // the op_incr_agg contract, maintained by syncFromTable instead of
    // hand-fed deltas.
    "op_vt_sync_agg" ->
      """SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_o_totalprice,
        |  floor(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    / count(*) * 1000000 + 0.5) / 1000000 AS avg_o_totalprice
        |FROM orders GROUP BY 1, 2""".stripMargin,
    // The textbook ordered-triple formulation: each triangle a<b<c
    // counted once from edges (a,b),(b,c),(a,c).
    "op_triangles" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                       WHERE year(o_orderdate) = 1995)),
        |e AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
        |    greatest(a.l_partkey, b.l_partkey) AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey)
        |SELECT count(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.u = e1.v
        |JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "op_pagerank" -> pagerankOracle,
    // Footer-only aggregation must be value-identical to the scan.
    "op_meta_agg" ->
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,
    // Bloom pruning must be result-invisible: plain semi join.
    "op_bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')""".stripMargin,
    // Delete semantics only (layout invisible): survivors of the band.
    "op_targeted_delete" ->
      """SELECT doc_id, source, md5(coalesce(text, '')) AS h
        |FROM documents
        |WHERE doc_id < 10 OR doc_id >= 25""".stripMargin,
    // Partitioned layout must be delete-semantics-invisible too: the
    // deleted keys are the FIRST source's doc_id < 40 band.
    "op_targeted_delete_part" ->
      """SELECT doc_id, source, md5(coalesce(text, '')) AS h
        |FROM documents
        |WHERE NOT (source = (SELECT min(source) FROM documents)
        |           AND doc_id < 40)""".stripMargin,
    // Compaction must be layout-only: the oracle is the source table.
    "op_compact_roundtrip" ->
      """SELECT doc_id, md5(coalesce(text, '')) AS h
        |FROM documents""".stripMargin,
    // The z-order layout must be value-invisible: the oracle is the
    // plain two-dimension filter on the source table.
    "op_zorder_scan" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
        |FROM lineitem
        |WHERE l_partkey <= 500 AND l_suppkey <= 50""".stripMargin,
    "op_profile" -> profileOracle,
    "op_profile_approx" -> profileOracleFor(approx = true),
    // Replays the synthesized change set and the merge: deletes drop,
    // updates/inserts take the change row, untouched keys pass through.
    "op_merge_upsert" ->
      """WITH base AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |  FROM customer),
        |chg AS (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'D' AS op
        |    FROM base WHERE c_custkey % 13 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, 'U'
        |    FROM base WHERE c_custkey % 13 <> 0 AND c_custkey % 7 = 0
        |  UNION ALL
        |  SELECT c_custkey + (SELECT max(c_custkey) FROM base),
        |      'NEW_' || CAST(c_custkey AS VARCHAR),
        |      c_nationkey, 0.0, 'I'
        |    FROM base WHERE c_custkey % 17 = 0)
        |SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_name ELSE b.c_name END
        |    AS c_name,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_nationkey
        |    ELSE b.c_nationkey END AS c_nationkey,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_acctbal
        |    ELSE b.c_acctbal END AS c_acctbal
        |FROM base b FULL OUTER JOIN chg c ON b.c_custkey = c.c_custkey
        |WHERE c.op IS NULL OR c.op <> 'D'""".stripMargin,
    "op_hash_rgb" ->
      """WITH parts AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,16))
        |      AS UBIGINT) % 2654435769 AS BIGINT) AS hi,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),17,16))
        |      AS UBIGINT) % 2654435769 AS BIGINT) AS lo
        |  FROM documents
        |), sect AS (
        |  SELECT doc_id,
        |    CAST(trunc(CAST((hi * 2120883862 + lo) % 2654435769 AS DOUBLE)
        |      / 2654435769.0 * 6) AS INT) AS i,
        |    CAST((hi * 2120883862 + lo) % 2654435769 AS DOUBLE)
        |      / 2654435769.0 * 6
        |      - trunc(CAST((hi * 2120883862 + lo) % 2654435769 AS DOUBLE)
        |        / 2654435769.0 * 6) AS f
        |  FROM parts
        |), pqt AS (
        |  SELECT doc_id, i,
        |    0.8*(1-0.8) AS p, 0.8*(1-0.8*f) AS q, 0.8*(1-0.8*(1-f)) AS t,
        |    0.8 AS vv
        |  FROM sect
        |)
        |SELECT doc_id,
        |  CAST(trunc(255 * (CASE i%6 WHEN 0 THEN vv WHEN 1 THEN q
        |    WHEN 2 THEN p WHEN 3 THEN p WHEN 4 THEN t ELSE vv END)) AS INT) AS r,
        |  CAST(trunc(255 * (CASE i%6 WHEN 0 THEN t WHEN 1 THEN vv
        |    WHEN 2 THEN vv WHEN 3 THEN q WHEN 4 THEN p ELSE p END)) AS INT) AS g,
        |  CAST(trunc(255 * (CASE i%6 WHEN 0 THEN p WHEN 1 THEN p
        |    WHEN 2 THEN t WHEN 3 THEN vv WHEN 4 THEN vv ELSE q END)) AS INT) AS b
        |FROM pqt""".stripMargin,
    "op_reservoir_per_key" ->
      """WITH d AS (SELECT l_returnflag,
        |    l_orderkey * 10 + l_linenumber AS sample_id,
        |    CAST(CAST(('0x' || substr(md5(concat_ws(':',
        |      coalesce(CAST(l_orderkey AS VARCHAR), chr(1)),
        |      coalesce(CAST(l_linenumber AS VARCHAR), chr(1)), '7')),
        |      1, 15)) AS UBIGINT) AS DOUBLE) AS draw
        |  FROM lineitem)
        |SELECT l_returnflag, sample_id, CAST(rank AS INT) AS rank FROM (
        |  SELECT l_returnflag, sample_id,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY draw DESC, sample_id) AS rank
        |  FROM d)
        |WHERE rank <= 5""".stripMargin,
    // Mirrors HistogramWithExamples: per-pivot [mn, mx] edges, bucket =
    // floor((v - mn) * bins / (mx - mn)) clamped to bins-1 (multiply
    // BEFORE divide, same op order), all 50 buckets present per pivot
    // including empty ones. Replays the Spark side's synthetic groups:
    // 'ZZ' (all-null values) must vanish — `s` only keeps pivots with at
    // least one usable value — and the NULL pivot (real values) rides
    // the same U+0001 sentinel through the joins (NULL keys would drop
    // at `v JOIN s`), translated back to SQL NULL at the output edge.
    "viz_histogram" ->
      """WITH li AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS p
        |    FROM lineitem
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('ZZ', CAST(NULL AS DOUBLE)), ('ZZ', CAST(NULL AS DOUBLE)),
        |    (NULL, 1000.0), (NULL, 2000.0), (NULL, 3000.0))
        |    t(l_returnflag, p)),
        |v AS (SELECT
        |    coalesce(replace(l_returnflag, chr(1), chr(1) || chr(1)),
        |      chr(1) || 'null') AS pivot_key,
        |    p AS v
        |  FROM li
        |  WHERE p IS NOT NULL AND NOT isnan(p)),
        |s AS (SELECT pivot_key, min(v) AS mn, max(v) AS mx FROM v GROUP BY 1),
        |b AS (SELECT v.pivot_key,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE least(CAST(floor((v - mn) * 50 / (mx - mn)) AS INT), 49)
        |    END AS bucket
        |  FROM v JOIN s ON v.pivot_key = s.pivot_key),
        |c AS (SELECT pivot_key, bucket, count(*) AS n FROM b GROUP BY 1, 2)
        |SELECT CASE WHEN s.pivot_key = chr(1) || 'null' THEN NULL
        |    ELSE replace(s.pivot_key, chr(1) || chr(1), chr(1)) END AS pivot_key,
        |  CAST(i AS INT) AS bucket,
        |  mn + (mx - mn) * i / 50 AS lo,
        |  mn + (mx - mn) * (i + 1) / 50 AS hi,
        |  coalesce(n, 0) AS n
        |FROM range(50) t(i) CROSS JOIN s
        |LEFT JOIN c ON c.pivot_key = s.pivot_key AND c.bucket = i""".stripMargin,
    "op_union_dfs" ->
      """SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal,
        |  CAST(NULL AS INT) AS nationkey
        |FROM customer
        |UNION ALL
        |SELECT s_suppkey AS key, s_name AS name,
        |  CAST(NULL AS DOUBLE) AS acctbal, s_nationkey AS nationkey
        |FROM supplier""".stripMargin,
    "op_histogram" ->
      """WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |    AND NOT isnan(l_extendedprice)),
        |s AS (SELECT min(v) AS mn, max(v) AS mx FROM v),
        |b AS (SELECT least(CAST(floor((v - mn) * 50 / (mx - mn)) AS INT), 49)
        |    AS bucket FROM v, s),
        |c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1)
        |SELECT CAST(i AS INT) AS bucket,
        |  mn + (mx - mn) * i / 50 AS lo,
        |  mn + (mx - mn) * (i + 1) / 50 AS hi,
        |  coalesce(n, 0) AS n
        |FROM range(50) t(i) CROSS JOIN s LEFT JOIN c ON c.bucket = i""".stripMargin,
    "op_bucketize" ->
      """SELECT CASE
        |    WHEN l_quantity >= 0 AND l_quantity < 10 THEN 0
        |    WHEN l_quantity >= 10 AND l_quantity < 20 THEN 1
        |    WHEN l_quantity >= 20 AND l_quantity < 30 THEN 2
        |    WHEN l_quantity >= 30 AND l_quantity < 40 THEN 3
        |    WHEN l_quantity >= 40 AND l_quantity < 50.000000001 THEN 4
        |    ELSE -1 END AS bucket,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "op_stable_hash" ->
      "SELECT doc_id, md5(CAST(text AS VARCHAR)) AS stable_hash FROM documents",
    // Mirrors BalancedSample exactly: per-category fraction
    // min(1, target/count) with target = min(min-count, 500), keep iff
    // the 60-bit md5 draw over (l_orderkey, l_linenumber, seed) falls
    // under fraction * 2^60. All arithmetic double-for-double identical
    // to the Scala side (IEEE min/divide/multiply; int→double rounds to
    // nearest in both engines).
    "op_balanced_sample" ->
      """WITH c AS (SELECT l_returnflag AS k, count(*) AS cnt
        |  FROM lineitem GROUP BY 1),
        |tgt AS (SELECT least(min(cnt), 500) AS target FROM c),
        |t AS (SELECT k,
        |    least(1.0, (SELECT target FROM tgt) * 1.0 / cnt)
        |      * 1152921504606846976.0 AS thr
        |  FROM c),
        |kept AS (
        |  SELECT l.l_returnflag
        |  FROM lineitem l JOIN t ON l.l_returnflag = t.k
        |  WHERE CAST(CAST(('0x' || substr(md5(
        |      concat_ws(':', coalesce(CAST(l.l_orderkey AS VARCHAR), chr(1)),
        |        coalesce(CAST(l.l_linenumber AS VARCHAR), chr(1)), '1337')),
        |      1, 15)) AS UBIGINT) AS DOUBLE) < t.thr)
        |SELECT l_returnflag, count(*) AS n FROM kept GROUP BY 1""".stripMargin,
    "op_topk_per_key" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |  CAST(rank AS INT) AS rank
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders)
        |WHERE rank <= 3""".stripMargin,
    "op_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "op_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1""".stripMargin)
}
