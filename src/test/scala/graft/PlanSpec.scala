package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape gate: the 100 TB mandate is about the PLAN, not the
  * result. These tests pin the physical-plan properties each query
  * depends on at scale — filter/column pushdown into the parquet scan,
  * broadcast of dimension sides, partial (map-side) aggregation,
  * whole-stage codegen coverage — so a regression that silently degrades
  * the plan (e.g. a lost broadcast turning into a sort-merge join over
  * the fact table) fails CI, not the cluster. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  val sf = SparkFixture.sf0001

  def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q6 range filters push into the parquet scan; projection prunes") {
    val p = plan(graft.queries.Relational.q6Revenue(spark, sf))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("l_shipdate"), "shipdate filter must reach the scan")
    assert(p.contains("GreaterThanOrEqual") || p.contains("IsNotNull"), p)
    // Only the 4 referenced columns are read, not all 11.
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount"))
  }

  test("versioned pruned reads keep predicate pushdown into the scan") {
    import spark.implicits._
    import graft.operators.VersionedTable
    val d = java.nio.file.Files.createTempDirectory("graft_vtplan_")
    d.toFile.deleteOnExit()
    val t = s"$d/t"
    VersionedTable.commit(
      (0 until 200).map(i => (i.toLong, (i % 7).toLong, s"v$i"))
        .toDF("id", "k", "s")
        .repartitionByRange(4, org.apache.spark.sql.functions.col("id")),
      t, overwrite = true, statsCols = Seq("id"))
    // manifest pruning composes WITH parquet pushdown, not instead of
    // it: the re-applied exact predicates must reach the survivor scan
    val p = plan(VersionedTable.prunedReadWhere(spark, t, Seq(
      VersionedTable.ExactRange.between("id", 10L, 50L),
      VersionedTable.ExactIn("k", Seq(1L, 3L)))))
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThanOrEqual(id,10)") &&
      p.contains("LessThanOrEqual(id,50)"), p)
    assert(p.contains("In(k, [1,3])") || p.contains("In(k,"), p)
    // schema-planned reads (evolution path) keep pushdown too
    VersionedTable.commit(
      (200 until 210).map(i => (i.toLong, (i % 7).toLong, s"v$i", "x"))
        .toDF("id", "k", "s", "extra"), t, overwrite = false)
    val p2 = plan(VersionedTable.read(spark, t)
      .where(org.apache.spark.sql.functions.col("id") > 100L))
    assert(p2.contains("GreaterThan(id,100)"), p2)
  }

  test("q3 joins broadcast the filtered customer dimension") {
    val p = plan(graft.queries.Relational.q3TopOrders(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    // top-k is TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q5 multiway join keeps every dimension broadcast") {
    val p = plan(graft.queries.Relational.q5NationRevenue(spark, sf))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBroadcast >= 4, s"expected >=4 broadcast joins, got $nBroadcast")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q1 aggregation is partial (map-side) before the shuffle") {
    val p = plan(graft.queries.Relational.q1PricingSummary(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
    // single exchange for the grouped agg
    val nExchange = "Exchange".r.findAllIn(p).size
    assert(nExchange <= 2, s"agg should need at most one shuffle (+AQE read), got $nExchange\n$p")
  }

  test("semi/anti joins stay joins (no subquery materialization)") {
    val ps = plan(graft.queries.Relational.qSemiJoin(spark, sf))
    assert(ps.contains("LeftSemi"), ps)
    val pa = plan(graft.queries.Relational.qAntiJoin(spark, sf))
    assert(pa.contains("LeftAnti"), pa)
  }

  test("as-of join plans as union + single window sort, no range join blowup") {
    val p = plan(graft.queries.Events.evAsof(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of must not degrade to a product join\n" + p)
  }

  test("sliced as-of: every window partitions on (key, slice), none on key alone") {
    val p = plan(graft.queries.Events.evAsofSliced(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "sliced as-of must stay a hash/sort plan\n" + p)
    // The skew guarantee: the big-frame carry windows key on __slice too,
    // so no window partition can swallow a whole hot key. (The boundary
    // frame's cross-slice window keys on user_id alone BY DESIGN — it is
    // O(|keys|*|slices|) rows — and distinguishes itself by ordering on
    // __slice.)
    val windowSpecs = p.linesIterator
      .filter(l => l.contains("windowspecdefinition"))
      .toSeq
    assert(windowSpecs.nonEmpty, p.take(2000))
    windowSpecs.foreach { l =>
      assert(l.contains("__slice"),
        s"window not sliced (hot-key straggler shape): $l")
    }
  }

  test("embedding near-dup join is blocked equi-join, no CartesianProduct") {
    val p = plan(graft.queries.Ext.dedupEmbedding(spark, sf))
    assert(!p.contains("CartesianProduct"),
      "embedding dedup must not plan an unconstrained product join\n" + p)
  }

  test("whole-stage codegen covers the scan->filter->agg spine of q6") {
    // AQE prints codegen stages only in the FINAL plan — execute first.
    val df = graft.queries.Relational.q6Revenue(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd stages print as "*(n) Operator" in the final plan
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p)
  }

  test("histogram pass 2 groups at most numBins keys (bounded shuffle)") {
    import org.apache.spark.sql.functions._
    val li = graft.queries.Tables.lineitem(spark, sf)
    val bucketed = li.select(
      graft.operators.DfHistogram.bucketExpr(
        col("l_extendedprice"), 900.0, 105000.0, 50).as("b"))
      .groupBy("b").count()
    val p = plan(bucketed)
    assert(p.contains("HashAggregate") && p.contains("partial_count"), p)
  }

  test("token packing and range-frame windows never hit a single-reducer sort") {
    import org.apache.spark.sql.functions._
    // TokenPacker's prefix sum must window over __pid partitions, not a
    // global (SinglePartition) order.
    val docs = graft.queries.Tables.documents(spark, sf)
      .select(col("doc_id"), lit(7L).as("n_tokens"))
    val packed = graft.operators.TokenPacker(
      docs, "n_tokens", 512, Seq(col("doc_id")))
    val pp = packed.queryExecution.executedPlan.toString
    // The two-pass scan needs NO window and NO second exchange — and
    // above all no single-reducer global sort.
    assert(!pp.contains("Window"), pp.take(2000))
    assert(!pp.contains("SinglePartition"),
      "prefix sum regressed to a single-reducer window:\n" + pp.take(2000))
    // ev_range_join stays a shuffled/broadcast equi-join.
    val rj = graft.queries.Events.queries("ev_range_join")(spark, sf)
    val rp = plan(rj)
    assert(!rp.contains("BroadcastNestedLoopJoin") && !rp.contains("CartesianProduct"), rp.take(2000))
  }

  test("funnel stays on bucketed equi-joins; profiler never Expands") {
    // ev_funnel composes two keyed RangeJoins — neither stage may
    // degrade to a nested-loop/cartesian plan (the per-user-history
    // blowup the operator exists to avoid).
    val fp = plan(graft.queries.Events.queries("ev_funnel")(spark, sf))
    assert(!fp.contains("BroadcastNestedLoopJoin") &&
      !fp.contains("CartesianProduct"), fp.take(2000))
    // op_profile's distinct path is the melt-dedup plan, not the
    // multi-count(DISTINCT) Expand (24 s vs 3.4 s at sf0.1 locally).
    import org.apache.spark.sql.functions._
    val docs = graft.queries.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val kvs = docs.schema.fieldNames.toSeq.map(c =>
      struct(lit(c).as("c"), col(c).cast("string").as("v")))
    val melt = docs.select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.c").as("__c"), col("kv.v").as("__v"))
      .where(col("__v").isNotNull)
      .groupBy(col("__c")).agg(countDistinct(col("__v")).as("nd"))
    val mp = melt.queryExecution.executedPlan.toString
    assert(!mp.contains("Expand"), mp.take(2000))
  }

  test("approx profile fuses HLL distincts into the one stats aggregate (no extra job)") {
    import org.apache.spark.sql.functions._
    // Counts Spark JOBS per run via job groups: the approx profile must
    // cost exactly as many jobs as a bare single-aggregate over the same
    // frame (AQE may split one aggregate into N stage-jobs — equality
    // with the baseline absorbs that), while exact mode pays the melt
    // second pass on top. This is the "100 TB default has no second
    // scan" contract from ColumnProfiler's scaladoc.
    def jobsIn(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      // status tracker is fed by the async listener bus: poll to stable
      def n = spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
      var last = -1
      var cur = n
      var tries = 0
      while ((cur != last || cur == 0) && tries < 50) {
        Thread.sleep(100); last = cur; cur = n; tries += 1
      }
      cur
    }
    val li = graft.queries.Tables.lineitem(spark, sf)
    li.count() // warm file-listing outside the counted groups
    val base = jobsIn("gate-profile-base") {
      li.agg(count(lit(1)), min(col("l_quantity"))).collect()
    }
    val approx = jobsIn("gate-profile-approx") {
      graft.operators.ColumnProfiler.profile(li, exactDistinct = false)
    }
    val exact = jobsIn("gate-profile-exact") {
      graft.operators.ColumnProfiler.profile(li)
    }
    assert(approx == base,
      s"approx profile ran $approx jobs vs $base for a bare aggregate")
    assert(exact > approx,
      s"exact mode should pay the melt pass on top ($exact vs $approx)")
  }

  test("partitioned-table read prunes directories on a partition filter") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan_part_").toString
    graft.queries.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    val filtered = spark.read.parquet(dir)
      .where(col("o_orderpriority") === "1-URGENT")
    val p = plan(filtered)
    assert(p.contains("PartitionFilters"), p.take(1500))
    assert(p.contains("o_orderpriority"), p.take(1500))
    // the partition predicate must NOT appear as a post-scan Filter on
    // data pages - it is resolved from directory names alone
    val dataFilterLine = p.linesIterator.find(_.contains("PushedFilters"))
    assert(dataFilterLine.forall(!_.contains("o_orderpriority")), p.take(1500))
  }

  test("e2e pipeline plan: no cartesian blowup, no single-reducer window") {
    // Gate the SURVIVOR stage (pre-packing): TokenPacker's GlobalRank
    // checkpoints eagerly, so the full query's rendered plan is just a
    // post-checkpoint scan — planning `surv` is what actually inspects
    // the gopher-filter kernels, LSH dedup joins, contamination join,
    // and survivor equi-joins. (Stages that checkpoint internally hide
    // their own subplans; each has its own dedicated gate/spec.)
    val p = plan(graft.queries.Ext.pipelineSurvivors(spark, sf))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("Window"), "no unpartitioned/any Window here: " +
      p.take(2000))
  }

  test("at-rest IVF index probe prunes to the probed cell directories") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan_ivfidx_").toString
    val emb = graft.queries.Tables.embeddings(spark, sf)
    val (scale, cs) = graft.ext.SimilaritySearch.writeQuantizedIndex(
      emb, "vec_id", "embedding", dir, nCentroids = 8, iters = 2)
    // SELECTIVE probe (nProbe=1): the query plan must read only the
    // probed cells — a PartitionFilters entry on `cell`, and no
    // post-scan data filter re-checking the partition predicate.
    val topk = graft.ext.SimilaritySearch.ivfQuantizedTopKAtRest(
      spark.read.parquet(dir), emb.where(col("vec_id") < 3),
      "vec_id", "embedding", k = 5, scale, cs, nProbe = 1)
    val p = plan(topk)
    assert(p.contains("PartitionFilters"), p.take(2000))
    val pfLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(pfLine.contains("cell"), pfLine)
    val pushedLine = p.linesIterator.find(_.contains("PushedFilters"))
    assert(pushedLine.forall(!_.contains("cell")),
      "partition predicate must resolve from directory names, not data pages")
    // and the result is still a real top-k (probe actually ran)
    assert(topk.count() > 0)
  }

  test("nested-path filter pushes down; nested schema prunes to used leaves") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan_nested_").toString
    graft.queries.Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        struct(col("o_orderpriority").as("priority"),
          col("o_totalprice").as("total"),
          col("o_orderstatus").as("status")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir)
      .where(col("meta.priority") === "1-URGENT")
      .select(col("o_orderkey"), col("meta.total"))
    val p = plan(q)
    // nested predicate reaches the scan (parquet nested pushdown)
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("meta.priority"), p.take(2000))
    // nested schema pruning: untouched leaf `status` is not read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("status"), readSchema)
    assert(readSchema.contains("priority") && readSchema.contains("total"),
      readSchema)
  }

  test("span dedup plans window-free; mutual-kNN avoids the window sort") {
    // spanDedup's claim: first-occurrence selection is a hash aggregate,
    // never a Window — a hot boilerplate span must not serialize a sort
    // partition.
    val sd = plan(graft.ext.Dedup.spanDedup(
      graft.queries.Tables.documents(spark, sf), "doc_id", "text"))
    assert(!sd.contains("Window"), "spanDedup must not plan a Window:\n" +
      sd.take(1500))
    assert(sd.contains("HashAggregate") || sd.contains("ObjectHashAggregate"),
      sd.take(1500))
    // simKnnMutual composes TopKPerKey for per-node ranking: the
    // k-bounded udaf must plan as a PARTIAL ObjectHashAggregate before
    // its exchange (map-side cap ⇒ shuffle O(keys × k)), never a
    // window. (The entry's own final plan hides this behind its
    // post-reduction localCheckpoint, so gate the operator itself.)
    import spark.implicits._
    val scored = Seq((1L, 2L, 0.5), (2L, 1L, 0.5)).toDF("q", "c", "cosine")
    val tk = plan(graft.operators.TopKPerKey(
      scored, Seq("q"), "cosine", "c", k = 10))
    assert(!tk.contains("Window"), tk.take(1500))
    // partial + final aggregate pair around one exchange
    val nAgg = tk.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(nAgg >= 2 && tk.contains("Exchange"), tk.take(1500))
  }

  test("meta agg pushes MIN/MAX/COUNT into the parquet footer scan") {
    // Under the DSv2 path + aggregatePushDown, the scan node itself
    // answers the aggregates (PushedAggregation) — no data pages read.
    val kv = graft.queries.Ops.metaAggConfs
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = plan(graft.queries.Ops.metaAggFrame(spark, sf))
      val pushed = p.linesIterator
        .find(_.contains("PushedAggregation")).getOrElse("")
      assert(pushed.contains("MIN") && pushed.contains("MAX")
        && pushed.toUpperCase.contains("COUNT"),
        "aggregates must reach the footer scan:\n" + p.take(2000))
    } finally olds.foreach { case (k, o) =>
      o.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
  }

  test("nearest-anchor assignment is ONE projection: zero exchange, zero join") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val anchors = e.where(org.apache.spark.sql.functions.col("vec_id") < 4)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toVector)).toSeq
    val p = plan(graft.ext.SimilaritySearch.nearestAnchor(
      e, "vec_id", "embedding", anchors))
    assert(!p.contains("Exchange"), "anchors are literals — no shuffle:\n" + p)
    assert(!p.contains("Join"), "no join either:\n" + p)
  }

  test("domain cap uses the partial-agg heap, never a per-domain window sort") {
    val p = plan(graft.queries.Ext.queries("t_domain_cap")(spark, sf))
    assert(!p.contains("Window"), "no window formulation:\n" + p)
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "k-bounded aggregator expected:\n" + p)
  }

  test("q19 OR-of-ANDs residual stays one broadcast hash join") {
    val p = plan(graft.queries.Relational.q19DiscRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "disjunctive residual must not degrade the equi-join:\n" + p)
  }

  test("q7/q8/q9 keep all dimension joins broadcast (fact shuffle only)") {
    Seq("q7_volume_shipping", "q8_market_share", "q9_product_profit")
      .foreach { q =>
        val p = plan(graft.queries.Relational.queries(q)(spark, sf))
        assert(!p.contains("CartesianProduct"), s"$q:\n$p")
        val bhj = "BroadcastHashJoin".r.findAllIn(p).size
        val smj = "SortMergeJoin".r.findAllIn(p).size
        // at most the lineitem⋈orders fact join may shuffle
        assert(smj <= 1, s"$q: fact-fact join only, got $smj SMJ:\n$p")
        assert(bhj >= 2, s"$q: dims must broadcast:\n$p")
      }
  }

  test("heavy hitters: bounded sketch agg + broadcast semi-join pass 2") {
    val p = plan(graft.queries.Ext.queries("t_heavy_hitters")(spark, sf))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "Misra-Gries sketch must partial-aggregate map-side:\n" + p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "candidate filter must be a broadcast semi join:\n" + p)
  }

  test("k-anonymity joins broadcast the QI-class counts (rows never shuffle)") {
    val p = plan(graft.queries.Ext.queries("t_k_anon")(spark, sf))
    assert(!p.contains("SortMergeJoin"),
      "class-count joins must broadcast:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("pagerank iteration: edge side stays exchange-free after the one-time partition") {
    // One iteration over a toy graph: the edges side was repartitioned
    // by src once; the per-iteration join must reuse that layout (its
    // exchange is the persisted RDD scan, not a fresh edge shuffle).
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r = graft.operators.PageRank.run(e, iterations = 1)
    val p = plan(r)
    assert(!p.contains("CartesianProduct"), p)
    // rank table: one shuffle for the groupBy(dst) aggregation is the
    // designed per-iteration cost; localCheckpoint flattens the rest
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("markov/scd2 windows all partition (ScaleLint-clean, no global sort)") {
    // both event windows partition by user_id; the probability window
    // partitions by src over the aggregated types² frame — none may
    // degrade to an unpartitioned (single-reducer) window
    Seq("ev_markov", "ev_scd2").foreach { q =>
      val p = plan(graft.queries.Events.queries(q)(spark, sf))
      assert(p.contains("Window"), p)
      assert(!p.contains("SinglePartition"),
        s"$q window must never run single-reducer:\n" + p)
    }
  }

  test("concurrency sweep-line: day-partitioned window, broadcast carry-in") {
    val p = plan(graft.queries.Events.evConcurrency(spark, sf))
    // the running-sum window must partition by day (one partition per
    // day's deltas), never a single global timeline reducer
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"),
      "sweep-line window degraded to a single reducer:\n" + p)
    // the non-equi midnight carry-in join must BROADCAST the tiny day
    // list — a CartesianProduct here would be O(sessions × days)
    // shuffled both ways
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("triangles: oriented wedge join + semi-join probe, no cartesian") {
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
    val p = plan(graft.operators.Triangles.count(e))
    assert(p.contains("LeftSemi"),
      "closing-edge probe must stay a semi join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stratified sample: bounded-heap aggregate, never a per-stratum sort") {
    val p = plan(graft.queries.Ext.tStratifiedSample(spark, sf))
    // the top-k must run as the partial-aggregating udaf heap — a
    // Window row_number here would full-sort every stratum partition
    assert(!p.contains("Window"),
      "stratified sample degraded to a window sort:\n" + p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("ab test: one events scan, z on a broadcast 1-row frame") {
    val p = plan(graft.queries.Events.evAbTest(spark, sf))
    assert(!p.contains("Scan parquet"),
      "A/B readout must compute z from the checkpointed 2-row rollup, " +
        "never rescan events:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      "the 1-row z frame must broadcast:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
