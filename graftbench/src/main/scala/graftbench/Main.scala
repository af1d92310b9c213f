package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one JVM, one client thread, Spark `local[N]`.
  *
  *   graftbench.Main --workload W --seed S --seconds T --trace 0|1
  *     --work DIR --out FILE [--perturb]
  *
  * Set-up builds the session, the inputs and the fixture, then warms the
  * workload up; `setup_s` runs from JVM start to the first timed op.
  * Then a closed loop runs the workload's seeded op sequence for a fixed
  * number of whole rotation cycles: T seconds of op time at the
  * workload's nominal cycle length, rounded up (T = 0: set-up only). With
  * `--trace 1` every op is traced (spans, Spark listener, query execution
  * listener) and the run reports per-layer metrics; its `trace.ops_per_s`
  * against an untraced run's `ops_per_s` gives the tracing overhead.
  * Writes the run's artifact (metrics, per-op latencies, failures,
  * environment) as JSON to FILE. */
object Main {
  /** Per-layer metrics (name -> unit); every traced run reports all. */
  val PerLayer: Seq[(String, String)] = Seq(
    "plans.plan_ms" -> "ms", "plans.plan_frac" -> "frac",
    "plans.fold_frac" -> "frac", "plans.files_opened_per_read" -> "count",
    "plans.files_pruned_frac" -> "frac",
    "vt.append_ms" -> "ms", "vt.delete_ms" -> "ms", "vt.update_ms" -> "ms",
    "vt.merge_ms" -> "ms", "vt.maintain_ms" -> "ms", "vt.manifest_read_ms" -> "ms",
    "vt.manifest_bytes_per_commit" -> "B", "vt.data_bytes_per_commit" -> "B",
    "vt.live_files" -> "count", "vt.dv_masked_frac" -> "frac",
    "vt.entries_cache_hits_per_op" -> "count", "vt.segment_cache_hits_per_op" -> "count",
    "vt.write_amp" -> "ratio", "vt.space_amp" -> "ratio",
    "view.sync_ms" -> "ms", "spark.storage_mem_growth_mb" -> "MB",
    "ext.minhash_ms" -> "ms", "ext.embed_pairs_ms" -> "ms",
    "ext.components_ms" -> "ms", "ext.topk_ms" -> "ms",
    "ext.knn_mutual_ms" -> "ms", "ext.ivf_topk_ms" -> "ms",
    "ext.kept_per_candidate" -> "frac",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.exec_run_s_per_op" -> "s",
    "spark.exec_cpu_s_per_op" -> "s", "spark.busy_frac" -> "frac",
    "spark.shuffle_read_mb_per_op" -> "MB", "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_failures" -> "count",
    "driver.nonjob_ms" -> "ms", "driver.gc_ms" -> "ms",
    "self.plans_share" -> "frac", "self.vt_share" -> "frac",
    "self.view_share" -> "frac", "self.ext_share" -> "frac",
    "self.spark_share" -> "frac", "self.driver_share" -> "frac",
    "trace.ops_per_s" -> "1/s")

  /** Span names whose median duration is a per-layer latency metric. */
  private val SpanLatency = Seq("vt.append", "vt.delete", "vt.update",
    "vt.merge", "vt.maintain", "view.sync",
    "ext.minhash", "ext.embed_pairs", "ext.components", "ext.topk",
    "ext.knn_mutual", "ext.ivf_topk")

  final case class OpRec(i: Int, kind: String, ms: Double, gcMs: Double,
      var error: Option[String])

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1fs] $msg")

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** The library's session factory plus bench-only extras. */
  def session(work: String): SparkSession = {
    val spark = graft.GraftSession.builder("graftbench", Some(s"local[$cores]"),
      extraConf = Map(
        "spark.sql.catalog.graft" -> "graft.sources.VtCatalog",
        "spark.sql.warehouse.dir" -> s"$work/warehouse",
        "spark.local.dir" -> s"$work/spark-local",
        "spark.ui.retainedJobs" -> "50",
        "spark.ui.retainedStages" -> "50",
        "spark.ui.retainedTasks" -> "1000",
        "spark.sql.ui.retainedExecutions" -> "20")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.registerTextSql(spark)
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def readFile(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))).trim catch { case _: Throwable => "" }

  /** cpu totals from /proc/stat: (total, iowait, steal) jiffies. */
  private def cpuStat(): (Long, Long, Long) = {
    val f = readFile("/proc/stat").split("\n").headOption.getOrElse("")
      .split("\\s+").drop(1).flatMap(_.toLongOption)
    if (f.length < 8) (0L, 0L, 0L) else (f.sum, f(4), f(7))
  }
  private def load(): Map[String, Any] = {
    val f = readFile("/proc/loadavg").split("\\s+")
    if (f.length < 4) Map.empty
    else Map("loadavg_1m" -> f(0).toDouble, "loadavg_5m" -> f(1).toDouble,
      "runnable" -> f(3).split('/')(0).toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val perturb = a.getOrElse("perturb", "0") == "1"
    val w: Workload = workload match {
      case "olap_read" => new OlapRead
      case "vt_churn" => new VtChurn(perturb)
      case "ml_curate" => new MlCurate(perturb)
      case other => sys.error(s"unknown workload $other")
    }
    val load0 = load()
    val cpu0 = cpuStat()

    // ---- set-up: session, inputs, fixture, warm-up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    w.setup(spark, seed, work)
    val fixtureS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(s"inputs and fixture ready: $fixtureS s")
    val sc = spark.sparkContext
    w.prepare()
    val listener = new OpListener
    if (trace) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    log(s"set-up done: $setupS s")

    // ---- measured window: a fixed number of whole cycles (op time;
    // checks and bookkeeping pause the clock)
    val cycles = math.ceil(seconds / w.cycleSeconds).toInt
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val cacheHits = mutable.Map.empty[Int, (Long, Long)]
    var done = 0
    var i = 0
    var gcNs, checkNs = 0L
    val storage0 = storageMb(spark)
    val window0 = System.nanoTime()
    while (done < cycles) {
      val op = w.next(i)
      if (i == 0 || w.cycleEnds(i - 1)) {
        // each cycle starts on a collected heap: no earlier cycle's
        // garbage (or unreferenced checkpoint blocks) is paid inside it
        val b0 = System.nanoTime()
        System.gc()
        gcNs += System.nanoTime() - b0
      }
      val g = s"op-$i"
      if (trace) sc.setJobGroup(g, op.kind)
      Trace.on = trace
      Trace.opId = i
      val e0 = graft.operators.VersionedTable.entriesCacheHits
      val s0 = graft.operators.VersionedTable.segmentCacheHits
      val gc0 = gcMs()
      val wall0 = System.currentTimeMillis()
      if (trace) listener.opWindows.put(g, (wall0, Long.MaxValue))
      val t0 = System.nanoTime()
      val res = scala.util.Try(Trace.span("op." + op.kind)(op.run()))
      val dt = System.nanoTime() - t0
      if (trace) listener.opWindows.put(g, (wall0, System.currentTimeMillis()))
      Trace.on = false
      val gc1 = gcMs()
      cacheHits(i) = (graft.operators.VersionedTable.entriesCacheHits - e0,
        graft.operators.VersionedTable.segmentCacheHits - s0)
      val c0 = System.nanoTime()
      val err = res match {
        case scala.util.Failure(e) => Some(s"${op.kind}: $e")
        case scala.util.Success(v) =>
          try op.check(v) catch { case e: Throwable => Some(s"${op.kind} check: $e") }
      }
      recs += OpRec(i, op.kind, dt / 1e6, gc1 - gc0, err)
      w.afterOp(i, op).foreach { case (j, e) =>
        recs.find(_.i == j).foreach(r => if (r.error.isEmpty) r.error = Some(e))
      }
      checkNs += System.nanoTime() - c0
      if (w.cycleEnds(i)) done += 1
      i += 1
    }
    val windowS = (System.nanoTime() - window0) / 1e9
    sc.clearJobGroup()
    log(s"window done: ${recs.size} ops, $cycles cycles")
    if (trace) org.apache.spark.graftbench.Bus.drain(sc)
    val storage1 = storageMb(spark)
    val load1 = load()
    val cpu1 = cpuStat()

    // ---- end-to-end metrics
    val ok = recs.filter(_.error.isEmpty)
    val byKind = ok.groupBy(_.kind)
    val medians = byKind.map { case (k, rs) => k -> median(rs.map(_.ms).toSeq) }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("ops_per_s") = (ok.size / (recs.map(_.ms).sum / 1000.0), "1/s")
      metrics("op_gmean_ms") = (gmean(medians.values.toSeq), "ms")
    }

    // ---- per-layer metrics (traced runs)
    var perKindSpark = Map.empty[String, Map[String, Double]]
    if (trace) {
      val n = recs.size.max(1).toDouble
      val wallMs = recs.map(_.ms).sum
      val accs = recs.map(r => r -> Option(listener.accs.get(s"op-${r.i}")).getOrElse(new OpAcc))
      val qes = accs.flatMap(_._2.qes)
      def sumL(f: OpAcc => Long) = accs.map(x => f(x._2)).sum.toDouble
      val spanMed = Trace.spans.groupBy(_.name).map { case (k, ss) =>
        k -> median(ss.map(s => (s.endNs - s.startNs) / 1e6).toSeq)
      }
      SpanLatency.foreach(s => metrics(s + "_ms") = (spanMed.getOrElse(s, 0.0), "ms"))
      val planMs = qes.map(Plans.planMs).sum
      metrics("plans.plan_ms") = (planMs / n, "ms")
      metrics("plans.plan_frac") = (planMs / wallMs.max(1e-9), "frac")
      val scans = qes.map(Plans.scans)
      metrics("plans.files_opened_per_read") =
        (scans.map(_._2).sum.toDouble / scans.map(_._1).sum.max(1), "count")
      if (workload == "ml_curate") {
        val fr = qes.map(Plans.filterRows)
        metrics("ext.kept_per_candidate") =
          (fr.map(_._1).sum.toDouble / fr.map(_._2).sum.max(1L), "frac")
      }
      metrics("spark.jobs_per_op") = (sumL(_.jobs) / n, "count")
      metrics("spark.stages_per_op") = (sumL(_.stages) / n, "count")
      metrics("spark.tasks_per_op") = (sumL(_.tasks) / n, "count")
      metrics("spark.exec_run_s_per_op") = (sumL(_.runMs) / 1000.0 / n, "s")
      metrics("spark.exec_cpu_s_per_op") = (sumL(_.cpuNs) / 1e9 / n, "s")
      metrics("spark.busy_frac") = (sumL(_.runMs) / (wallMs * cores).max(1e-9), "frac")
      metrics("spark.shuffle_read_mb_per_op") = (sumL(_.shuffleRead) / 1e6 / n, "MB")
      metrics("spark.shuffle_write_mb_per_op") = (sumL(_.shuffleWrite) / 1e6 / n, "MB")
      metrics("spark.spill_mb") = (sumL(_.spill) / 1e6, "MB")
      metrics("spark.task_failures") = (sumL(_.taskFailures), "count")
      metrics("spark.storage_mem_growth_mb") = (storage1 - storage0, "MB")
      val nonjob = accs.map { case (r, acc) =>
        val (a0, a1) = Option(listener.opWindows.get(s"op-${r.i}")).getOrElse((0L, 0L))
        r.ms - covered(acc.jobSpans.toSeq, a0, a1)
      }
      metrics("driver.nonjob_ms") = (nonjob.sum / n, "ms")
      // per op kind: where its wall time goes (artifact only)
      perKindSpark = accs.zip(nonjob).groupBy(_._1._1.kind).map { case (k, xs) =>
        def med(f: OpAcc => Double) = median(xs.map(x => f(x._1._2)).toSeq)
        k -> Map("wall_ms" -> median(xs.map(_._1._1.ms).toSeq),
          "jobs" -> med(_.jobs.toDouble), "tasks" -> med(_.tasks.toDouble),
          "exec_run_ms" -> med(_.runMs.toDouble), "exec_cpu_ms" -> med(_.cpuNs / 1e6),
          "nonjob_ms" -> median(xs.map(_._2).toSeq))
      }
      metrics("driver.gc_ms") = (recs.map(_.gcMs).sum / n, "ms")
      metrics("vt.entries_cache_hits_per_op") = (recs.map(r => cacheHits(r.i)._1).sum / n, "count")
      metrics("vt.segment_cache_hits_per_op") = (recs.map(r => cacheHits(r.i)._2).sum / n, "count")
      val self = Trace.selfMs
      def share(prefix: String) =
        self.filter(_._1.startsWith(prefix)).values.sum / wallMs.max(1e-9)
      Seq("plans", "vt", "view", "ext", "spark").foreach(p =>
        metrics(s"self.${p}_share") = (share(p + "."), "frac"))
      metrics("self.driver_share") = (share("op."), "frac")
      metrics("trace.ops_per_s") =
        (recs.count(_.error.isEmpty) / (wallMs / 1000.0).max(1e-9), "1/s")
      w.layerMetrics().foreach { case (k, v) =>
        metrics(k) = (v, PerLayer.find(_._1 == k).map(_._2).getOrElse(""))
      }
      PerLayer.foreach { case (k, u) => if (!metrics.contains(k)) metrics(k) = (0.0, u) }
      Files.writeString(Paths.get(s"$work/spans.jsonl"), Trace.spans.map(s =>
        Json.of(Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("\n"))
    }

    // ---- artifact
    def pct(xs: Seq[Double]): Map[String, Any] = {
      val s = xs.sorted
      val p = Seq(99.9, 99.0, 95.0, 90.0, 50.0).find(p => s.size * (1 - p / 100) >= 10)
      Map("n" -> s.size, "median_ms" -> median(s)) ++ p.map(p =>
        "p" + p.toString.stripSuffix(".0") + "_ms" ->
          s(math.min(s.size - 1, math.ceil(p / 100 * s.size).toInt - 1))).toMap ++
        Map("top_percentile" -> p.getOrElse("none"))
    }
    // latency relative to its kind's median, for kinds sampled twice or more
    val kindMed = recs.groupBy(_.kind).filter(_._2.size >= 2).map { case (k, v) => k -> median(v.map(_.ms).toSeq) }
    def rel(rs: Iterable[OpRec]) = rs.flatMap(r => kindMed.get(r.kind).map(r.ms / _)).toSeq
    val (first, last) = (rel(recs.take(recs.size / 3)), rel(recs.takeRight(recs.size / 3)))
    val (tot0, io0, st0) = cpu0
    val (tot1, io1, st1) = cpu1
    val dTot = (tot1 - tot0).max(1L).toDouble
    val runtime = ManagementFactory.getRuntimeMXBean
    val art = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> recs.size, "failed" -> recs.count(_.error.nonEmpty),
      "failures" -> recs.flatMap(_.error).take(20).toSeq,
      "counts_per_kind" -> recs.groupBy(_.kind).map { case (k, rs) =>
        k -> Map("attempted" -> rs.size, "failed" -> rs.count(_.error.nonEmpty)) },
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup_s" -> setupS, "fixture_s" -> fixtureS, "warmup_s" -> (setupS - fixtureS),
      "cycles" -> cycles, "window_wall_s" -> windowS,
      "window_op_s" -> recs.map(_.ms).sum / 1000.0,
      "window_gc_s" -> gcNs / 1e9, "window_check_s" -> checkNs / 1e9,
      "per_kind" -> byKind.map { case (k, rs) => k -> pct(rs.map(_.ms).toSeq) },
      "per_kind_spark" -> perKindSpark,
      "trend_last_over_first_third" ->
        (if (first.isEmpty || last.isEmpty) None else Some(gmean(last) / gmean(first))),
      "env" -> Map(
        "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "load_start" -> load0, "load_end" -> load1,
        "iowait_frac" -> (io1 - io0) / dTot, "steal_frac" -> (st1 - st0) / dTot,
        "jvm_args" -> runtime.getInputArguments.asScala.toSeq,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap),
      "ops" -> recs.map(r => Seq(r.kind, r.ms, r.gcMs, r.error.isEmpty)),
      "workload_detail" -> w.artifact())
    Files.writeString(Paths.get(a("out")), Json.of(art))
    spark.stop()
  }

  /** ms of [a0, a1] covered by the union of job intervals. */
  private def covered(spans: Seq[(Long, Long)], a0: Long, a1: Long): Double = {
    var cov = 0L
    var end = a0
    spans.map { case (s, e) => (math.max(s, a0), math.min(e, a1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { cov += e - math.max(s, end); end = e }
      }
    cov.toDouble
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6
}

/** Minimal JSON writer for the artifact. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def of(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => of(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => of(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + of(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(of).mkString("[", ",", "]")
    case xs: Array[_] => of(xs.toSeq)
    case x => str(x.toString)
  }
}
