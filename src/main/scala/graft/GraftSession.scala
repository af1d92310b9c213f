package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Scala analog of the reference's class-configured session builder
  * (ref: oarphpy/spark.py:472-791): a config-preset object resolving the
  * master from the environment, scale-aware defaults, and a loan-pattern
  * `withSession { spark => ... }`.
  *
  * Defaults are chosen for the 100 TB mandate but sized for local[N]
  * testing:
  *   - AQE on (runtime re-plan, skew-join splitting, partition coalesce)
  *   - shuffle.partitions = the master's thread count in local mode
  *     (cluster: 200, left to AQE to coalesce)
  *   - maxPartitionBytes 128m (the reference's 8 MB hint is tuned for
  *     Python-worker overhead, which does not exist on the JVM; 128m is
  *     the right scan granularity for executor-sized JVM tasks — ref
  *     oarphpy/spark.py:509-511 documents the intent, not the value)
  */
object GraftSession {

  /** Number of local cores to use when no master is configured. */
  def defaultLocalCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `spark.sql.shuffle.partitions` for a resolved master: `local[N]`
    * runs N threads, `local`/`local[*]` get `cores`, a cluster 200. */
  def shufflePartitionsFor(master: String, cores: Int): Int = {
    val LocalN = """local\[(\d+)(?:,\d+)?\]""".r
    val LocalAll = """local(?:\[\*(?:,\d+)?\])?""".r
    master match {
      case LocalN(n) => n.toInt
      case LocalAll() => cores
      case _ => 200
    }
  }

  def builder(
      appName: String = "graft",
      master: Option[String] = None,
      extraConf: Map[String, String] = Map.empty): SparkSession.Builder = {
    val m = master
      .orElse(sys.env.get("SPARK_MASTER"))
      .getOrElse(s"local[$defaultLocalCores]")
    val shufflePartitions = shufflePartitionsFor(m, defaultLocalCores)
    // Local mode reads small single-file tables: split scans finely so
    // stage-1 parallelizes (cluster default 128m stands elsewhere).
    val maxPartitionBytes = if (m.startsWith("local")) "4m" else "128m"
    val b = SparkSession.builder()
      .appName(appName)
      .master(m)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "zstd")
      // INT64 micros, not the deprecated INT96: footer statistics (and
      // hence manifest spans/folds) exist for TIMESTAMP columns only
      // under INT64 — the Delta/Iceberg writer posture.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // TIMESTAMP(NANOS) parquet columns read as raw longs (the events
      // fixture needs it; setting it per read invalidates plan caches).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's SQL functions, parser, planner strategy and optimizer
      // rules, wired at construction — the only way a session gets them.
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // versioned tables by path from SQL: SELECT * FROM graft.`/t`
      .config("spark.sql.catalog.graft",
        classOf[graft.sources.VtCatalog].getName)
    extraConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
  }

  def getOrCreate(
      appName: String = "graft",
      master: Option[String] = None,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val spark = builder(appName, master, extraConf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // UDF-backed text kernels can't ride spark.sql.extensions (they are
    // session-level registrations, not expression builders) — register
    // on the built session so `SELECT graft_redact(...)` etc. always
    // work from SQL in graft sessions.
    GraftExtensions.registerTextSql(spark)
    spark
  }

  /** Loan pattern: run `body` with a session, stop it afterwards
    * (ref: oarphpy/spark.py:775-783 `sess()` context manager). */
  def withSession[T](appName: String = "graft")(body: SparkSession => T): T = {
    val spark = getOrCreate(appName)
    try body(spark)
    finally spark.stop()
  }
}
