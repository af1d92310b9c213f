package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Read-only analytic SQL: a seeded rotation of the engine's relational
  * and event query builders over sf0.02-sized tables. Planning (`plans`,
  * the graft optimizer rules) and Spark scan/shuffle/join/window
  * execution do the work; the manifest layer and `ext` do none, so this
  * is the control workload for versioned-table and kernel changes.
  *
  * Each query's first result is written for the DuckDB oracle check (run
  * by the launcher after the JVM exits); every timed execution must
  * reproduce that result's digest. */
final class OlapRead extends Workload {
  type Q = (SparkSession, String) => DataFrame
  private val picked = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "q18_large_volume", "ev_sessions", "ev_funnel")
  private lazy val all: Map[String, Q] =
    graft.queries.Relational.queries ++ graft.queries.Events.queries
  /** Table scale: 120k lineitem rows. */
  private val Sf = 0.02
  override def cycleEnds(i: Int): Boolean = (i + 1) % picked.size == 0
  def cycleSeconds: Double = 5.0

  private var spark: SparkSession = _
  private var dir: String = _
  private var seed = 0L
  private val digest = mutable.Map.empty[String, String]
  private var order: IndexedSeq[String] = IndexedSeq.empty

  def setup(s: SparkSession, seed: Long, dir: String): Unit = {
    spark = s
    this.dir = dir
    this.seed = seed
    Gen.writeTables(s, seed, Sf, s"$dir/tables")
  }

  override def prepare(): Unit = {
    val oracles = graft.SparkEntry.oracleSql
    // one execution per query warms it; its rows are the reference
    picked.foreach { n =>
      val df = all(n)(spark, s"$dir/tables")
      val rows = df.collect()
      digest(n) = Hash.rows(rows)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(s"$dir/results/$n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/results/oracles.json"),
      Json.of(picked.map(n => n -> oracles(n)).toMap))
    // seeded rotation: every kind once per cycle, in a fresh order
    val r = new scala.util.Random(seed)
    order = (0 until 64).flatMap(_ => r.shuffle(picked))
  }

  def next(i: Int): Op = {
    val n = order(i % order.size)
    Op(n, () => {
      val df = Trace.span("plans.build")(all(n)(spark, s"$dir/tables"))
      Trace.span("plans.plan")(df.queryExecution.executedPlan)
      Trace.span("spark.exec")(df.collect())
    }, r => {
      val h = Hash.rows(r.asInstanceOf[Array[Row]])
      if (h == digest(n)) None else Some(s"$n: digest $h != ${digest(n)}")
    })
  }

  override def artifact(): Map[String, Any] =
    Map("results_dir" -> s"$dir/results", "tables_dir" -> s"$dir/tables")
}
