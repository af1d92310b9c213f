package graftbench

import org.apache.spark.sql.SparkSession

/** One timed operation: `run` does the work, `check` compares its
  * result with an independent reference and returns an error, if any. */
final case class Op(kind: String, run: () => Any, check: Any => Option[String])

/** A closed-loop workload driven by one client thread. */
trait Workload {
  /** Builds the inputs and fixture under `dir`. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit
  /** Untimed preparation after set-up: references and warm-up. */
  def prepare(): Unit = ()
  /** Whether op i closes a cycle of the rotation (every kind once). */
  def cycleEnds(i: Int): Boolean
  /** Nominal op time of one cycle (s). The window runs
    * ceil(`--seconds` / cycleSeconds) whole cycles: a fixed amount of
    * work, so every run measures the same op mix and sample count
    * whatever its speed. */
  def cycleSeconds: Double
  /** The i-th op of the seeded sequence. */
  def next(i: Int): Op
  /** Untimed bookkeeping after op i; returns late failures as
    * (op index, error), e.g. a per-round state check. */
  def afterOp(i: Int, op: Op): Seq[(Int, String)] = Nil
  /** Workload-specific per-layer metrics from traced ops. */
  def layerMetrics(): Map[String, Double] = Map.empty
  /** Extra artifact fields. */
  def artifact(): Map[String, Any] = Map.empty
}

object Hash {
  /** Order-insensitive digest of collected rows: fields in column-name
    * order, rows sorted. */
  def rows(rs: Array[org.apache.spark.sql.Row]): String = {
    if (rs.isEmpty) return "empty"
    val names = rs.head.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val lines = rs.map(r => order.map(i => String.valueOf(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
