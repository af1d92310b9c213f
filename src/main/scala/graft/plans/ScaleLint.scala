package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan-time scale linter — custom-operator ladder step (c): a
  * `Rule[LogicalPlan]` that TRANSFORMS NOTHING but flags the plan
  * shapes that are correct on a laptop and catastrophic on a cluster:
  *
  *   - `unpartitioned-window`: `Window.orderBy(..)` with no partition
  *     spec — "WindowExec: No Partition Defined": every row moves to ONE
  *     reducer. The engine's own queries rank via GlobalRank instead;
  *     this catches user queries that don't.
  *   - `cross-join`: an explicit CROSS or condition-less join — O(|L|×|R|)
  *     output. Sometimes intentional (tiny broadcast side, e.g. the
  *     exact ANN baseline); the lint is ADVISORY, it never blocks.
  *   - `unclustered-partitioned-write`: `partitionBy(...)` whose input
  *     is not clustered on the partition columns — every task then
  *     writes a file into EVERY partition directory (tasks × partitions
  *     small files; found in the wild on this engine's own at-rest ANN
  *     index, where it measurably erased the pruning benefit). The fix
  *     is a `repartition(partitionCols)` before the write.
  *
  * Findings are recorded (bounded, deduplicated) and log-warned at plan
  * time — failing in the optimizer beats failing three hours into a
  * 1000-executor stage. Attach at build time via
  * `spark.sql.extensions=graft.GraftExtensions` or at runtime with
  * `ScaleLint.attach(spark)`.
  */
object ScaleLint extends Rule[LogicalPlan] {

  case class Finding(kind: String, detail: String)

  private val MaxFindings = 1000
  private val buf =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Finding]()

  def findings: Seq[Finding] = {
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }
  def clear(): Unit = buf.clear()

  /** Runtime attachment (public API; survives session reuse). A no-op
    * on a session built with `graft.GraftExtensions`, which already runs
    * the lint in AQE's runtime optimizer: a second copy would lint every
    * query twice, at two placements. */
  def attach(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.extensions").exists(
          _.split(",").map(_.trim).contains("graft.GraftExtensions")) &&
        !spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  private def record(kind: String, detail: String): Unit = {
    val f = Finding(kind, detail)
    if (buf.size < MaxFindings && buf.add(f))
      logWarning(s"[scale-lint] $kind: $detail")
  }

  /** Remove a previous [[attach]]. */
  def detach(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq this)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // subqueriesAll: EXISTS/IN/scalar subquery plans hide the exact
    // shapes this lint exists for; plain foreach never visits them.
    (plan +: plan.subqueriesAll).foreach(_.foreach {
      case w: Window if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty =>
        record("unpartitioned-window",
          s"window [${w.windowExpressions.map(_.name).mkString(", ")}] " +
            "orders ALL rows on one reducer; partition it or use GlobalRank")
      case j: Join if j.joinType == Cross || j.condition.isEmpty =>
        record("cross-join",
          s"${j.joinType} join with no condition multiplies " +
            "|left| x |right|; ensure one side is provably tiny")
      case cmd: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
          if cmd.partitionColumns.nonEmpty =>
        val pNames = cmd.partitionColumns.map(_.name.toLowerCase).toSet
        // The clustering that matters is the one REACHING the write:
        // walk down through partitioning-preserving nodes only and let
        // the FIRST partitioning-changing node decide (a subtree-wide
        // exists would be silenced by a repartition below a later join
        // that re-shuffles, and would miss that groupBy(partitionCols)
        // already clusters). Hash clustering keeps each partition value
        // in one task only when the shuffle keys are a SUBSET of the
        // partition columns.
        import org.apache.spark.sql.catalyst.plans.logical._
        def keyed(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean = {
          val refs = exprs.flatMap(_.references.map(_.name.toLowerCase)).toSet
          refs.nonEmpty && refs.subsetOf(pNames)
        }
        @annotation.tailrec
        def clustered(p: LogicalPlan): Boolean = p match {
          case r: RepartitionByExpression => keyed(r.partitionExpressions)
          case r: RebalancePartitions => keyed(r.partitionExpressions)
          case a: Aggregate => keyed(a.groupingExpressions)
          case pr: Project => clustered(pr.child)
          case f: Filter => clustered(f.child)
          case sa: SubqueryAlias => clustered(sa.child)
          case s: Sort if !s.global => clustered(s.child)
          // V1Writes wraps the input in WriteFiles (+ a local sort on
          // the partition columns): both partitioning-transparent.
          case w: org.apache.spark.sql.execution.datasources.WriteFiles =>
            clustered(w.child)
          // AQE's runtime optimizer sees a materialized shuffle as a
          // query stage over the logical subtree it planned
          case q: org.apache.spark.sql.execution.adaptive.LogicalQueryStage =>
            clustered(q.logicalPlan)
          case _ => false // unknown/partitioning-changing: assume not
        }
        if (!clustered(cmd.query)) record("unclustered-partitioned-write",
          s"partitionBy(${cmd.partitionColumns.map(_.name).mkString(", ")}) " +
            "without clustering the input on those columns writes " +
            "tasks x partitions small files; repartition(partitionCols) first")
      case _ =>
    })
    plan
  }
}
