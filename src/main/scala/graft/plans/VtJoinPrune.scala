package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And,
  AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  GlobalLimit, Join, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import graft.operators.VersionedTable
import graft.operators.VersionedTable.{ExactIn, ExactPred, ExactRange}
import graft.sources.{VtPushdown, VtTable}

/** JOIN-KEY DYNAMIC FILE PRUNING for versioned catalog tables — the
  * manifest-layer analog of Spark's dynamic partition pruning, the
  * classic 100 TB star-join lever: a selective dimension filter
  * (`WHERE d_year = 1995`) should prune FACT-TABLE FILES before the
  * scan starts, not after reading them. When an equi-join's build
  * side is provably small (broadcast-class by plan statistics) and
  * visibly selective (it carries a Filter/limit/aggregate), the rule
  * runs ONE tiny driver job over it — the build keys' exact distinct
  * set under a cap, else their min/max — and keeps only the probe
  * manifest files whose span might hold a matching key. Spark's own
  * DPP pays the same build-side pre-execution when no broadcast
  * exchange is reusable (`reuseBroadcastOnly=false`); here the win is
  * file-level skipping on an unpartitioned table, which partition-DPP
  * cannot do at all.
  *
  * EXACT by construction: pruning only removes files, and only files
  * that provably hold no row with a key in the build set — a
  * null-key probe row never equi-matches, so all-null-key files drop
  * too ([[VersionedTable.pruneEntriesWhere]] semantics). Scope:
  * INNER joins (either side prunable) and LEFT SEMI (left side), the
  * shapes whose output has no unmatched-probe rows; both sides must
  * be batch and deterministic (the build side executes twice —
  * nondeterministic keys could prune wrong). Declines leave the plan
  * untouched. Conf: `spark.graft.dfp.enabled` (default true),
  * `spark.graft.dfp.inSetCap` (default 1000 distinct keys for the
  * exact IN-set; beyond it min/max range pruning). */
object VtJoinPrune extends Rule[LogicalPlan] {

  /** Re-entrance guard: executing the build side runs the optimizer
    * (and this rule) on its plan — nested firings could cascade
    * driver jobs during a driver job's planning. */
  private val inFlight = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (inFlight.get()) return plan
    if (plan.isStreaming) return plan
    val spark = SparkSession.active
    if (!spark.conf.get("spark.graft.dfp.enabled", "true").toBoolean)
      return plan
    plan.transformWithSubqueries {
      case j @ Join(left, right, Inner, Some(cond), _) =>
        tryPrune(j, left, right, cond, canPruneLeft = true,
          canPruneRight = true)
      case j @ Join(left, right, LeftSemi, Some(cond), _) =>
        tryPrune(j, left, right, cond, canPruneLeft = true,
          canPruneRight = false)
    }
  }

  private def tryPrune(j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: Expression, canPruneLeft: Boolean,
      canPruneRight: Boolean): LogicalPlan = {
    val keys = equiKeys(cond)
    if (keys.isEmpty) return j
    val leftIds = left.outputSet
    def attempt(probe: LogicalPlan, build: LogicalPlan,
        probeIsLeft: Boolean): Option[LogicalPlan] = {
      val (relNode, t, relOut) = vtUnder(probe).getOrElse(return None)
      if (!buildLooksSelective(build) || !smallEnough(build) ||
          build.isStreaming || hasNonDeterministic(build))
        return None
      // an equi-key pair anchored to the probe relation's own column
      val pair = keys.flatMap { case (a, b) =>
        val (pk, bk) = if (probeIsLeft == leftIds.contains(a.toAttribute))
          (a, b) else (b, a)
        (pk, bk) match {
          case (p: AttributeReference, bb: AttributeReference)
              if relOut.exists(_.exprId == p.exprId) &&
                build.outputSet.contains(bb) && supported(p.dataType) =>
            Some((p, bb))
          case _ => None
        }
      }.headOption.getOrElse(return None)
      val (probeKey, buildKey) = pair
      prunePred(build, buildKey, probeKey).flatMap { pred =>
        val entries = VtFiles.entriesOf(t).getOrElse(return None)
        if (entries.size < 2) return None
        val kept = VersionedTable
          .pruneEntriesWhere(entries, Seq(pred)).map(_.name).toSet
        if (kept.size >= entries.size) return None
        VtFiles.sliceOf(t, kept, relOut).map(remap =>
          j.transformUp { case n if n eq relNode => remap })
      }
    }
    val viaLeft =
      if (canPruneLeft) attempt(left, right, probeIsLeft = true)
      else None
    viaLeft.orElse {
      if (canPruneRight) attempt(right, left, probeIsLeft = false)
      else None
    }.getOrElse(j)
  }

  /** conjunct EqualTo pairs with attributes on opposite sides. */
  private def equiKeys(cond: Expression)
      : Seq[(AttributeReference, AttributeReference)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(cond).collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        (a, b)
    }
  }

  /** The probe side's versioned relation beneath row-preserving OR
    * row-REMOVING wrappers — a Filter above the relation is fine
    * (pruning only narrows the file set beneath it). */
  private def vtUnder(p: LogicalPlan)
      : Option[(LogicalPlan, VtTable, Seq[AttributeReference])] =
    p match {
      case Project(_, c) => vtUnder(c)
      case SubqueryAlias(_, c) => vtUnder(c)
      case Filter(_, c) => vtUnder(c)
      case r: DataSourceV2Relation => r.table match {
        case t: VtTable =>
          Some((r, t, r.output.map(_.asInstanceOf[AttributeReference])))
        case _ => None
      }
      case _ => None
    }

  /** The star-join signal: a bare table as build side prunes nothing
    * (its key range spans everything) but still costs a job —
    * require a Filter / limit / aggregate / literal relation. */
  private def buildLooksSelective(b: LogicalPlan): Boolean =
    b.exists {
      case _: Filter | _: Aggregate | _: GlobalLimit |
           _: LocalRelation => true
      case _ => false
    }

  private def smallEnough(b: LogicalPlan): Boolean = {
    val thr = conf.autoBroadcastJoinThreshold
    val cap = if (thr > 0) thr else 8L << 20
    b.stats.sizeInBytes <= BigInt(cap)
  }

  private def hasNonDeterministic(b: LogicalPlan): Boolean =
    b.exists(p => p.expressions.exists(e => !e.deterministic))

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | DoubleType | FloatType =>
      true
    case s: StringType => s == StringType // binary collation only
    case _: DecimalType => true
    case _ => false
  }

  /** Execute the build side (one tiny driver job — it is broadcast-
    * class by stats) and derive the probe-file predicate: the exact
    * distinct key set under the cap, else the key min/max range. */
  private def prunePred(build: LogicalPlan,
      buildKey: AttributeReference,
      probeKey: AttributeReference): Option[ExactPred] = {
    val spark = SparkSession.active
    val cap = spark.conf.get("spark.graft.dfp.inSetCap", "1000").toInt
    inFlight.set(true)
    try {
      val distinctPlan = GlobalLimit(
        org.apache.spark.sql.catalyst.expressions.Literal(cap + 1),
        org.apache.spark.sql.catalyst.plans.logical.LocalLimit(
          org.apache.spark.sql.catalyst.expressions.Literal(cap + 1),
          Aggregate(Seq(buildKey), Seq(buildKey), build)))
      val rows = Bridge.ofRows(spark, distinctPlan)
        .queryExecution.executedPlan.executeCollect()
      if (rows.length <= cap) {
        // null keys never equi-match: they drop out of the set
        val vals = rows.toSeq.flatMap(r =>
          VtPushdown.span(r.get(0, buildKey.dataType), buildKey.dataType))
        // an empty build side: the join output is empty; ExactIn(empty)
        // prunes every file and the subset read returns zero rows
        Some(ExactIn(probeKey.name, vals))
      } else {
        import org.apache.spark.sql.catalyst.expressions.aggregate.{
          AggregateExpression, Complete, Max, Min}
        val mn = Alias(AggregateExpression(Min(buildKey), Complete,
          isDistinct = false), "mn")()
        val mx = Alias(AggregateExpression(Max(buildKey), Complete,
          isDistinct = false), "mx")()
        val r = Bridge.ofRows(spark,
          Aggregate(Nil, Seq(mn, mx), build))
          .queryExecution.executedPlan.executeCollect().head
        for {
          lo <- VtPushdown.span(r.get(0, buildKey.dataType), buildKey.dataType)
          hi <- VtPushdown.span(r.get(1, buildKey.dataType), buildKey.dataType)
        } yield ExactRange.between(probeKey.name, lo, hi)
      }
    } catch {
      case scala.util.control.NonFatal(_) => None
    } finally inFlight.set(false)
  }
}
