package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  CreateStruct, If, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in approximate-query rewrite: `count(DISTINCT x)` →
  * HyperLogLog++ when the session asks for it —
  *
  * {{{
  *   spark.conf.set("spark.graft.approxDistinct.enabled", "true")
  *   spark.conf.set("spark.graft.approxDistinct.rsd", "0.05") // optional
  * }}}
  *
  * Why an optimizer rule and not "just call approx_count_distinct":
  * the queries that hurt at 100 TB are often generated (BI tools,
  * dashboards, ad-hoc SQL) — the flag lets an operator trade exactness
  * for a bounded-error sketch fleet-wide without touching query text.
  * The cost difference is structural: an exact distinct plans as an
  * Expand + two exchanges (or a per-group hash set for high-cardinality
  * keys); the sketch is ONE map-side-combinable aggregate whose state
  * is a few KB per group regardless of cardinality.
  *
  * Scope guards, in order:
  *   - OFF by default; nothing changes without the conf.
  *   - `count(DISTINCT …)` only — other distinct aggregates
  *     (`sum(DISTINCT …)`, where approximation has no error contract)
  *     are left exact.
  *   - multi-column `count(DISTINCT a, b)` rewrites to the sketch over
  *     `struct(a, b)` with the SAME error contract — guarded for SQL
  *     null semantics: `count(DISTINCT a, b)` counts only rows where
  *     EVERY argument is non-null, while `struct(a, b)` is itself
  *     non-null even when a field is, so the struct is nulled out
  *     whenever any argument is null (HLL++ skips null input exactly
  *     like count does).
  *   - a FILTER clause is preserved: the rule runs in the
  *     operator-optimization batch, before `RewriteDistinctAggregates`
  *     expands filtered distincts, so `count(DISTINCT x) FILTER (WHERE
  *     p)` becomes a sketch over the filtered rows with the same error
  *     contract (pinned in ApproxRewriteSpec).
  *
  * The rewrite is idempotent (`isDistinct=false` afterwards), so the
  * optimizer's fixed-point batches converge. Registered via
  * [[graft.GraftExtensions]] `injectOptimizerRule`.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.approxDistinct.enabled"
  val RsdKey = "spark.graft.approxDistinct.rsd"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "false").toBoolean) return plan
    val rsd = conf.getConfString(RsdKey, "0.05").toDouble
    plan.transform { case a: Aggregate =>
      a.transformExpressions {
        case ae @ AggregateExpression(
            Count(Seq(child)), _, true, _, _) =>
          ae.copy(
            aggregateFunction = HyperLogLogPlusPlus(child, rsd),
            isDistinct = false)
        case ae @ AggregateExpression(
            Count(children), _, true, _, _) if children.size > 1 =>
          val tuple = CreateStruct(children)
          // count(DISTINCT a, b) skips rows with ANY null argument;
          // struct(a, b) would smuggle them in as non-null tuples.
          val child =
            if (children.forall(!_.nullable)) tuple
            else If(children.map(IsNull).reduceLeft(Or),
              Literal.create(null, tuple.dataType), tuple)
          ae.copy(
            aggregateFunction = HyperLogLogPlusPlus(child, rsd),
            isDistinct = false)
      }
    }
  }
}
