package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayDot, ArrayNorm}

/** The graft engine as a session extension — the one way a session
  * gets graft's SQL functions, parser, DML strategy and optimizer
  * rules. [[GraftSession]] sets it; any other session opts in with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   spark.sql.catalog.graft=graft.sources.VtCatalog
  *
  * then `SELECT array_dot(a, b)`, `array_norm(v)`, `array_cosine(a, b)`
  * work from plain SQL text, and the expressions participate in codegen
  * exactly as the Column API forms do.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (children: Seq[Expression]) => ArrayDot(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("array_norm"),
      new ExpressionInfo(classOf[ArrayNorm].getName, "array_norm"),
      (children: Seq[Expression]) => ArrayNorm(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("array_cosine"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_cosine"),
      cosineBuilder))
    // Advisory plan-time scale linter (records + warns, never rewrites).
    // Injected into the AQE RUNTIME optimizer — it sees final
    // (post-main-optimization) plans only, so shapes that later batches
    // would prune away (an unused window, a pushed-down join predicate)
    // don't produce false warnings, which injectOptimizerRule's
    // fixed-point batch placement would.
    ext.injectRuntimeOptimizerRule(_ => graft.plans.ScaleLint)
    // Opt-in approximate-query rewrite (inert without the conf flag):
    // count(DISTINCT x) -> HLL++ sketch, fleet-wide, no query-text edit.
    ext.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // SQL UPDATE / MERGE INTO for versioned catalog tables — lowers
    // the resolved commands onto the transactional Scala verbs.
    ext.injectPlannerStrategy(_ => graft.plans.VtDmlStrategy)
    // Whole-table count/min/max over versioned tables fold to the
    // manifest's exact metadata — zero data files opened. MUST run
    // before the masked-scan rewrite (a DV'd table's count answers
    // from live-row metadata instead of planning the masking read).
    ext.injectOptimizerRule(_ => graft.plans.VtMetadataAgg)
    // ORDER BY col LIMIT k over versioned tables opens only files
    // whose span can reach the provable top-k (needs the raw relation,
    // so it also precedes the masked rewrite).
    ext.injectOptimizerRule(_ => graft.plans.VtTopKRewrite)
    // Join-key dynamic file pruning: a broadcast-class selective
    // build side prunes the versioned probe side's manifest files
    // before the scan starts (star-join DPP at the file level).
    ext.injectOptimizerRule(_ => graft.plans.VtJoinPrune)
    // SQL SELECT over deletion-vector'd / column-mapped versions —
    // swaps the relation for the masking read plan pre-pushdown.
    ext.injectOptimizerRule(_ => graft.plans.VtMaskedScanRewrite)
    // DESCRIBE HISTORY / DESCRIBE DETAIL — the standard audit forms,
    // lowered onto the catalog procedures (construction-time only:
    // Spark builds the session parser once).
    ext.injectParser((_, delegate) =>
      new graft.plans.GraftSqlParser(delegate))
  }
}

object GraftExtensions {
  private val cosineBuilder: Seq[Expression] => Expression = children => {
    val (a, b) = (children(0), children(1))
    org.apache.spark.sql.catalyst.expressions.Divide(
      ArrayDot(a, b),
      org.apache.spark.sql.catalyst.expressions.Multiply(
        ArrayNorm(a), ArrayNorm(b)))
  }

  /** SQL names for the compiled text kernels, for SQL-first users:
    * `SELECT graft_dup_trigram_frac(text) FROM corpus`. These are
    * UDF-backed (the kernels are row-local compiled Scala — the Column
    * API and SQL name share one implementation). */
  def registerTextSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.ext.{TextFunctions => TF, Redaction}
    spark.udf.register("graft_tokens", TF.tokenizeFn)
    spark.udf.register("graft_dup_trigram_frac", TF.dupTrigramFracFn)
    spark.udf.register("graft_top_bigram_frac", TF.topBigramFracFn)
    val winnow2516 = TF.winnowFn(25, 16)
    spark.udf.register("graft_winnow", winnow2516)
    spark.udf.register("graft_redact",
      (text: String) => Redaction.redactString(text))
  }
}
