package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Attribute, AttributeReference, Cast, Coalesce, Divide, EqualTo, EvalMode, ExprId, Expression, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, HyperLogLogPlusPlus, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecificInternalRow}
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.VersionedTable
import graft.sources.{VtPushdown, VtTable}

/** METADATA-ONLY AGGREGATES over versioned catalog tables: a whole-
  * table `SELECT count(*)` (and `min`/`max` of a stats-indexed
  * column) folds to a [[LocalRelation]] computed from the version's
  * manifest — zero data files opened. At 100 TB that is the
  * difference between a multi-minute 800k-file scan and a
  * milliseconds-scale manifest read (the Delta/Iceberg
  * metadata-query posture); the manifest row counts and footer-
  * harvested spans are exact by construction, so this is never an
  * approximation.
  *
  * ONE FOLD PATH per aggregate form: a whole-table aggregate is the
  * WHERE fold under a vacuous WHERE (every file all-in), so it folds
  * to a [[LocalRelation]] exactly when metadata answers every file,
  * and otherwise scans only the files metadata cannot answer. The
  * grouped fold shares the same aggregate-shape recognizer.
  *
  * STRICTLY EXACT-OR-UNTOUCHED:
  *   - only an [[Aggregate]] whose every output is a non-distinct,
  *     unfiltered `count(1)`/`count(*)`, `count(col)`
  *     (= Σ per file rows − nulls, from the manifest's null counts),
  *     a `min`/`max` of a plain relation column, a LEGACY-mode
  *     `sum(col)` of an integral/decimal stats column (= Σ of the
  *     write-time per-file exact sums: integral results re-wrap mod
  *     2^64 exactly as Spark's long accumulation does, decimal
  *     results re-apply the final fit-or-NULL overflow check), or an
  *     `avg(col)` of an integral column under the 2^53 double-
  *     exactness proof (n·max|span| small enough that Spark's
  *     double-accumulated scan is provably exact too), over
  *     (Projects of) the bare relation or exactly one Filter above
  *     it — any join/expression in between blocks the rewrite (a
  *     Project never changes row counts);
  *   - a WHERE folds when EVERY conjunct translates to exact
  *     file-level predicates ([[graft.sources.VtPushdown]]'s exact
  *     path) — ranges, IN, IS NOT NULL, and
  *     DISJUNCTIONS of those ([[VersionedTable.ExactOr]]: a file is
  *     all-in when some OR-alternative provably covers its every
  *     row) — all-in files answer from metadata, all-out contribute
  *     nothing, and only undecidable BOUNDARY files scan (masked,
  *     original predicate re-applied, partials combined via
  *     Add/Least/Greatest);
  *   - a zero-row file never demotes, whatever stats it lacks: it
  *     adds nothing to any shape;
  *   - DELETION VECTORS: counts stay exact everywhere (live rows =
  *     physical − masked; count(col) additionally needs a zero null
  *     count under a DV). min/max use the same hybrid — only DV'd
  *     files whose recorded span could EXTEND past the clean-file
  *     baseline (or with missing spans) rescan, so an interior mask
  *     stays pure metadata and a masked extremum rescans one file;
  *   - column-mapped versions decline named-column folds (logical
  *     names would misalign against physical stats keys), collated
  *     strings and timestamps decline predicate classification
  *     (byte-order / physical-unit hazards).
  *
  * Registered BEFORE [[VtMaskedScanRewrite]] so a DV'd version's
  * whole-table count folds from metadata instead of planning the
  * masking read. */
object VtMetadataAgg extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithSubqueries {
      // ungrouped, or GROUPED metadata counts: GROUP BY one or more
      // plain columns over a table whose files are (mostly)
      // single-valued in them — the daily-partitioned `GROUP BY
      // day[, priority]` shape (and `SELECT DISTINCT g…`, which is the
      // same plan with key-only outputs). Whole-file-keyed files
      // contribute their group's partials from the manifest; undecided
      // files scan and union in.
      case agg @ Aggregate(groups, aggExprs, _, _)
          if aggExprs.nonEmpty &&
            groups.forall(_.isInstanceOf[AttributeReference]) =>
        val fold = if (groups.isEmpty) foldCountWhere _ else foldGrouped _
        def folded(a: Aggregate): LogicalPlan = foldInput(a.child)
          .flatMap { case (cond, t, relOut) => fold(a, cond, t, relOut) }
          .getOrElse(a)
        val direct = folded(agg)
        if (direct ne agg) direct
        else splitWrapped(agg).map { case (outer, inner) =>
          val f = folded(inner)
          if (f ne inner) Project(outer, f) else agg
        }.getOrElse(agg)
    }

  /** `SELECT cast(sum(x) AS double), …` — CollapseProject merges
    * scalar WRAPPERS into the aggregate list, hiding the plain shapes
    * the folds match (it runs ahead of this rule in the same
    * operator-optimization batch, so the collapsed form is what this
    * rule sees). Split them back
    * out: a plain [[Aggregate]] computing each distinct aggregate
    * under a fresh alias, and the wrappers re-anchored on those
    * aliases in a [[Project]] above — the exact inverse of the
    * collapse, applied only when the plain aggregate then actually
    * folds (else the original plan stays untouched). */
  private def splitWrapped(agg: Aggregate)
      : Option[(Seq[NamedExpression], Aggregate)] = {
    val groupAttrs = agg.groupingExpressions.collect {
      case a: AttributeReference => a
    }
    if (groupAttrs.size != agg.groupingExpressions.size) return None
    val hasWrapper = agg.aggregateExpressions.exists {
      case Alias(_: AggregateExpression, _) => false
      case _: AttributeReference => false
      case Alias(child, _) =>
        child.exists(_.isInstanceOf[AggregateExpression])
      case _ => false
    }
    if (!hasWrapper) return None
    val aggs = scala.collection.mutable.ArrayBuffer
      .empty[(AggregateExpression, Alias)]
    def aliasFor(ae: AggregateExpression): Alias =
      aggs.find(_._1.semanticEquals(ae)) match {
        case Some((_, al)) => al
        case None =>
          val al = Alias(ae, s"graft_agg_${aggs.size}")()
          aggs += ae -> al
          al
      }
    val outer: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference => a
      case al @ Alias(child, name) =>
        // an aggregate nested INSIDE another aggregate cannot occur
        // (analyzer-rejected), so a wholesale top-down replace is safe
        val newChild = child.transform {
          case ae: AggregateExpression => aliasFor(ae).toAttribute
        }
        // carry the ORIGINAL alias's qualifier/metadata — the rewrite
        // promises a plan-output-identical split, and dropping
        // explicitMetadata would lose column metadata the unrewritten
        // plan propagates
        Alias(newChild, name)(exprId = al.exprId,
          qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata,
          nonInheritableMetadataKeys = al.nonInheritableMetadataKeys)
      case _ => return None
    }
    if (aggs.isEmpty) return None
    val inner = Aggregate(agg.groupingExpressions,
      groupAttrs ++ aggs.map(_._2), agg.child)
    Some((outer, inner))
  }

  /** The versioned relation beneath row-count-preserving wrappers and
    * at most one [[Filter]], with that Filter's condition — a vacuous
    * TRUE when there is none, so a whole-table aggregate is the WHERE
    * fold with every file all-in. After PushDownPredicates the Filter
    * sits on the relation, so nothing row-changing hides below it.
    * The RELATION's own output attributes come along, so folds anchor
    * their columns by exprId (a surviving Project may alias an
    * arbitrary expression under a stats column's NAME; folding by name
    * alone would answer the wrong column's span). The injected rule
    * runs before V2 scan pushdown, so the relation is still a
    * [[DataSourceV2Relation]] carrying every row. */
  private def foldInput(p: LogicalPlan, cond: Option[Expression] = None)
      : Option[(Expression, VtTable, Seq[Attribute])] = p match {
    case Project(_, c) => foldInput(c, cond)
    case SubqueryAlias(_, c) => foldInput(c, cond)
    case Filter(c, child) if cond.isEmpty => foldInput(child, Some(c))
    case r: DataSourceV2Relation => r.table match {
      case t: VtTable =>
        Some((cond.getOrElse(Literal(true, BooleanType)), t, r.output))
      case _ => None
    }
    case _ => None
  }

  /** Merge the per-file HLL++ register words of `es` (per-register
    * max, via the same [[HyperLogLogPlusPlusHelper]] the scan-side
    * aggregate runs) and evaluate the estimate — the merged buffer is
    * bit-identical to what one pass over those files' rows would have
    * accumulated, because the write tracker hashed every value with
    * the identical function and register merge is an order-free
    * idempotent join. None (decline) when any file that has rows
    * lacks a sketch at the QUERY's register layout (the rsd→word-
    * count mapping is strictly monotone, so a word-count match proves
    * the precision match) or carries a deletion vector (the sketch is
    * PHYSICAL — a masked row's value cannot be subtracted from HLL
    * registers). Zero-row files contribute nothing sketch or not;
    * zero files = the empty buffer = 0, the scan's answer too. */
  private def ndvMerged(es: Seq[graft.operators.VersionedTable.FileEntry],
      col: String, rsd: Double): Option[Long] =
    VersionedTable.ndvEstimate(es, col, rsd)

  /** The merged register WORDS themselves — what [[SeededHll]] seeds
    * the boundary scan's buffer with in the hybrid. One shared
    * decline contract: [[VersionedTable.ndvMergedWords]]. */
  private def ndvMergedWords(
      es: Seq[graft.operators.VersionedTable.FileEntry],
      col: String, rsd: Double): Option[Seq[Long]] =
    VersionedTable.ndvHelperFor(rsd)
      .flatMap(h => VersionedTable.ndvMergedWords(es, col, h))

  /** One aggregate output as the folds see it: a grouping key (grouped
    * fold only) or a foldable aggregate of a relation column. */
  private sealed trait Shape
  private final case class GroupKey(a: AttributeReference) extends Shape
  private case object CountAll extends Shape
  private final case class CountCol(a: AttributeReference) extends Shape
  private final case class Span(a: AttributeReference, lo: Boolean)
    extends Shape
  private final case class SumCol(spec: SumSpec) extends Shape
  private final case class AvgCol(a: AttributeReference) extends Shape
  private final case class DistinctCol(a: AttributeReference)
    extends Shape
  private final case class NdvCol(a: AttributeReference, rsd: Double)
    extends Shape

  /** The shape of every output of `agg`, or None when any output is
    * not foldable. Pure (no I/O): the folds read the manifest only
    * after every output matched. `keys` are the grouping columns'
    * exprIds (empty for an ungrouped aggregate); a grouped aggregate
    * declines `count(DISTINCT)`. Column-mapping gates stay with the
    * callers. */
  private def shapesOf(agg: Aggregate, relIds: Set[ExprId],
      keys: Set[ExprId]): Option[Seq[Shape]] =
    Some(agg.aggregateExpressions.map {
      case a: AttributeReference if keys(a.exprId) => GroupKey(a)
      case Alias(a: AttributeReference, _) if keys(a.exprId) => GroupKey(a)
      // count(*) / count(<non-null literal>) — count(NULL) is 0 by
      // SQL null semantics, never the row count; leave it to the scan
      case Alias(AggregateExpression(
          Count(Seq(Literal(v, _))), Complete, false, None, _), _)
          if v != null => CountAll
      // count(col) = Σ per file (rows − nulls), from the manifest's
      // per-column null counts — the most common profiling aggregate
      // after count(*), answered with zero data files opened
      case Alias(AggregateExpression(
          Count(Seq(a: AttributeReference)), Complete, false, None, _), _)
          if relIds(a.exprId) => CountCol(a)
      case Alias(AggregateExpression(
          Min(a: AttributeReference), Complete, false, None, _), _)
          if spanType(a) && relIds(a.exprId) => Span(a, lo = true)
      case Alias(AggregateExpression(
          Max(a: AttributeReference), Complete, false, None, _), _)
          if spanType(a) && relIds(a.exprId) => Span(a, lo = false)
      // avg(col) = Σ / count(col), under the double-exactness gate
      // (double accumulation never throws, so ANSI == LEGACY here)
      case Alias(ae @ AggregateExpression(
          Average(a: AttributeReference, mode), Complete, false, None,
          _), _)
          if foldableSumMode(mode) && avgType(a) &&
            ae.dataType == DoubleType && relIds(a.exprId) => AvgCol(a)
      // count(DISTINCT col): every file single-valued (or all-null)
      // in col → the distinct set reads straight off the manifest
      case Alias(AggregateExpression(
          Count(Seq(a: AttributeReference)), Complete, true, None, _), _)
          if keys.isEmpty && spanType(a) && relIds(a.exprId) =>
        DistinctCol(a)
      // approx_count_distinct(col): merge the write-time per-file
      // HLL++ register words — BIT-IDENTICAL to the scan's buffer
      // (register max is an order-free idempotent join and the
      // write tracker hashed with the same function), so folding an
      // "approximate" aggregate is still exact-or-untouched
      case Alias(AggregateExpression(
          hll @ HyperLogLogPlusPlus(a: AttributeReference, _, _, _),
          Complete, false, None, _), _)
          if relIds(a.exprId) => NdvCol(a, hll.relativeSD)
      // sum(col) = Σ of the manifest's per-file exact sums (ANSI
      // folds only under the no-partial-overflow proofs)
      case e => SumCol(sumSpecOf(e, relIds).getOrElse(return None))
    })

  /** `count(*)` / `min` / `max` `WHERE <conjuncts>` from metadata + a
    * BOUNDARY-ONLY scan: files every conjunct provably matches in
    * full answer from the manifest (exact — null counts prove no null
    * row hides in an all-in file; for min/max the all-in file's span
    * extrema ARE its matching rows' extrema, since every row
    * matches), provably-out files contribute nothing, and only the
    * undecidable boundary files are scanned (masked/aliased, with the
    * ORIGINAL predicate re-applied; their partial aggregates combine
    * with the metadata side via Add/Least/Greatest). A time-range
    * count over a clustered 100 TB table reads two boundary files
    * instead of the whole overlap. For span shapes an all-in file
    * that carries a deletion vector (a masked row could have held the
    * extremum) or no recorded span demotes to the boundary scan.
    * A whole-table aggregate arrives here with a vacuous TRUE `cond`
    * and folds to a [[LocalRelation]] when no file demotes.
    * Declines (plan untouched) unless every aggregate is a plain
    * count/min/max, every conjunct translates exactly, and metadata
    * actually decided at least one file. */
  private def foldCountWhere(agg: Aggregate, cond: Expression,
      t: VtTable, relOut: Seq[Attribute]): Option[LogicalPlan] = {
    val relIds = relOut.map(_.exprId).toSet
    val shapes = shapesOf(agg, relIds, Set.empty).getOrElse(return None)
    // mapped names would misalign against stats keys
    if (t.vtHasMapping && shapes.exists(_ != CountAll)) return None
    val spanCols = shapes.collect { case Span(a, _) => a.name }.distinct
    val countColAttrs = shapes.collect { case CountCol(a) => a }
      .distinctBy(_.name)
    val countCols = countColAttrs.map(_.name)
    val sumSlots = shapes.collect { case SumCol(sp) => sp }
      .distinctBy(_.a.name)
    val sumCols = sumSlots.map(_.a.name)
    val avgAttrs = shapes.collect { case AvgCol(a) => a }
      .distinctBy(_.name)
    val avgCols = avgAttrs.map(_.name)
    val distinctAttrs = shapes.collect { case DistinctCol(a) => a }
      .distinctBy(_.name)
    val ndvSlots = shapes.collect { case NdvCol(a, r) => (a, r) }
      .distinctBy(p => (p._1.name, p._2))
    // the query-rsd register layout each sketch must match; an
    // unconstructible helper (hostile rsd) declines the fold
    val ndvWords: Map[Double, Int] = ndvSlots.map(_._2).distinct
      .map(r => r -> (try new HyperLogLogPlusPlusHelper(r).numWords
        catch { case scala.util.control.NonFatal(_) => return None }))
      .toMap
    val preds = VtPushdown.toExactPreds(cond, relIds).getOrElse(return None)
    val entries = VtFiles.entriesOf(t).getOrElse(return None)
    val (_, allIn0, boundary0) =
      VersionedTable.countWhereParts(entries, preds)
    // DEMOTE an all-in file with rows to the boundary scan when its
    // metadata cannot answer a requested shape:
    //  (a) a span col's stats were never collected (all-null is fine
    //      — contributes nothing to min/max), or a count col's
    //      non-null rows are unprovable (no recorded null count, or
    //      a DV over a file WITH nulls — a masked row might have
    //      been either);
    //  (b) a DV'd file whose recorded span could EXTEND some span
    //      col's extremum past the CLEAN-file baseline — only those
    //      can hide a min/max behind the mask, so a 100 TB table
    //      with scattered DVs rescans a handful of extremum-touching
    //      files, not every masked one.
    def dvOf(e: graft.operators.VersionedTable.FileEntry): Boolean =
      e.dv.exists(_._2 > 0)
    val missing = allIn0.filter(e => e.nRows != 0L && (
      spanCols.exists(c => !e.stats.contains(c)) ||
        countCols.exists(c =>
          VersionedTable.nonNullRowsOf(e, c).isEmpty) ||
        // sum/avg: a DV'd file's recorded Σ is the PHYSICAL file's —
        // always rescan it; a missing Σ is unknowable. avg further
        // needs the file's span (the 2^53 exactness bound) and a
        // provable non-null count (the divisor).
        (sumCols.nonEmpty && (dvOf(e) ||
          sumCols.exists(c => e.sumOf(c).isEmpty))) ||
        (avgCols.nonEmpty && (dvOf(e) ||
          avgCols.exists(c => e.sumOf(c).isEmpty ||
            VersionedTable.nonNullRowsOf(e, c).isEmpty ||
            !e.stats.contains(c)))) ||
        // count(DISTINCT c): a file that is not provably single-
        // valued demotes (and the pure-only gate below then declines)
        distinctAttrs.exists(a => distinctCountOf(Seq(e), a).isEmpty) ||
        // approx_count_distinct: a file must carry a DV-free sketch at
        // the query's register layout (the fold merges only
        // whole-file registers; anything else rescans)
        (ndvSlots.nonEmpty && (dvOf(e) ||
          ndvSlots.exists { case (a, r) =>
            !e.ndvOf(a.name).exists(_.size == ndvWords(r)) }))))
    val missingSet = missing.iterator.map(_.name).toSet
    val dvDemote =
      if (spanCols.isEmpty) Seq.empty
      else {
        val clean = allIn0.filter(e =>
          !dvOf(e) && !missingSet.contains(e.name))
        // clean-file baseline extrema; an incomparable reduce leaves
        // no baseline (conservative — and the metaSpan reduce below
        // will decline the whole fold on the same pair anyway)
        val base: Map[String, Option[(Any, Any)]] = spanCols.map(c =>
          c -> VersionedTable.hull(clean.flatMap(_.stats.get(c)).flatten)
            .flatten).toMap
        allIn0.filter(e => dvOf(e) && !missingSet.contains(e.name) &&
          spanCols.exists { c =>
            e.stats.get(c).flatten match {
              case None => false // all-null stays all-null under a mask
              case Some((mn, mx)) => base(c) match {
                case None => true // nothing clean bounds it: rescan
                case Some((blo, bhi)) =>
                  // live min ≥ recorded min, so only a recorded span
                  // STRICTLY outside the baseline can move an answer;
                  // incomparable pairs demote (conservative)
                  VersionedTable.cmpMeta(mn, blo).forall(_ < 0) ||
                    VersionedTable.cmpMeta(mx, bhi).forall(_ > 0)
              }
            }
          })
      }
    val demote = missing ++ dvDemote
    val demoted = demote.iterator.map(_.name).toSet
    val allIn = allIn0.filterNot(e => demoted.contains(e.name))
    val metaSum = allIn.map(_.liveRows).sum
    val metaNonNull: Map[String, Long] =
      (countCols ++ avgCols).distinct.map { c =>
        c -> allIn.map(e => VersionedTable.nonNullRowsOf(e, c).get).sum
      }.toMap
    // exact Σ over the all-in files (unprovable files demoted above;
    // a zero-row file adds nothing); `has` = any non-null value
    // contributed, the SQL-null discriminator
    val metaSumVal: Map[String, (java.math.BigDecimal, Boolean)] =
      (sumCols ++ avgCols).distinct.map { c =>
        var acc = java.math.BigDecimal.ZERO
        var has = false
        allIn.foreach(_.sumOf(c).flatten.foreach { s =>
          acc = acc.add(s); has = true
        })
        c -> ((acc, has))
      }.toMap
    val boundary = (boundary0 ++ demote.map(_.name)).toSet
    if (boundary.size >= entries.size && entries.nonEmpty)
      return None // metadata decided nothing: the plain scan is better
    // count(DISTINCT g) decomposes over the boundary — as a SET
    // union (metadata point values ∪ boundary-scan values, one outer
    // distinct-count deduplicating across the split) — but only the
    // single-output shape rewrites (mixing with additive partials
    // would need a second, differently-keyed union aggregation).
    if (distinctAttrs.nonEmpty && boundary.nonEmpty) {
      shapes match {
        case Seq(DistinctCol(a)) =>
          return distinctHybrid(agg, a, allIn, boundary, cond, t, relOut)
        case _ => return None
      }
    }
    val bEntries = entries.filter(e => boundary(e.name))
    // avg DOES decompose over the boundary: Σ and n are both
    // additive, and under the 2^53 double-exactness proof — checked
    // here over EVERY file the scan could touch (all-in AND
    // boundary), with each boundary file's non-null rows bounded by
    // its physical row count — the scan's double-accumulated average
    // is provably exact too, so exact (metaΣ + boundaryΣ) /
    // (metaN + boundaryN) reproduces it bit-for-bit. Anything
    // unprovable (missing span, unknown rows, a span too wide)
    // declines the whole fold.
    if (bEntries.nonEmpty && avgCols.exists { c =>
        // every physical boundary row may be a non-null match
        val n = metaNonNull(c) + bEntries.map(_.nRows).sum
        bEntries.exists(!_.stats.contains(c)) ||
          !maxAbs((allIn ++ bEntries).flatMap(_.stats.get(c).flatten))
            .exists(avgExact(n, _))
      }) return None
    // approx_count_distinct DOES decompose over the boundary — not
    // through the expression layer (the partials are register
    // buffers, not values) but through [[SeededHll]]: the all-in
    // files' merged manifest registers become the boundary scan
    // aggregate's INITIAL buffer. Register max is idempotent, so
    // every task partial may carry the seed and the merged result is
    // bit-identical to one filtered pass over all matching rows.
    // seeds are boundary-branch-only: computing them on the pure
    // path would merge every file's registers twice
    val ndvSeeds: Map[(String, Double), Seq[Long]] =
      (if (boundary.isEmpty) Seq.empty else ndvSlots).map {
        case (a, r) =>
          (a.name, r) -> ndvMergedWords(allIn, a.name, r)
            .getOrElse(return None)
      }.toMap
    // ANSI integral sums need the checked-accumulation proof over
    // every file whose rows the scan could aggregate (all-in and
    // boundary alike — the un-folded alternative aggregates exactly
    // those matching rows, and must neither throw where it would nor
    // answer where it would throw)
    val sumProofCache = scala.collection.mutable.Map.empty[String, Boolean]
    def longProof(sp: SumSpec): Boolean =
      sumProofCache.getOrElseUpdate(sp.a.name,
        sumLongProof(sp, allIn ++ bEntries))
    // the avg exactness gate: n·max|span| over the all-in files must
    // stay under 2^53, else IEEE rounding could diverge from exact Σ/n
    def avgMeta(a: AttributeReference): Option[Any] = {
      val n = metaNonNull(a.name)
      if (n == 0L) return Some(null)
      if (!maxAbs(allIn.flatMap(_.stats.get(a.name).flatten))
          .exists(avgExact(n, _))) return None
      val (sigma, has) = metaSumVal(a.name)
      Some(if (!has) null else (sigma.doubleValue / n.toDouble: Any))
    }
    // per-span-column extrema over the all-in files (byte-order/SQL
    // exact — incomparable pairs decline the whole fold)
    val metaSpan: Map[String, Option[(Any, Any)]] =
      spanCols.map(c => c -> VersionedTable.hull(
        allIn.flatMap(_.stats.get(c)).flatten).getOrElse(return None))
        .toMap
    // None = DECLINE the whole fold (a legacy-unit or sign-ambiguous
    // recorded extremum — see toCatalystSpan); a missing span is the
    // legitimate SQL-null answer (no non-null rows among all-in files)
    def metaLit(a: AttributeReference, lo: Boolean): Option[Literal] =
      metaSpan(a.name) match {
        case Some((mn, mx)) =>
          toCatalystSpan(if (lo) mn else mx, a)
            .map(Literal(_, a.dataType))
        case None => Some(Literal(null, a.dataType))
      }
    if (boundary.isEmpty)
      return Some(LocalRelation(agg.output,
        Seq(InternalRow.fromSeq(shapes.map {
          case CountAll => metaSum: Any
          case CountCol(a) => metaNonNull(a.name): Any
          case Span(a, lo) =>
            metaLit(a, lo).getOrElse(return None).value
          case SumCol(sp) =>
            val (sigma, has) = metaSumVal(sp.a.name)
            sumValueOf(sp, sigma, has, longProof(sp))
              .getOrElse(return None)
          case AvgCol(a) => avgMeta(a).getOrElse(return None)
          case DistinctCol(a) =>
            (distinctCountOf(allIn, a).getOrElse(return None)): Any
          case NdvCol(a, r) =>
            (ndvMerged(allIn, a.name, r).getOrElse(return None)): Any
          case GroupKey(_) => return None // unreachable: ungrouped
        }))))
    // boundary files: one masked/aliased subset scan, original
    // predicate re-applied, partial aggregates combined with the
    // metadata side
    val remap = VtFiles.sliceOf(t, boundary, relOut).getOrElse(return None)
    val cnt = Alias(AggregateExpression(
      Count(Seq(Literal(1))), Complete, isDistinct = false),
      "graft_boundary_count")()
    val cntColAggs: Map[String, Alias] = countColAttrs.map { a =>
      a.name -> Alias(AggregateExpression(
        Count(Seq(a)), Complete, isDistinct = false),
        s"graft_boundary_cnt_${a.name}")()
    }.toMap
    val spanAggs: Map[(String, Boolean), Alias] =
      shapes.collect { case Span(a, lo) => (a, lo) }.distinct.map {
        case (a, lo) =>
          (a.name, lo) -> Alias(AggregateExpression(
            if (lo) Min(a) else Max(a), Complete, isDistinct = false),
            s"graft_boundary_${if (lo) "min" else "max"}_${a.name}")()
      }.toMap
    // boundary partial Σ over the remapped slice, combined below with
    // the metadata Σ. Wide-decimal partials run WIDENED to (38, s):
    // the boundary is a SUBTOTAL, and Spark's result-precision check
    // must fire once on the COMBINED value (the final Cast), never on
    // a subtotal the full scan would not have checked.
    val sumAggsB: Map[String, Alias] = sumSlots.map { sp =>
      sp.a.name -> Alias(boundarySumAgg(sp),
        s"graft_boundary_sum_${sp.a.name}")()
    }.toMap
    // seeded NDV aggregates: the boundary scan's buffer initializes
    // from the all-in files' merged registers, so this aggregate's
    // output IS the final hybrid answer (no outer combine)
    val ndvAggsB: Map[(String, Double), Alias] = ndvSlots.map {
      case (a, r) =>
        (a.name, r) -> Alias(AggregateExpression(
          SeededHll(a, r, ndvSeeds((a.name, r))), Complete,
          isDistinct = false),
          s"graft_boundary_ndv_${a.name}")()
    }.toMap
    // avg partials: exact boundary Σ (long — no overflow under the
    // avg proof above) and matching-row count, combined with the
    // exact metadata halves in the outer projection
    val avgSumB: Map[String, Alias] = avgAttrs.map { a =>
      a.name -> Alias(AggregateExpression(Sum(a), Complete,
        isDistinct = false), s"graft_boundary_avgsum_${a.name}")()
    }.toMap
    val avgCntB: Map[String, Alias] = avgAttrs.map { a =>
      a.name -> Alias(AggregateExpression(Count(Seq(a)), Complete,
        isDistinct = false), s"graft_boundary_avgcnt_${a.name}")()
    }.toMap
    val inner = Aggregate(Nil,
      cnt +: (cntColAggs.values.toSeq ++ spanAggs.values.toSeq ++
        sumAggsB.values.toSeq ++ ndvAggsB.values.toSeq ++
        avgSumB.values.toSeq ++ avgCntB.values.toSeq),
      Filter(cond, remap))
    val outs = shapes.zip(agg.output).map {
      case (CountAll, o) =>
        Alias(Add(cnt.toAttribute, Literal(metaSum)), o.name)(
          exprId = o.exprId)
      case (CountCol(a), o) =>
        Alias(Add(cntColAggs(a.name).toAttribute,
          Literal(metaNonNull(a.name))), o.name)(exprId = o.exprId)
      case (Span(a, lo), o) =>
        // Least/Greatest skip nulls, matching min/max combination
        val parts = Seq(spanAggs((a.name, lo)).toAttribute,
          metaLit(a, lo).getOrElse(return None))
        Alias(if (lo) org.apache.spark.sql.catalyst.expressions
            .Least(parts)
          else org.apache.spark.sql.catalyst.expressions
            .Greatest(parts), o.name)(exprId = o.exprId)
      case (SumCol(sp), o) =>
        // wide decimals: the boundary SUBTOTAL must provably fit the
        // widened (38, s) partial (see [[decimalBoundarySafe]]) — a
        // nulled-by-overflow partial under the Coalesce below would
        // silently count as zero
        decimalInPrec(sp).foreach { p =>
          if (!decimalBoundarySafe(bEntries, p)) return None
        }
        val (sigma, has) = metaSumVal(sp.a.name)
        val b = sumAggsB(sp.a.name).toAttribute
        // metadata partial in the accumulation domain (wrapped long /
        // widened decimal); None = decline
        val partial = sumPartialValue(sp, sigma, has, longProof(sp))
          .getOrElse(return None)
        val combined: Expression =
          if (partial == null) b // metadata is SQL-null: boundary decides
          else Add(Coalesce(Seq(b, sumPartialZero(sp))),
            Literal(partial, sumPartialType(sp)))
        // the final conversion applies the ONE overflow check the
        // scan's own buffer would (LEGACY → NULL, ANSI → throw)
        Alias(sumFinalExpr(sp, combined), o.name)(exprId = o.exprId)
      case (NdvCol(a, r), o) =>
        // the seeded aggregate already carries the metadata half
        Alias(ndvAggsB((a.name, r)).toAttribute, o.name)(
          exprId = o.exprId)
      case (AvgCol(a), o) =>
        // (metaΣ + boundaryΣ) / (metaN + boundaryN), exact in IEEE
        // double under the avg proof — the same value the scan's
        // double-accumulated buffer lands on in any order
        val (sigma, _) = metaSumVal(a.name)
        val metaS =
          try sigma.longValueExact()
          catch { case _: ArithmeticException => return None }
        val n: Expression = Add(avgCntB(a.name).toAttribute,
          Literal(metaNonNull(a.name)))
        val sTot: Expression = Add(
          Coalesce(Seq(avgSumB(a.name).toAttribute, Literal(0L))),
          Literal(metaS))
        Alias(If(EqualTo(n, Literal(0L)),
          Literal(null, DoubleType),
          Divide(Cast(sTot, DoubleType), Cast(n, DoubleType))),
          o.name)(exprId = o.exprId)
      case (DistinctCol(_) | GroupKey(_), _) =>
        return None // unreachable: declined above / ungrouped
    }
    Some(Project(outs, inner))
  }

  /** GROUPED metadata counts: `SELECT g1[, g2…], count(*)[,
    * count(col), min/max, sum…] [WHERE …] GROUP BY g1[, g2…]` folds
    * per group when files are single-valued in EVERY grouping column
    * (point span, or provably all-null → that key component is the
    * NULL group). A g-clustered 100 TB table answers its per-day
    * (or per-day-per-priority) row counts from one manifest read.
    * Exact-or-scan per FILE:
    *   - every component point-span + zero nulls (or whole-file
    *     null): count(*) += liveRows (DV-safe), count(col) += the
    *     file's provable non-null count;
    *   - SINGLE-column grouping additionally handles the point-span +
    *     g-nulls split (rows split v / NULL groups by the recorded
    *     null count; only count(*) and count(g) distribute over it);
    *   - anything else (multi-valued span, DV over a nulls split,
    *     no stats) demotes to the boundary scan.
    * `SELECT DISTINCT g1[, g2…]` is this same shape with key-only
    * outputs — distinct values straight off the manifest. Boundary
    * files scan with the ORIGINAL predicate and union in as partials;
    * the outer re-aggregate combines per group. Declines unless every
    * grouping column is a plain span-typed relation attribute, every
    * output is a group key or a foldable aggregate, every conjunct
    * translates, and metadata decided at least one file. */
  private def foldGrouped(agg: Aggregate, cond: Expression, t: VtTable,
      relOut: Seq[Attribute]): Option[LogicalPlan] = {
    val relIds = relOut.map(_.exprId).toSet
    val gs = agg.groupingExpressions.map(_.asInstanceOf[AttributeReference])
    if (gs.isEmpty || t.vtHasMapping ||
        gs.exists(g => !relIds.contains(g.exprId) || !spanType(g)) ||
        gs.map(_.exprId).distinct.size != gs.size)
      return None
    val gIdx: Map[ExprId, Int] =
      gs.map(_.exprId).zipWithIndex.toMap
    val shapes = shapesOf(agg, relIds, gIdx.keySet).getOrElse(return None)
    val countCols = shapes.collect { case CountCol(a) => a }
      .distinctBy(_.name)
    val spanSlots = shapes.collect { case Span(a, lo) => (a, lo) }
      .distinctBy(p => (p._1.name, p._2))
    val spanColAttrs = spanSlots.map(_._1).distinctBy(_.name)
    val sumGSlots = shapes.collect { case SumCol(sp) => sp }
      .distinctBy(_.a.name)
    val sumGAttrs = sumGSlots.map(_.a)
    val avgGAttrs = shapes.collect { case AvgCol(a) => a }
      .distinctBy(_.name)
    // per-group approx_count_distinct: whole-file-keyed files merge
    // their register words into their group's buffer — the per-day
    // distinct-users profile answered from the manifest
    val ndvGSlots = shapes.collect { case NdvCol(a, r) => (a, r) }
      .distinctBy(p => (p._1.name, p._2))
    val ndvGHelpers: Map[Double, HyperLogLogPlusPlusHelper] =
      ndvGSlots.map(_._2).distinct
        .map(r => r -> (try new HyperLogLogPlusPlusHelper(r)
          catch { case scala.util.control.NonFatal(_) => return None }))
        .toMap
    val preds = VtPushdown.toExactPreds(cond, relIds).getOrElse(return None)
    val entries = VtFiles.entriesOf(t).getOrElse(return None)
    val (_, allIn0, boundary0) =
      VersionedTable.countWhereParts(entries, preds)
    // group keys come from raw manifest span values — normalize
    // signed-zero doubles at CREATION ([[normZero]]) so a
    // [-0.0,-0.0] file and a [0.0,0.0] file merge into the single
    // group Spark's GROUP BY would emit. A [-0.0, 0.0] span also
    // classifies as a point (BigDecimal order equates the pair) —
    // correct for the same reason: both signs land in one group.
    def normKey(v: Any): Any = normZero(v)
    // the group key of a file in which EVERY grouping column is
    // single-valued: component Some(v) = point span with zero nulls,
    // None = provably all-null (that component is the NULL group).
    // A file where any component is multi-valued / unprovable has no
    // whole-file key.
    type K = Seq[Option[Any]]
    def fileKey(e: graft.operators.VersionedTable.FileEntry)
        : Option[K] = {
      val comps = gs.map { g =>
        e.stats.get(g.name) match {
          case Some(Some((mn, mx)))
              if VersionedTable.cmpMeta(mn, mx).contains(0) &&
                e.nulls.get(g.name).contains(0L) =>
            Some(Some(normKey(mn)))
          case Some(None) => Some(None)
          case _ => None
        }
      }
      if (comps.forall(_.isDefined)) Some(comps.map(_.get)) else None
    }
    // per-file contributions: component None = the NULL group. A file
    // whose split is not provable contributes NOTHING, demotes whole.
    def contrib(e: graft.operators.VersionedTable.FileEntry)
        : Option[Seq[(K, String, Long)]] = {
      def dv = e.dv.exists(_._2 > 0)
      def colCounts(key: K): Option[Seq[(K, String, Long)]] = {
        val parts = countCols.map { a =>
          gIdx.get(a.exprId) match {
            case Some(i) =>
              // count(gi) rows are exactly the rows whose component
              // is non-NULL — zero when this file IS the NULL group
              // in gi, else the file's provable non-null count
              Some((key, a.name, if (key(i).isEmpty) 0L
                else VersionedTable.nonNullRowsOf(e, a.name)
                  .getOrElse(return None)))
            case None => VersionedTable.nonNullRowsOf(e, a.name)
              .map(k => (key, a.name, k))
          }
        }
        if (parts.exists(_.isEmpty)) None else Some(parts.map(_.get))
      }
      fileKey(e) match {
        case Some(key) =>
          colCounts(key).map(cs => (key, "*", e.liveRows) +: cs)
        case None if gs.size == 1 =>
          // SINGLE-column grouping keeps the point-span + nulls SPLIT:
          // rows divide v / NULL groups by the recorded null count,
          // but only count(*) and count(g) distribute over the split
          val g = gs.head
          e.stats.get(g.name) match {
            case Some(Some((mn, mx)))
                if VersionedTable.cmpMeta(mn, mx).contains(0) =>
              e.nulls.get(g.name) match {
                case Some(n) if n > 0 && !dv &&
                    countCols.forall(_.name == g.name) =>
                  colCounts(Seq(Some(normKey(mn)))).map(cs => Seq(
                    (Seq(Some(normKey(mn))): K, "*", e.nRows - n),
                    (Seq(None): K, "*", n)) ++ cs)
                case _ => None
              }
            case _ => None
          }
        case None => None
      }
    }
    // per-group MIN/MAX contributions: a whole-file-keyed file's
    // c-span extrema ARE its group's extrema — but a DV could mask
    // them and a nulls split scatters them, so those demote; an
    // all-null c contributes nothing (SQL min/max skip nulls)
    def spanContrib(e: graft.operators.VersionedTable.FileEntry)
        : Option[Seq[(K, String, (Any, Any))]] = {
      if (spanSlots.isEmpty) return Some(Seq.empty)
      if (e.dv.exists(_._2 > 0)) return None
      fileKey(e).flatMap { k =>
        val out = Seq.newBuilder[(K, String, (Any, Any))]
        spanColAttrs.foreach { c =>
          e.stats.get(c.name) match {
            case Some(Some(sp)) => out += ((k, c.name, sp))
            case Some(None) => () // all-null column: nothing to add
            case None => return None // stats never collected: demote
          }
        }
        Some(out.result())
      }
    }
    // per-group Σ contributions: same whole-file-key gating as spans
    // (a DV masks unknown addends, a nulls split scatters them — both
    // demote); an all-null c contributes `None` (SQL sum skips
    // nulls), a missing per-file Σ demotes the file
    def sumContrib(e: graft.operators.VersionedTable.FileEntry)
        : Option[Seq[(K, String, Option[java.math.BigDecimal])]] = {
      if (sumGSlots.isEmpty) return Some(Seq.empty)
      if (e.dv.exists(_._2 > 0)) return None
      fileKey(e).flatMap { k =>
        val out = Seq.newBuilder[(K, String,
          Option[java.math.BigDecimal])]
        sumGAttrs.foreach { a =>
          e.sumOf(a.name) match {
            case Some(v) => out += ((k, a.name, v))
            case None => return None // Σ never harvested: demote
          }
        }
        Some(out.result())
      }
    }
    // per-group avg inputs (same whole-file-key gating as sums):
    // exact Σ, live non-null count, and the max |span| bound feeding
    // the per-group 2^53 double-exactness proof [[avgMeta]] applies
    // whole-table. A demoted file sends avg through the BOUNDARY
    // HYBRID below (Σ and n partials union per group) — provable
    // only under the conservative all-boundary-rows bound.
    def avgContrib(e: graft.operators.VersionedTable.FileEntry)
        : Option[Seq[(K, String,
          (java.math.BigDecimal, Long, java.math.BigDecimal))]] = {
      if (avgGAttrs.isEmpty) return Some(Seq.empty)
      if (e.dv.exists(_._2 > 0)) return None
      fileKey(e).flatMap { k =>
        val out = Seq.newBuilder[(K, String,
          (java.math.BigDecimal, Long, java.math.BigDecimal))]
        var ok = true
        avgGAttrs.foreach { a =>
          if (ok) VersionedTable.nonNullRowsOf(e, a.name) match {
            case Some(n) if n > 0 =>
              (e.sumOf(a.name), e.stats.get(a.name).flatten
                  .flatMap(sp => maxAbs(Seq(sp)))) match {
                case (Some(Some(sig)), Some(mab)) =>
                  out += ((k, a.name, (sig, n, mab)))
                case _ => ok = false
              }
            case Some(_) => () // no non-null rows: contributes nothing
            case None => ok = false
          }
        }
        if (ok) Some(out.result()) else None
      }
    }
    // per-group NDV contributions (same whole-file-key gating as
    // sums: a DV masks register-irreversible values, demote); a
    // zero-row file contributes nothing, every other file needs every
    // slot's words at the query's register layout. An all-null column
    // still carries its (all-zero) words — merging them is the scan's
    // own no-op.
    def ndvContrib(e: graft.operators.VersionedTable.FileEntry)
        : Option[Seq[(K, String, Double, Seq[Long])]] = {
      if (ndvGSlots.isEmpty || e.nRows == 0L) return Some(Seq.empty)
      if (e.dv.exists(_._2 > 0)) return None
      fileKey(e).flatMap { k =>
        val out = Seq.newBuilder[(K, String, Double, Seq[Long])]
        ndvGSlots.foreach { case (a, r) =>
          e.ndvOf(a.name) match {
            case Some(ws) if ws.size == ndvGHelpers(r).numWords =>
              out += ((k, a.name, r, ws))
            case _ => return None // no/foreign sketch: demote
          }
        }
        Some(out.result())
      }
    }
    val metaCount =
      scala.collection.mutable.LinkedHashMap.empty[K, Long]
    val metaColCount = scala.collection.mutable
      .Map.empty[(K, String), Long]
    val metaSpanG = scala.collection.mutable
      .Map.empty[(K, String), (Any, Any)]
    val metaSumG = scala.collection.mutable
      .Map.empty[(K, String), (java.math.BigDecimal, Boolean)]
    val metaAvgG = scala.collection.mutable.Map.empty[(K, String),
      (java.math.BigDecimal, Long, java.math.BigDecimal)]
    // per-(group, col, rsd) merged register buffer — helper.merge is
    // the scan's own per-register max
    val metaNdvG = scala.collection.mutable
      .Map.empty[(K, String, Double), SpecificInternalRow]
    def ndvMergeInto(key: (K, String, Double), ws: Seq[Long]): Unit = {
      val helper = ndvGHelpers(key._3)
      val buf = metaNdvG.getOrElseUpdate(key, {
        val b = new SpecificInternalRow(
          Seq.fill(helper.numWords)(LongType))
        var i = 0
        while (i < helper.numWords) { b.setLong(i, 0L); i += 1 }
        b
      })
      helper.merge(buf,
        new GenericInternalRow(ws.map(w => w: Any).toArray), 0, 0)
    }
    val demoted = Seq.newBuilder[String]
    allIn0.foreach { e =>
      (contrib(e), spanContrib(e), sumContrib(e), avgContrib(e),
        ndvContrib(e)) match {
        case (Some(cs), Some(ss), Some(ms), Some(as), Some(ns)) =>
          cs.foreach {
            case (key, "*", n) =>
              metaCount(key) = metaCount.getOrElse(key, 0L) + n
            case (key, c, n) =>
              metaColCount((key, c)) =
                metaColCount.getOrElse((key, c), 0L) + n
          }
          ss.foreach { case (key, c, (mn, mx)) =>
            metaSpanG.get((key, c)) match {
              case None => metaSpanG((key, c)) = (mn, mx)
              case Some((lo, hi)) =>
                (VersionedTable.cmpMeta(mn, lo),
                  VersionedTable.cmpMeta(mx, hi)) match {
                  case (Some(cl), Some(ch)) =>
                    metaSpanG((key, c)) =
                      (if (cl < 0) mn else lo, if (ch > 0) mx else hi)
                  case _ => return None // not provably SQL order
                }
            }
          }
          ms.foreach { case (key, c, vOpt) =>
            val (acc, has) = metaSumG.getOrElse((key, c),
              (java.math.BigDecimal.ZERO, false))
            metaSumG((key, c)) = vOpt match {
              case Some(v) => (acc.add(v), true)
              case None => (acc, has)
            }
          }
          as.foreach { case (key, c, (sig, n, mab)) =>
            val (s0, n0, m0) = metaAvgG.getOrElse((key, c),
              (java.math.BigDecimal.ZERO, 0L, java.math.BigDecimal.ZERO))
            metaAvgG((key, c)) = (s0.add(sig), n0 + n, m0.max(mab))
          }
          ns.foreach { case (key, c, r, ws) =>
            ndvMergeInto((key, c, r), ws)
          }
        case _ =>
          // SELECT DISTINCT g (key-only single-column shape): a
          // multi-valued file with a write-time VALUE SET still folds
          // — its keys are the recorded values (+ the NULL group when
          // the null count says so). DV-free only (the set is
          // physical: a masked row could be a value's or the last
          // null's occurrence), and only when no count/span/sum/avg
          // output needs per-key row counts the set cannot supply.
          val distinctOnly = gs.size == 1 &&
            shapes.forall(_.isInstanceOf[GroupKey])
          val viaDset = distinctOnly && !e.dv.exists(_._2 > 0) &&
            e.dsets.contains(gs.head.name) &&
            e.nulls.contains(gs.head.name)
          if (viaDset) {
            val g = gs.head
            e.dsets(g.name).foreach { v =>
              val key: K = Seq(Some(normKey(v)))
              metaCount(key) = metaCount.getOrElse(key, 0L) + 1L
            }
            if (e.nulls(g.name) > 0L) {
              val key: K = Seq(None)
              metaCount(key) = metaCount.getOrElse(key, 0L) + 1L
            }
          } else demoted += e.name
      }
    }
    val demotedSet = demoted.result().toSet
    val boundary = (boundary0 ++ demotedSet).toSet
    if (boundary.size >= entries.size && entries.nonEmpty)
      return None // metadata decided nothing: the plain scan is better
    val bEntries = entries.filter(e => boundary(e.name))
    // grouped approx_count_distinct decomposes over the boundary
    // through the union itself: each group's metadata registers ride
    // a BINARY union column, the boundary scan accumulates per-group
    // registers with [[HllWordsAgg]], and [[HllUnionEstimate]] above
    // the union merges both halves per group — bit-identical to the
    // scan (register max is order-free and idempotent).
    // grouped avg DOES decompose (per-group Σ and n are additive) —
    // but only under a per-group 2^53 double-exactness proof, checked
    // here CONSERVATIVELY: every group's (n, max|v|) is bounded by
    // its metadata half plus ALL boundary rows and the widest
    // boundary span (a boundary row may land in any group). Anything
    // unprovable declines the whole fold.
    val avgGHybridOk: Boolean =
      avgGAttrs.isEmpty || bEntries.isEmpty || {
        val metaN = metaAvgG.valuesIterator.map(_._2)
          .foldLeft(0L)(math.max)
        val metaM = metaAvgG.valuesIterator.map(_._3)
          .foldLeft(java.math.BigDecimal.ZERO)((x, y) => x.max(y))
        avgGAttrs.forall(a => bEntries.forall(_.stats.contains(a.name))) &&
          maxAbs(bEntries.flatMap(e =>
            avgGAttrs.flatMap(a => e.stats.get(a.name).flatten)))
            .exists(bMax => avgExact(metaN + bEntries.map(_.nRows).sum,
              metaM.max(bMax)))
      }
    if (!avgGHybridOk) return None
    // a fully-masked point file contributes 0 to its group: a real
    // scan would emit NO group for it, so zero-count keys must not
    // materialize rows (span shapes cannot leak here — DV'd files
    // demote whole when any span shape is present)
    val liveKeys = metaCount.keys.toSeq.filter(k => metaCount(k) > 0L)
    // pre-validate every key and span conversion: a failure (legacy-
    // unit timestamp span, sign-ambiguous double extremum) DECLINES
    // the whole fold instead of crashing the optimizer
    val keyValues: Map[K, Seq[Any]] = liveKeys.map { k =>
      k -> k.zip(gs).map {
        case (None, _) => null: Any
        case (Some(v), g) => toCatalystKey(v, g).getOrElse(return None)
      }
    }.toMap
    def keyValue(k: K, a: AttributeReference): Any =
      keyValues(k)(gIdx(a.exprId))
    // (validated in a plain loop, NOT inside a helper def — a
    // non-local `return None` must leave foldGrouped, and inside a
    // nested def it would instead become that def's return VALUE)
    val spanValues: Map[(K, String, Boolean), Any] =
      liveKeys.flatMap { k =>
        spanSlots.map { case (a, lo) =>
          val v: Any = metaSpanG.get((k, a.name)) match {
            case None => null // no non-null rows in group: SQL null
            case Some(sp) =>
              toCatalystSpan(if (lo) sp._1 else sp._2, a)
                .getOrElse(return None)
          }
          (k, a.name, lo) -> v
        }
      }.toMap
    def spanValue(k: K, a: AttributeReference, lo: Boolean): Any =
      spanValues((k, a.name, lo))
    val metaRows: Seq[Seq[Any]] = liveKeys.map { k =>
      (keyValues(k) ++ (metaCount(k) +: countCols.map(c =>
        metaColCount.getOrElse((k, c.name), 0L): Any)))
        .map(x => x: Any) ++ spanSlots.map { case (a, lo) =>
          spanValue(k, a, lo): Any
        }
    }
    // per-(group, col) Σ of the metadata side; getOrElse covers keys
    // whose every contributing file was all-null in the column
    def sumAcc(k: K, c: String): (java.math.BigDecimal, Boolean) =
      metaSumG.getOrElse((k, c), (java.math.BigDecimal.ZERO, false))
    // ANSI integral proof over every file the scan could aggregate
    // (all-in + boundary) — coarser than per-group, always sound
    lazy val gProofEntries =
      allIn0.filterNot(e => demotedSet.contains(e.name)) ++ bEntries
    val gProofCache = scala.collection.mutable.Map.empty[String, Boolean]
    def gLongProof(sp: SumSpec): Boolean =
      gProofCache.getOrElseUpdate(sp.a.name,
        sumLongProof(sp, gProofEntries))
    if (boundary.isEmpty) {
      val rows = liveKeys.map { k =>
        InternalRow.fromSeq(shapes.map {
          case GroupKey(a) => keyValue(k, a)
          case CountAll => metaCount(k): Any
          case CountCol(a) =>
            metaColCount.getOrElse((k, a.name), 0L): Any
          case Span(a, lo) => spanValue(k, a, lo)
          case SumCol(sp) =>
            val (acc, has) = sumAcc(k, sp.a.name)
            sumValueOf(sp, acc, has, gLongProof(sp))
              .getOrElse(return None)
          case AvgCol(a) =>
            metaAvgG.get((k, a.name)) match {
              case None => null // group has no non-null rows: SQL null
              case Some((sig, n, mab)) =>
                // the per-group 2^53 double-exactness proof (same
                // gate avgMeta applies whole-table): the scan's
                // double-accumulated average is provably exact too,
                // so exact Σ/n reproduces it bit-for-bit
                if (!avgExact(n, mab)) return None
                (sig.doubleValue / n.toDouble): Any
            }
          case NdvCol(a, r) =>
            // a live key with no merged buffer means every
            // contributing file was all-null in `a` before the words
            // existed — unreachable in practice (all-zero words are
            // always recorded), but the empty estimate is the scan's
            // answer for no values anyway
            (metaNdvG.get((k, a.name, r)) match {
              case Some(buf) => ndvGHelpers(r).query(buf, 0)
              case None => 0L
            }): Any
          case DistinctCol(_) => return None // unreachable: grouped
        })
      }
      return Some(LocalRelation(agg.output, rows))
    }
    // wide decimals: every boundary PER-GROUP partial must provably
    // fit the widened (38, s) domain ([[decimalBoundarySafe]] over the
    // boundary files bounds every group's subtotal) — the outer
    // re-sum skips nulls, so an overflow-nulled group partial would
    // silently vanish from a total the scan still answers
    sumGSlots.foreach { sp =>
      decimalInPrec(sp).foreach { p =>
        if (!decimalBoundarySafe(bEntries, p)) return None
      }
    }
    // metadata-side Σ PARTIALS for the union combine: integral groups
    // carry the wrapped-exact long (outer Sum re-wraps — congruent
    // mod 2^64 in any order), decimal groups the exact value widened
    // to (38, s); a metadata partial that cannot even fit 38 digits
    // declines the fold (a null partial would LOSE the contribution
    // while Spark's late-checking buffer might still answer)
    val sumPartials: Map[(K, String), Any] =
      liveKeys.flatMap { k =>
        sumGSlots.map { sp =>
          val (acc, has) = sumAcc(k, sp.a.name)
          val v: Any = sumPartialValue(sp, acc, has, gLongProof(sp))
            .getOrElse(return None)
          (k, sp.a.name) -> v
        }
      }.toMap
    // union the metadata partials with the boundary scan's partials,
    // then re-aggregate: combine per group
    val nPartials = 1 + countCols.size
    val localAttrs = (((gs.zipWithIndex.map { case (g, i) =>
      AttributeReference(s"g$i", g.dataType, nullable = true)()
    } ++
      (0 until nPartials).map(i => AttributeReference(s"p$i",
        org.apache.spark.sql.types.LongType, nullable = false)())) ++
      spanSlots.zipWithIndex.map { case ((a, _), i) =>
        AttributeReference(s"s$i", a.dataType, nullable = true)()
      }) ++ sumGSlots.zipWithIndex.map { case (sp, i) =>
        AttributeReference(s"m$i", sumPartialType(sp),
          nullable = true)()
      }) ++ avgGAttrs.zipWithIndex.flatMap { case (_, i) => Seq(
        AttributeReference(s"a${i}s",
          org.apache.spark.sql.types.LongType, nullable = true)(),
        AttributeReference(s"a${i}n",
          org.apache.spark.sql.types.LongType, nullable = true)())
      } ++ ndvGSlots.zipWithIndex.map { case (_, i) =>
        AttributeReference(s"h$i",
          org.apache.spark.sql.types.BinaryType, nullable = true)()
      }
    // metadata avg partials: per-group exact Σ (long — fits under
    // avgGHybridOk) and non-null count; a group all-null in the
    // column carries (0, 0) and the outer division yields SQL null
    val avgPartials: Map[(K, String), (Long, Long)] =
      liveKeys.flatMap { k =>
        avgGAttrs.map { a =>
          val v = metaAvgG.get((k, a.name)) match {
            case None => (0L, 0L)
            case Some((sig, n, _)) =>
              val s =
                try sig.longValueExact()
                catch { case _: ArithmeticException => return None }
              (s, n)
          }
          (k, a.name) -> v
        }
      }.toMap
    // per-group metadata registers, packed big-endian for the union's
    // binary column; a key with no contribution in the column carries
    // the all-zero (empty) registers — the scan's own no-op
    def packedWords(k: K, c: String, r: Double): Array[Byte] = {
      val n = ndvGHelpers(r).numWords
      val bb = java.nio.ByteBuffer.allocate(n * 8)
      metaNdvG.get((k, c, r)) match {
        case Some(buf) =>
          var i = 0
          while (i < n) { bb.putLong(buf.getLong(i)); i += 1 }
        case None => () // allocate() zero-fills
      }
      bb.array
    }
    val localRows = metaRows.zip(liveKeys).map { case (r, k) =>
      InternalRow.fromSeq(r ++ sumGSlots.map(sp =>
        sumPartials((k, sp.a.name))) ++
        avgGAttrs.flatMap { a =>
          val (s, n) = avgPartials((k, a.name))
          Seq(s: Any, n: Any)
        } ++ ndvGSlots.map { case (a, rsd) =>
          packedWords(k, a.name, rsd): Any
        })
    }
    val local = LocalRelation(localAttrs, localRows)
    val remap = VtFiles.sliceOf(t, boundary, relOut).getOrElse(return None)
    val bPartials = (Alias(AggregateExpression(
      Count(Seq(Literal(1))), Complete, isDistinct = false), "p0")() +:
      countCols.zipWithIndex.map { case (a, i) =>
        Alias(AggregateExpression(Count(Seq(a)), Complete,
          isDistinct = false), s"p${i + 1}")()
      }) ++ spanSlots.zipWithIndex.map { case ((a, lo), i) =>
        Alias(AggregateExpression(if (lo) Min(a) else Max(a),
          Complete, isDistinct = false), s"s$i")()
      } ++ sumGSlots.zipWithIndex.map { case (sp, i) =>
        // boundary partials accumulate in the spec's partial domain
        // (a subtotal must not hit the result-precision check the
        // full scan applies only to the per-group total)
        Alias(boundarySumAgg(sp), s"m$i")()
      } ++ avgGAttrs.zipWithIndex.flatMap { case (a, i) => Seq(
        // avg partials: exact long Σ (no overflow under the proof)
        // and matching non-null count per group
        Alias(AggregateExpression(Sum(a), Complete,
          isDistinct = false), s"a${i}s")(),
        Alias(AggregateExpression(Count(Seq(a)), Complete,
          isDistinct = false), s"a${i}n")())
      } ++ ndvGSlots.zipWithIndex.map { case ((a, r), i) =>
        // the boundary's per-group registers, packed like the
        // metadata side's so the outer union-merge is symmetric
        Alias(AggregateExpression(HllWordsAgg(a, r), Complete,
          isDistinct = false), s"h$i")()
      }
    val bAgg = Aggregate(gs,
      gs.zipWithIndex.map { case (g, i) =>
        Alias(g, s"g$i")(): NamedExpression
      } ++ bPartials, Filter(cond, remap))
    val union = org.apache.spark.sql.catalyst.plans.logical
      .Union(Seq(local, bAgg))
    val uG = union.output.take(gs.size)
    val uP = union.output.drop(gs.size)
    def summed(i: Int): Expression =
      org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
        AggregateExpression(org.apache.spark.sql.catalyst.expressions
          .aggregate.Sum(uP(i)), Complete, isDistinct = false),
        Literal(0L)))
    val outs = shapes.zip(agg.output).map {
      case (GroupKey(a), o) =>
        Alias(uG(gIdx(a.exprId)), o.name)(exprId = o.exprId)
      case (CountAll, o) => Alias(summed(0), o.name)(exprId = o.exprId)
      case (CountCol(a), o) =>
        Alias(summed(1 + countCols.indexWhere(_.name == a.name)),
          o.name)(exprId = o.exprId)
      case (Span(a, lo), o) =>
        val slot = nPartials + spanSlots.indexWhere(p =>
          p._1.name == a.name && p._2 == lo)
        Alias(AggregateExpression(
          if (lo) Min(uP(slot)) else Max(uP(slot)),
          Complete, isDistinct = false), o.name)(exprId = o.exprId)
      case (SumCol(sp), o) =>
        val slot = nPartials + spanSlots.size +
          sumGSlots.indexWhere(_.a.name == sp.a.name)
        val aggE = AggregateExpression(Sum(uP(slot)), Complete,
          isDistinct = false)
        // the outer re-sum runs in the partial domain; the final
        // conversion (Cast / identity) applies the one
        // overflow check the scan's own buffer would
        Alias(sumFinalExpr(sp, aggE), o.name)(exprId = o.exprId)
      case (AvgCol(a), o) =>
        // per-group (metaΣ + boundaryΣ) / (metaN + boundaryN) —
        // exact in IEEE double under avgGHybridOk, the same value
        // the scan's double buffer lands on in any order
        val i = avgGAttrs.indexWhere(_.name == a.name)
        val slot = nPartials + spanSlots.size + sumGSlots.size + 2 * i
        def summedL(j: Int): Expression = Coalesce(Seq(
          AggregateExpression(Sum(uP(j)), Complete,
            isDistinct = false), Literal(0L)))
        val sTot = summedL(slot)
        val nTot = summedL(slot + 1)
        Alias(If(EqualTo(nTot, Literal(0L)),
          Literal(null, DoubleType),
          Divide(Cast(sTot, DoubleType), Cast(nTot, DoubleType))),
          o.name)(exprId = o.exprId)
      case (NdvCol(a, r), o) =>
        val i = ndvGSlots.indexWhere(p =>
          p._1.name == a.name && p._2 == r)
        val slot = nPartials + spanSlots.size + sumGSlots.size +
          2 * avgGAttrs.size + i
        Alias(AggregateExpression(HllUnionEstimate(uP(slot), r),
          Complete, isDistinct = false), o.name)(exprId = o.exprId)
      case (DistinctCol(_), _) => return None // unreachable: grouped
    }
    Some(Aggregate(uG, outs, union))
  }

  /** 2^53 — the largest double-exact integer magnitude: the bound of
    * the `avg()` exactness proof (every per-row cast, partial sum,
    * and merge stays integral and below it ⇒ Spark's double-
    * accumulated average equals exact-Σ/n in any execution order). */
  private val TwoP53 = java.math.BigDecimal.valueOf(9007199254740992L)

  /** The `avg()` exactness proof: `n` integral values of magnitude at
    * most `m` keep every partial sum below [[TwoP53]]. */
  private def avgExact(n: Long, m: java.math.BigDecimal): Boolean =
    java.math.BigDecimal.valueOf(n).multiply(m).compareTo(TwoP53) < 0

  /** max |v| over integral `spans` (zero when there are none), or None
    * when a span is not integral — the magnitude bound of the avg and
    * ANSI sum proofs. */
  private def maxAbs(spans: Iterable[(Any, Any)])
      : Option[java.math.BigDecimal] = {
    var m = java.math.BigDecimal.ZERO
    spans.foreach {
      case (lo: Long, hi: Long) =>
        m = m.max(java.math.BigDecimal.valueOf(lo).abs)
          .max(java.math.BigDecimal.valueOf(hi).abs)
      case _ => return None
    }
    Some(m)
  }
  private val Ten38BD = new java.math.BigDecimal(
    java.math.BigInteger.TEN.pow(38))

  /** Type-level proof that NO boundary subtotal of a wide-decimal sum
    * can overflow the widened DECIMAL(38, s) partial domain: the
    * boundary files' total row count n bounds every subtotal (in any
    * grouping) by n·max|v| < n·10^(p−s), which fits (38, s) whenever
    * n·10^p ≤ 10^38.
    * Without it, a LEGACY boundary partial that overflows evaluates
    * to NULL and the combine would treat it as zero (whole-table) or
    * the outer re-sum would skip it (grouped) — a wrong NON-NULL
    * answer where the scan, which checks overflow only on the
    * combined total, still answers; ANSI would throw spuriously. */
  private def decimalBoundarySafe(
      entries: Seq[graft.operators.VersionedTable.FileEntry],
      inPrec: Int): Boolean = {
    var rows = java.math.BigDecimal.ZERO
    entries.forall { e =>
      rows = rows.add(java.math.BigDecimal.valueOf(e.nRows))
      rows.multiply(java.math.BigDecimal.TEN.pow(inPrec))
        .compareTo(Ten38BD) <= 0
    }
  }

  /** The input precision of a wide-decimal sum spec, when its
    * boundary partials need the [[decimalBoundarySafe]] proof. */
  private def decimalInPrec(sp: SumSpec): Option[Int] = sp.kind match {
    case DecimalSum(_) => sp.a.dataType match {
      case d: DecimalType => Some(d.precision)
      case _ => None
    }
    case _ => None
  }

  /** `avg()` folds only over integral columns (result DoubleType,
    * reproducible from exact Σ under the [[TwoP53]] gate). Decimal
    * averages decline: their result carries Spark's own
    * precision/rounding promotion (p+4, s+4, HALF_UP through decimal
    * division) — reproducing that arithmetic from Σ is possible but
    * not worth the exactness risk; the scan is always right. */
  private def avgType(a: Attribute): Boolean = a.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** 2^63 — the checked-long bound of the ANSI sum proof. */
  private val TwoP63 = new java.math.BigDecimal(2).pow(63)

  /** Group/distinct VALUE normalization: ±0.0 doubles collapse to
    * +0.0, matching Spark's grouping-key normalization (SPARK-24834)
    * — a [-0.0,-0.0] file and a [0.0,0.0] file hold the SAME group/
    * distinct value. */
  private def normZero(v: Any): Any = v match {
    case d: Double if d == 0.0 => 0.0d
    case x => x
  }

  /** Proof that NO partial sum of `col` over `entries`' rows can
    * overflow a checked long accumulation in any execution order:
    * any partial is bounded by Σ over every row of |value|, itself
    * bounded by Σ_files nRows·max(|lo|,|hi|) — when that stays under
    * 2^63, Spark's ANSI sum cannot throw and equals the exact Σ.
    * All-null files contribute nothing; a rowed file without a
    * recorded span defeats the proof. */
  private def ansiLongSumSafe(
      entries: Seq[graft.operators.VersionedTable.FileEntry],
      col: String): Boolean = {
    var acc = java.math.BigDecimal.ZERO
    entries.forall { e =>
      if (e.nRows == 0) true
      else e.stats.get(col) match {
        case Some(None) => true // provably all-null
        case Some(Some(sp)) => maxAbs(Seq(sp)).exists { m =>
          acc = acc.add(
            java.math.BigDecimal.valueOf(e.nRows).multiply(m))
          acc.compareTo(TwoP63) < 0
        }
        case _ => false
      }
    }
  }

  /** Sum eval modes the folds reproduce: LEGACY (wrap / null-on-
    * overflow) and ANSI (checked — foldable only under overflow
    * proofs). TRY's per-partial null-on-overflow is order-dependent
    * and never folds. */
  private def foldableSumMode(m: Enumeration#Value): Boolean =
    m == EvalMode.LEGACY || m == EvalMode.ANSI

  /** How a query's `sum(col)` accumulates — the two shapes the rule
    * sees (it runs before DecimalAggregates rewrites small-decimal sums
    * into unscaled long sums), each reproduced exactly from the
    * manifest's per-file Σ. */
  private sealed trait SumKind
  /** Integral input: LongType accumulation of the values. */
  private case object IntegralSum extends SumKind
  /** Wide decimal: Decimal accumulation, result `rt` = (p+10 ≤ 38, s)
    * checked once at final evaluation. */
  private final case class DecimalSum(rt: DecimalType) extends SumKind
  private final case class SumSpec(a: AttributeReference,
      mode: Enumeration#Value, kind: SumKind)

  /** Recognize a foldable `sum(col)` output: the plain [[Sum]]
    * shape over an integral or decimal column. */
  private def sumSpecOf(e: NamedExpression,
      relIds: Set[ExprId]): Option[SumSpec] = e match {
    case Alias(AggregateExpression(
        Sum(a: AttributeReference, ctx), Complete, false, None, _), _)
        if foldableSumMode(ctx.evalMode) && relIds.contains(a.exprId) =>
      a.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(SumSpec(a, ctx.evalMode, IntegralSum))
        case d: DecimalType =>
          Some(SumSpec(a, ctx.evalMode, DecimalSum(
            DecimalType(math.min(38, d.precision + 10), d.scale))))
        case _ => None
      }
    case _ => None
  }

  /** ANSI no-partial-overflow proof for the spec's LONG-domain
    * accumulation over `entries`' rows: value-span-based for
    * integral. Wide-decimal sums never throw mid-accumulation (the
    * buffer checks once at final evaluation), so the proof is
    * vacuous. */
  private def sumLongProof(spec: SumSpec,
      entries: Seq[graft.operators.VersionedTable.FileEntry]): Boolean =
    spec.kind match {
      case IntegralSum => ansiLongSumSafe(entries, spec.a.name)
      case DecimalSum(_) => true
    }

  /** Exact Σ (`has` = any non-null value contributed) → the value
    * Spark's `sum()` returns under `spec`, or None = decline:
    *   - integral LEGACY: the low 64 bits as a signed long — Long
    *     addition is associative mod 2^64, so the wrapped exact Σ
    *     equals the scan's wrapped accumulation in ANY order; ANSI
    *     only under `longProofOk` (else the scan might throw);
    *   - wide decimal: the value when it fits `rt` (fit-at-the-end is
    *     Spark's own criterion); overflow → LEGACY NULL, ANSI decline;
    *   - no non-null values: SQL NULL. */
  private def sumValueOf(spec: SumSpec, sigma: java.math.BigDecimal,
      has: Boolean, longProofOk: => Boolean): Option[Any] = {
    val ansi = spec.mode == EvalMode.ANSI
    spec.kind match {
      case IntegralSum =>
        if (!has) Some(null)
        else if (ansi && !longProofOk) None
        else Some(sigma.toBigInteger.longValue: java.lang.Long)
      case DecimalSum(rt) =>
        if (!has) Some(null)
        else {
          val dec = org.apache.spark.sql.types.Decimal(sigma)
          if (dec.changePrecision(rt.precision, rt.scale)) Some(dec)
          else if (!ansi) Some(null)
          else None
        }
    }
  }

  /** `count(DISTINCT col)` over `files` from metadata: every rowed
    * file must be SINGLE-VALUED (point span — its non-null rows all
    * equal the one recorded value) or provably all-null in the
    * column, with a provable non-null live count. DV-safe through
    * [[VersionedTable.nonNullRowsOf]]: a fully-masked point file's
    * value vanishes from the set, exactly as it would from a scan.
    * Values convert through [[toCatalystKey]] before deduplication,
    * so ±0.0 collapses and a legacy raw-Long timestamp span (unknown
    * unit) declines rather than miscounting against tagged ones.
    * None = not provable → the caller scans. */
  private def distinctCountOf(
      files: Seq[graft.operators.VersionedTable.FileEntry],
      a: AttributeReference): Option[Long] =
    distinctValuesOf(files, a).map(_.size.toLong)

  /** The exact NON-NULL distinct value set (as Catalyst values) of
    * `a` over `files` — the metadata side of both the pure
    * `count(DISTINCT)` fold and the boundary-union DISTINCT hybrid
    * (sets union cleanly across the metadata/scan split; counts do
    * not). A file is provable when it is single-valued or all-null
    * in the column, OR when it carries a write-time DISTINCT VALUE
    * SET (the bounded per-file dset ledger) — the multi-valued case
    * that used to decline whole. The dset is PHYSICAL, so a file
    * with live deletion-vector masks refuses it (a masked row could
    * be a value's last occurrence); the point-span path stays DV-safe
    * through the live non-null count. */
  private def distinctValuesOf(
      files: Seq[graft.operators.VersionedTable.FileEntry],
      a: AttributeReference): Option[Set[Any]] = {
    val vals = scala.collection.mutable.Set.empty[Any]
    var ok = true
    def addDset(e: graft.operators.VersionedTable.FileEntry): Boolean =
      !e.dv.exists(_._2 > 0) && (e.dsets.get(a.name) match {
        case Some(vs) =>
          vs.forall(v => toCatalystKey(normZero(v), a) match {
            case Some(cv) => vals += cv; true
            case None => false
          })
        case None => false
      })
    files.foreach { e =>
      if (ok && e.nRows != 0) e.stats.get(a.name) match {
        case Some(None) => () // all-null: nothing distinct
        case Some(Some((mn, mx)))
            if VersionedTable.cmpMeta(mn, mx).contains(0) =>
          VersionedTable.nonNullRowsOf(e, a.name) match {
            case Some(n) if n > 0 =>
              toCatalystKey(normZero(mn), a) match {
                case Some(v) => vals += v
                case None => ok = false
              }
            case Some(_) => () // zero live non-null rows: vanishes
            case None => ok = if (addDset(e)) ok else false
          }
        case _ => ok = if (addDset(e)) ok else false
      }
    }
    if (ok) Some(vals.toSet) else None
  }

  /** The `count(DISTINCT g)` BOUNDARY HYBRID: metadata point values
    * (a LocalRelation) union the boundary files' values, deduplicated
    * by ONE outer distinct-count — the set-union decomposition counts
    * cannot have (values may overlap across the metadata/scan split,
    * and the outer DISTINCT is exactly what absorbs the overlap). The
    * boundary side pre-deduplicates per group before the union, so
    * the exchange carries at most its distinct values. */
  private def distinctHybrid(agg: Aggregate, a: AttributeReference,
      allIn: Seq[graft.operators.VersionedTable.FileEntry],
      boundary: Set[String], cond: Expression, t: VtTable,
      relOut: Seq[Attribute]): Option[LogicalPlan] = {
    val metaVals = distinctValuesOf(allIn, a).getOrElse(return None)
    val remap = VtFiles.sliceOf(t, boundary, relOut).getOrElse(return None)
    val bDistinct = Aggregate(Seq(a), Seq(a), Filter(cond, remap))
    val localAttr =
      AttributeReference("graft_dv", a.dataType, nullable = true)()
    val local = LocalRelation(Seq(localAttr),
      metaVals.toSeq.map(v => InternalRow.fromSeq(Seq(v))))
    val union = org.apache.spark.sql.catalyst.plans.logical
      .Union(Seq(local, bDistinct))
    val u = union.output.head
    val outs = agg.output.map(o =>
      Alias(AggregateExpression(Count(Seq(u)), Complete,
        isDistinct = true), o.name)(exprId = o.exprId))
    Some(Aggregate(Nil, outs, union))
  }

  /** The boundary scan's partial-Σ aggregate for `spec` — typed to
    * [[sumPartialType]] so union/combine stays in one domain. */
  private def boundarySumAgg(spec: SumSpec): Expression =
    spec.kind match {
      case IntegralSum =>
        AggregateExpression(Sum(spec.a), Complete, isDistinct = false)
      case DecimalSum(rt) =>
        // widened subtotal: the result-precision check must fire once
        // on the COMBINED value, never on a subtotal
        AggregateExpression(Sum(Cast(spec.a,
          DecimalType(38, rt.scale))), Complete, isDistinct = false)
    }

  private def sumPartialType(spec: SumSpec): DataType = spec.kind match {
    case IntegralSum => LongType
    case DecimalSum(rt) => DecimalType(38, rt.scale)
  }

  /** Typed zero for the Coalesce in the combine (a null boundary
    * partial means "no matching non-null rows there", which adds 0
    * once the metadata side holds a value). */
  private def sumPartialZero(spec: SumSpec): Literal = spec.kind match {
    case DecimalSum(rt) =>
      val z = org.apache.spark.sql.types.Decimal(
        java.math.BigDecimal.ZERO)
      z.changePrecision(38, rt.scale)
      Literal(z, DecimalType(38, rt.scale))
    case _ => Literal(0L)
  }

  /** The metadata side's partial value for the union combine (the
    * group's exact Σ rendered into [[sumPartialType]]'s domain), or
    * None = decline. */
  private def sumPartialValue(spec: SumSpec, sigma: java.math.BigDecimal,
      has: Boolean, longProofOk: => Boolean): Option[Any] = {
    val ansi = spec.mode == EvalMode.ANSI
    spec.kind match {
      case IntegralSum =>
        if (ansi && !longProofOk) None
        else if (!has) Some(null)
        else Some(sigma.toBigInteger.longValue: java.lang.Long)
      case DecimalSum(rt) =>
        if (!has) Some(null)
        else {
          val dec = org.apache.spark.sql.types.Decimal(sigma)
          // a metadata partial that cannot even fit 38 digits would
          // LOSE its contribution (Spark's late-checking buffer might
          // still answer) — decline instead
          if (dec.changePrecision(38, rt.scale)) Some(dec) else None
        }
    }
  }

  /** Final conversion of a combined/re-summed partial expression back
    * to the query's sum result — Cast for wide decimals (the one
    * overflow check), identity for longs. */
  private def sumFinalExpr(spec: SumSpec, combined: Expression)
      : Expression = spec.kind match {
    case IntegralSum => combined
    case DecimalSum(rt) => Cast(combined, rt)
  }

  /** Span values are normalized to Long/Double/String in the
    * manifest; only columns whose Catalyst type maps back identically
    * are foldable. Doubles are safe: a RECORDED span proves the file
    * holds no NaN (parquet-mr omits bounds for NaN-bearing chunks —
    * the engine writes every file through it), and NaN-bearing files
    * simply carry no span and block the fold. */
  private def spanType(a: Attribute): Boolean = a.dataType match {
    case LongType | DoubleType | StringType => true
    // dates normalize through their physical epoch days (Long in the
    // manifest, Int in Catalyst); timestamps through unit-normalized
    // TsMicros spans (raw legacy spans decline via incomparability);
    // decimals through BigDecimal at the column's fixed scale (r17)
    case DateType => true
    case _: org.apache.spark.sql.types.TimestampType => true
    case _: org.apache.spark.sql.types.TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Manifest span value → Catalyst, or None = DECLINE the fold (the
    * caller falls back to the scan). Declines are how two recorded-
    * value hazards stay conservative instead of wrong (or crashing
    * inside the optimizer):
    *   - a BARE-LONG span under a timestamp column — harvested before
    *     unit tagging, its physical unit is unknowable
    *     (millis-vs-micros); mixed old/new spans already decline via
    *     cmp-incomparability, and this closes the all-legacy case;
    *   - a ±0.0 double EXTREMUM — parquet-mr widens zero bounds to
    *     (-0.0, +0.0) regardless of which sign the data holds, so the
    *     recorded sign proves nothing, while a scan's min/max returns
    *     the data's actual sign. */
  private def toCatalystSpan(v: Any, a: Attribute): Option[Any] =
    (v, a.dataType) match {
      case (d: Double, DoubleType) =>
        if (d == 0.0) None else Some(d)
      case (l: Long, LongType) => Some(l)
      case (l: Long, DateType) => Some(l.toInt) // epoch days
      case (VersionedTable.TsMicros(l),
        _: org.apache.spark.sql.types.TimestampType) => Some(l)
      case (VersionedTable.TsMicros(l),
        _: org.apache.spark.sql.types.TimestampNTZType) => Some(l)
      case (bd: java.math.BigDecimal, d: DecimalType) =>
        val dec = org.apache.spark.sql.types.Decimal(bd)
        if (dec.changePrecision(d.precision, d.scale)) Some(dec)
        else None // recorded at a different shape: decline
      case (s: String, StringType) => Some(UTF8String.fromString(s))
      case _ => None
    }

  /** [[toCatalystSpan]] for GROUP KEYS: a point-span ±0.0 key is the
    * one place the recorded sign is immaterial — Spark normalizes
    * -0.0 to +0.0 in grouping keys (SPARK-24834), so both signs land
    * in the SAME group and the key value folds to +0.0 exactly as a
    * real GROUP BY would emit it. */
  private def toCatalystKey(v: Any, a: Attribute): Option[Any] =
    v match {
      case d: Double if d == 0.0 && a.dataType == DoubleType =>
        Some(0.0d)
      case other => toCatalystSpan(other, a)
    }
}
