package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Ascending,
  AttributeReference, Descending, IntegerLiteral, NullsFirst, NullsLast,
  SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit,
  LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.operators.VersionedTable
import graft.sources.{VtPushdown, VtTable}

/** TOP-K FILE SKIPPING for `ORDER BY col [DESC] LIMIT k` over a
  * versioned catalog table: manifest spans ORDER the files, so only
  * files whose span can reach the running top-k need opening — the
  * Iceberg/Delta ORDER-BY-skipping posture. On a 100 TB time-clustered
  * table, `ORDER BY ts DESC LIMIT 100` opens the newest file or two
  * instead of scanning 800k files into a TakeOrdered.
  *
  * EXACT-OR-UNTOUCHED, by construction: the rewrite only NARROWS the
  * scanned file set — the Sort + Limit still execute over the kept
  * files — and a file is pruned only when provably unable to
  * contribute: the manifest GUARANTEES at least k rows ranking at or
  * above threshold T (per-file non-null live row counts at value ≥
  * that file's recorded min, for DESC), and every pruned file's whole
  * span sits strictly below T. Ties at the k-th value keep (the test
  * is `max ≥ T`, inclusive); NaN-bearing double files carry NO span
  * (parquet omits bounds on NaN chunks, the write-side tracker
  * declines identically) so they are always kept — and since NaN
  * sorts above every value, pruned (span-carrying, provably NaN-free)
  * files stay prunable; DV'd files both weaken the guarantee (live
  * lower bounds) and stay conservatively kept via their physical
  * spans; files with unknown stats are always kept.
  *
  * Supported: single- or multi-key ORDER BY pruned on the FIRST key
  * (rows strictly below the k-th first-key value cannot enter the
  * top-k under any tie-breaking), default null orderings (DESC NULLS
  * LAST / ASC NULLS FIRST), any span-typed first key with binary-
  * collated strings. Everything else declines untouched. */
object VtTopKRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SparkSession.active.conf
        .get("spark.graft.topk.enabled", "true").toBoolean) return plan
    plan.transformWithSubqueries {
      case gl @ GlobalLimit(IntegerLiteral(k), LocalLimit(_, inner))
          if k > 0 =>
        rewrite(gl, k, inner).getOrElse(gl)
    }
  }

  /** The Sort beneath row-preserving wrappers (Projects never change
    * which rows exist, so the limit+sort semantics pass through). */
  private def sortUnder(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort if s.global => Some(s)
    case Project(_, c) => sortUnder(c)
    case SubqueryAlias(_, c) => sortUnder(c)
    case _ => None
  }

  /** The versioned-table relation NODE beneath wrappers — the node
    * itself (for `eq`-replacement), its output, and the AND of any
    * Filter conditions encountered on the way down. A Join/Aggregate
    * in between declines. Filters are allowed because the caller
    * folds them into the guarantee: every conjunct must translate to
    * exact file-level predicates, all-out files prune outright,
    * boundary files keep but guarantee nothing. */
  private def vtUnder(p: LogicalPlan, cond: Option[
      org.apache.spark.sql.catalyst.expressions.Expression] = None)
      : Option[(LogicalPlan, VtTable, Seq[AttributeReference],
        Option[org.apache.spark.sql.catalyst.expressions.Expression])] =
    p match {
      case Project(_, c) => vtUnder(c, cond)
      case SubqueryAlias(_, c) => vtUnder(c, cond)
      case org.apache.spark.sql.catalyst.plans.logical.Filter(fc, c) =>
        vtUnder(c, Some(cond.map(
          org.apache.spark.sql.catalyst.expressions.And(_, fc))
          .getOrElse(fc)))
      case r: DataSourceV2Relation => r.table match {
        case t: VtTable =>
          Some((r, t,
            r.output.map(_.asInstanceOf[AttributeReference]), cond))
        case _ => None
      }
      case _ => None
    }

  private def rewrite(orig: LogicalPlan, k: Int,
      inner: LogicalPlan): Option[LogicalPlan] = {
    val sort = sortUnder(inner).getOrElse(return None)
    val so = sort.order.headOption.getOrElse(return None)
    val a = so.child match {
      case ar: AttributeReference => ar
      case _ => return None
    }
    // non-binary collations sort under ICU rules, not the manifest's
    // byte order
    a.dataType match {
      case s: org.apache.spark.sql.types.StringType
          if s != org.apache.spark.sql.types.StringType => return None
      case _ => ()
    }
    val desc = (so.direction, so.nullOrdering) match {
      case (Descending, NullsLast) => true
      case (Ascending, NullsFirst) => false
      case _ => return None // non-default null orderings: decline
    }
    val (relNode, t, relOut, cond) =
      vtUnder(sort.child).getOrElse(return None)
    if (!relOut.exists(_.exprId == a.exprId)) return None
    val entries = VtFiles.entriesOf(t).getOrElse(return None)
    if (entries.isEmpty) return None
    // a WHERE folds into the guarantee only when EVERY conjunct
    // translates to exact file-level predicates: all-out files prune
    // outright (no matching rows at all), all-in files' live rows all
    // match (they fund the threshold), boundary files keep
    // conservatively but guarantee nothing
    val (candidates, guaranteeFrom) = cond match {
      case None => (entries, entries.map(_.name).toSet)
      case Some(c) =>
        val relIds = relOut.map(_.exprId).toSet
        val preds = VtPushdown.toExactPreds(c, relIds)
          .getOrElse(return None)
        val (_, allIn, boundaryNames) =
          VersionedTable.countWhereParts(entries, preds)
        val bset = boundaryNames.toSet
        val aset = allIn.iterator.map(_.name).toSet
        (entries.filter(e => bset.contains(e.name) ||
          aset.contains(e.name)), aset)
    }
    if (candidates.isEmpty) return None
    val keep = keepSet(candidates, guaranteeFrom, a.name, desc, k)
      .getOrElse(return None)
    if (keep.size >= entries.size) return None // nothing provable
    VtFiles.sliceOf(t, keep, relOut).map(remap =>
      orig.transformUp { case n if n eq relNode => remap })
  }

  /** The provably-sufficient file subset for the top-k among
    * `entries` (already WHERE-classified by the caller: all-out files
    * excluded), or None when the manifest cannot guarantee k rows (no
    * pruning then). Only files in `guaranteeFrom` (the all-in set —
    * every live row matches the residual predicate) fund the
    * threshold; boundary files keep by span but guarantee nothing. */
  private def keepSet(
      entries: Seq[VersionedTable.FileEntry],
      guaranteeFrom: Set[String], col: String,
      desc: Boolean, k: Int): Option[Set[String]] = {
    def dvc(e: VersionedTable.FileEntry): Long =
      e.dv.map(_._2).getOrElse(0L)
    // guaranteed LIVE non-null rows (a DV might mask any of them)
    def nonNullLB(e: VersionedTable.FileEntry): Long =
      e.nulls.get(col) match {
        case Some(n) if guaranteeFrom(e.name) =>
          math.max(0L, e.nRows - n - dvc(e))
        case _ => 0L
      }
    // guaranteed LIVE nulls
    def nullLB(e: VersionedTable.FileEntry): Long =
      e.nulls.get(col) match {
        case Some(n) if guaranteeFrom(e.name) =>
          math.max(0L, n - dvc(e))
        case _ => 0L
      }
    def mayHaveNull(e: VersionedTable.FileEntry): Boolean =
      e.nulls.get(col) match {
        case Some(n) => n > 0
        case None => e.stats.get(col) match {
          case Some(None) => e.nRows != 0 // all-null column
          case Some(Some(_)) =>
            // a recorded span with no null count: nulls unknowable
            true
          case None => true
        }
      }
    def span(e: VersionedTable.FileEntry): Option[(Any, Any)] =
      e.stats.get(col).flatten
    // files with a recorded span, ordered by the guarantee bound
    // (min for DESC — every non-null row sits at or above it; max for
    // ASC). Any incomparable pair (mixed legacy units) declines.
    val ranked = entries.filter(e => span(e).isDefined)
    var bad = false
    val sorted = ranked.sortWith { (x, y) =>
      val (vx, vy) =
        if (desc) (span(x).get._1, span(y).get._1)
        else (span(x).get._2, span(y).get._2)
      VersionedTable.cmpMeta(vx, vy) match {
        case Some(c) => if (desc) c > 0 else c < 0
        case None => bad = true; false
      }
    }
    if (bad) return None
    if (desc) {
      // DESC NULLS LAST: find T = the weakest min among the files
      // that together guarantee ≥ k non-null rows at value ≥ T
      var acc = 0L
      var thr: Option[Any] = None
      val it = sorted.iterator
      while (thr.isEmpty && it.hasNext) {
        val e = it.next()
        acc += nonNullLB(e)
        if (acc >= k) thr = Some(span(e).get._1)
      }
      val T = thr.getOrElse(return None)
      Some(entries.iterator.filter { e =>
        span(e) match {
          case Some((_, mx)) =>
            VersionedTable.cmpMeta(mx, T).forall(_ >= 0)
          case None => e.stats.get(col) match {
            case Some(None) => false // all-null: nulls sort last
            case _ => true // unknown stats: keep
          }
        }
      }.map(_.name).toSet)
    } else {
      // ASC NULLS FIRST: nulls rank before every value
      val n0 = entries.iterator.map(nullLB).sum
      if (n0 >= k)
        return Some(entries.iterator.filter(mayHaveNull)
          .map(_.name).toSet)
      var acc = n0
      var thr: Option[Any] = None
      val it = sorted.iterator
      while (thr.isEmpty && it.hasNext) {
        val e = it.next()
        acc += nonNullLB(e)
        if (acc >= k) thr = Some(span(e).get._2)
      }
      val T = thr.getOrElse(return None)
      Some(entries.iterator.filter { e =>
        mayHaveNull(e) || (span(e) match {
          case Some((mn, _)) =>
            VersionedTable.cmpMeta(mn, T).forall(_ <= 0)
          case None => true
        })
      }.map(_.name).toSet)
    }
  }
}
