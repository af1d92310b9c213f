package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.VersionedTable
import graft.sources.VtTable

/** SQL SELECT over DELETION-VECTOR'd / COLUMN-MAPPED versions: an
  * optimizer rule that swaps the catalog relation for the engine's
  * own masking/aliasing read plan, so a plain `SELECT * FROM graft.t`
  * answers exactly even while the table carries vectors or renamed
  * columns — no compaction required to read.
  *
  * Placement: [[graft.GraftExtensions]] injects the rule
  * (`injectOptimizerRule`) into the operator-optimization batch, which
  * runs BEFORE V2 scan pushdown, so the rule sees the original
  * `DataSourceV2Relation` and replaces it with [[VersionedTable.read]]'s
  * logical plan — a union of plain parquet scans, an anti-join against
  * the delta-sized mask, and physical→logical aliases. Everything
  * downstream (filter pushdown into the parquet scans, column pruning,
  * AQE) then optimizes the ordinary plan; the version is PINNED to the
  * one the relation loaded, so the swap can never read a different
  * snapshot than the analyzer resolved.
  *
  * Attribute identity: the replacement is wrapped in a Project that
  * re-aliases the masked plan's columns onto the ORIGINAL relation
  * output's exprIds — references held by enclosing operators keep
  * resolving. A fresh read per occurrence keeps self-joins conflict-
  * free (distinct exprIds per subtree).
  *
  * DML plans are left alone (their root is a Command): the target
  * relation of UPDATE/MERGE/DELETE must stay a relation for
  * [[VtDmlStrategy]]/`SupportsDelete` to lower, and those paths mask
  * through the transactional verbs already. Healthy versions
  * (`vtScanRefusal == None`) rewrite too — onto the manifest-backed
  * V1 relation, whose [[graft.sources.VtFileIndex]] prunes files
  * from the commit log's spans at plan time (the stock V2
  * ParquetTable scan plans every file of the version; at 100 TB a
  * selective SQL WHERE would open 800k files instead of its few
  * span-matching ones). Sessions built without GraftExtensions fall
  * back to the exact-but-unpruned stock scan on clean versions and
  * [[graft.sources.VtScanGuard]]'s loud refusal on masked ones,
  * never a wrong answer. */
object VtMaskedScanRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // DML TARGETS must stay relations for the lowering strategies —
    // but only the targets: a MERGE's source query, or any query
    // under a WRITE command (INSERT ... SELECT, a sink write of a
    // SELECT), rewrites like any read
    case u: UpdateTable => u
    case d: DeleteFromTable => d
    case m: MergeIntoTable =>
      val src = apply(m.sourceTable)
      if (src eq m.sourceTable) m else m.copy(sourceTable = src)
    case _ =>
      // transformWithSubqueries: a DV'd/mapped relation inside a
      // subquery expression (IN/EXISTS/scalar) must rewrite too —
      // plain transform never descends into expression-held plans and
      // the query would refuse at the guard instead of answering. The
      // rule runs before V2 scan pushdown, so the catalog relation is
      // still a DataSourceV2Relation; the batch's later iterations push
      // the query's predicates into the replacement's parquet scans.
      plan.transformWithSubqueries {
        case rel: DataSourceV2Relation if rewrites(rel.table) =>
          remask(rel.table.asInstanceOf[VtTable], rel.output)
      }
  }

  private def remask(t: VtTable,
      out: Seq[Attribute]): LogicalPlan = {
    // one replacement for every version shape: read() masks DV'd
    // versions, aliases mapped ones, and plans CLEAN (sub)sets
    // through the manifest-backed VtFileIndex — pushed data filters
    // then PRUNE FILES at plan time, where the stock V2 ParquetTable
    // scan plans every file of the version and leaves skipping to
    // per-file footer reads (at 100 TB: 800k opened files for a
    // two-file time-range query). Version pinned to the analyzed one.
    val masked = Bridge.logicalPlan(
      VersionedTable.read(SparkSession.active, t.vtPath,
        Some(t.vtVersion)))
    val byName = masked.output.map(a => a.name -> a).toMap
    val cols: Seq[NamedExpression] = out.map { a =>
      val src = byName.getOrElse(a.name,
        throw new IllegalStateException(
          s"masked read of ${t.vtPath}@v${t.vtVersion} lacks " +
            s"column ${a.name} the relation carries"))
      Alias(src, a.name)(exprId = a.exprId)
    }
    Project(cols, masked)
  }

  /** EVERY versioned catalog relation rewrites: DV'd/mapped versions
    * onto the masking plan (correctness), clean versions onto the
    * manifest-pruning V1 relation (scale — see [[remask]]). */
  private def rewrites(
      table: org.apache.spark.sql.connector.catalog.Table): Boolean =
    table.isInstanceOf[VtTable]
}
