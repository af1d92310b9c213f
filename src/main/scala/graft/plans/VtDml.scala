package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, Not, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.BooleanType

import graft.operators.VersionedTable
import graft.sources.VtWritableTable

/** SQL `UPDATE` and `MERGE INTO` for versioned tables — the DML verbs
  * the [[graft.sources.VtCatalog]] surface was missing (INSERT/DELETE/
  * TRUNCATE already route through the transactional commit paths).
  *
  * Spark's analyzer fully resolves `UpdateTable` / `MergeIntoTable`
  * against any DSv2 relation; what it CANNOT do for a table without
  * `SupportsRowLevelOperations` is plan them — `SparkStrategies`
  * throws "UPDATE TABLE is not supported" at planning time. This
  * strategy intercepts exactly there (extension strategies are
  * consulted before the built-ins) and lowers the resolved command
  * onto the SAME transactional verbs every Scala caller uses:
  *
  *   - `UPDATE graft.t SET a = b + 1, b = a + 1 WHERE p` →
  *     [[VersionedTable.updateWhere]] — pre-image multi-SET semantics,
  *     CHECK constraints, touched-files-only rewrite, optimistic
  *     retry. SET expressions and the predicate are re-expressed by
  *     COLUMN NAME (the relation's attribute ids belong to the SQL
  *     plan; updateWhere re-reads the table under its own plan), so
  *     they may reference only the table's own columns — which is all
  *     SQL UPDATE allows anyway.
  *   - `MERGE INTO graft.t USING src ON t.k = src.k WHEN MATCHED THEN
  *     UPDATE SET * WHEN NOT MATCHED THEN INSERT *` →
  *     [[VersionedTable.mergeInto]] — delta-sized discovery (manifest
  *     spans + footer blooms), key-uniqueness check, insert+update in
  *     one commit. `WHEN MATCHED AND src.del THEN DELETE` (before the
  *     UPDATE clause, with `WHEN NOT MATCHED AND NOT src.del THEN
  *     INSERT *`) maps onto the tombstone contract — the Debezium CDC
  *     apply shape, one SQL statement.
  *
  * Shapes beyond mergeInto's contract — assignments that read TARGET
  * columns, extra conditional actions, `NOT MATCHED BY SOURCE`,
  * subqueries — refuse LOUDLY at planning time and point at the Scala
  * API; nothing is ever half-lowered. Time-travel relations never
  * carry [[VtWritableTable]], so `UPDATE ... VERSION AS OF` cannot
  * match here and fails with Spark's standard unsupported error. */
object VtDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpdateTable =>
      target(u.table).map { case (out, path) =>
        planUpdate(u, out, path) :: Nil
      }.getOrElse(Nil)
    case m: MergeIntoTable =>
      target(m.targetTable).map { case (out, path) =>
        planMerge(m, out, path) :: Nil
      }.getOrElse(Nil)
    case _ => Nil
  }

  /** The versioned-table relation behind an UPDATE/MERGE target, if it
    * is one of ours: its output attributes + table path. Alias-stripped
    * (the parser wraps the target), and matched in both the analyzed
    * form (DataSourceV2Relation) and the optimized one (the optimizer's
    * V2 pushdown rewrites the target to DataSourceV2ScanRelation before
    * planning). */
  private def target(table: LogicalPlan)
      : Option[(Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
                String)] =
    EliminateSubqueryAliases(table) match {
      case r: DataSourceV2Relation => r.table match {
        case w: VtWritableTable => Some((r.output, w.vtPath))
        case _ => None
      }
      case s: DataSourceV2ScanRelation => s.relation.table match {
        case w: VtWritableTable => Some((s.output, w.vtPath))
        case _ => None
      }
      case _ => None
    }

  private def refuse(verb: String, why: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft SQL $verb: $why — this shape is out of the SQL surface's " +
        "contract; use the VersionedTable Scala API (updateWhere / " +
        "mergeInto), which expresses it directly")

  /** Re-express a resolved expression by NAME, so it can resolve
    * against the verb's own read of the same table. Subqueries cannot
    * cross that re-binding and refuse. */
  private def byName(verb: String, e: Expression): Expression = {
    if (SubqueryExpression.hasSubquery(e))
      refuse(verb, s"subqueries are not supported (${e.sql})")
    e.transform { case a: AttributeReference =>
      UnresolvedAttribute.quoted(a.name)
    }
  }

  private def planUpdate(u: UpdateTable,
      tgtOut: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      path: String): SparkPlan = {
    val tgtSet = org.apache.spark.sql.catalyst.expressions
      .AttributeSet(tgtOut)
    val sets = u.assignments.map { case Assignment(key, value) =>
      val name = key match {
        case a: AttributeReference => a.name
        case other => refuse("UPDATE",
          s"SET on a nested field (${other.sql}) is not supported")
      }
      if (!value.references.subsetOf(tgtSet))
        refuse("UPDATE", s"SET $name reads columns outside the table")
      name -> Bridge.column(byName("UPDATE", value))
    }
    if (sets.map(_._1).distinct.size != sets.size)
      refuse("UPDATE", "duplicate SET targets")
    u.condition.foreach { c =>
      if (!c.references.subsetOf(tgtSet))
        refuse("UPDATE", "WHERE reads columns outside the table")
    }
    val pred = u.condition.map(c => Bridge.column(byName("UPDATE", c)))
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    VtDmlExec("update", path, () => {
      VersionedTable.updateWhere(SparkSession.active, path, pred,
        sets.toMap): Unit
    })
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  private def planMerge(m: MergeIntoTable,
      tgtOut: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      path: String): SparkPlan = {
    val tgtSet = org.apache.spark.sql.catalyst.expressions
      .AttributeSet(tgtOut)
    if (m.notMatchedBySourceActions.nonEmpty)
      refuse("MERGE", "WHEN NOT MATCHED BY SOURCE is not supported")
    val srcPlan = m.sourceTable
    val srcOut = srcPlan.outputSet
    if (SubqueryExpression.hasSubquery(m.mergeCondition))
      refuse("MERGE", "subqueries in ON are not supported")
    // ON must be a conjunction of target.k = source-expr equalities —
    // the key tuple mergeInto joins on
    val keys: Seq[(String, Expression)] =
      splitAnd(m.mergeCondition).map {
        case EqualTo(l: AttributeReference, r)
            if tgtSet.contains(l) && r.references.subsetOf(srcOut) =>
          l.name -> r
        case EqualTo(l, r: AttributeReference)
            if tgtSet.contains(r) && l.references.subsetOf(srcOut) =>
          r.name -> l
        case other => refuse("MERGE",
          s"ON must be a conjunction of target-column = source-" +
            s"expression equalities, got ${other.sql}")
      }
    // matched: optional leading tombstone DELETE, then the full UPDATE
    val (tombstone: Option[Expression], updAssigns: Seq[Assignment]) =
      m.matchedActions match {
      case Seq(UpdateAction(None, as, _)) => (None, as)
      case Seq(DeleteAction(Some(dc)), UpdateAction(None, as, _)) =>
        (Some(dc), as)
      case other => refuse("MERGE",
        s"matched actions must be [UPDATE SET *] or " +
          s"[DELETE AND <src-flag>, UPDATE SET *], got " +
          other.map(_.getClass.getSimpleName).mkString(","))
    }
    val insAssigns = m.notMatchedActions match {
      case Seq(InsertAction(ic, as)) =>
        (tombstone, ic) match {
          case (None, None) => ()
          case (Some(t), Some(Not(a))) if a.semanticEquals(t) => ()
          case (Some(_), _) => refuse("MERGE",
            "with a tombstone DELETE the INSERT must carry AND NOT " +
              "<the same flag> (an unguarded INSERT would insert " +
              "unmatched delete-records)")
          case (None, Some(_)) => refuse("MERGE",
            "a conditional INSERT without a tombstone DELETE is not " +
              "supported")
        }
        as
      case other => refuse("MERGE",
        s"not-matched actions must be exactly [INSERT *], got " +
          other.map(_.getClass.getSimpleName).mkString(","))
    }
    val tombAttr = tombstone.map {
      case a: AttributeReference
          if srcOut.contains(a) && a.dataType == BooleanType => a
      case other => refuse("MERGE",
        s"the tombstone DELETE condition must be a bare BOOLEAN " +
          s"source column, got ${other.sql}")
    }
    // both assignment lists must cover exactly the table's columns and
    // read only the source (mergeInto REPLACES matched rows with the
    // source row — there is no partial-SET or target-reading form)
    def assignMap(verb: String,
        as: Seq[Assignment]): Map[String, Expression] = {
      val named = as.map { case Assignment(key, value) =>
        val name = key match {
          case a: AttributeReference => a.name
          case other => refuse("MERGE",
            s"$verb of a nested field (${other.sql}) is not supported")
        }
        if (!value.references.subsetOf(srcOut))
          refuse("MERGE", s"$verb $name reads target columns — " +
            "mergeInto replaces matched rows with the source row")
        if (SubqueryExpression.hasSubquery(value))
          refuse("MERGE", s"$verb $name carries a subquery")
        name -> value
      }
      val tgt = tgtOut.map(_.name).toSet
      if (named.map(_._1).toSet != tgt || named.size != tgt.size)
        refuse("MERGE", s"$verb must assign every table column " +
          s"exactly once (UPDATE SET * / INSERT *): got " +
          s"${named.map(_._1).sorted.mkString(",")} vs table " +
          s"${tgt.toSeq.sorted.mkString(",")}")
      named.toMap
    }
    val upd = assignMap("UPDATE SET", updAssigns)
    val ins = assignMap("INSERT", insAssigns)
    tgtOut.map(_.name).foreach { c =>
      if (!upd(c).semanticEquals(ins(c)))
        refuse("MERGE", s"UPDATE and INSERT disagree on column $c " +
          s"(${upd(c).sql} vs ${ins(c).sql}) — mergeInto applies ONE " +
          "source row to both verbs")
    }
    // the join key must be fed by the same source expression the
    // assignments write into that column, or the upsert would insert
    // rows under different keys than it matched on
    keys.foreach { case (k, srcExpr) =>
      val v = upd.getOrElse(k, refuse("MERGE",
        s"ON references target column $k the assignments never set"))
      if (!v.semanticEquals(srcExpr))
        refuse("MERGE", s"ON key $k joins on ${srcExpr.sql} but the " +
          s"assignments write ${v.sql} into it")
    }
    val tgtCols = tgtOut.map(_.name)
    VtDmlExec("merge", path, () => {
      val spark = SparkSession.active
      val srcDf = Bridge.ofRows(spark, srcPlan)
      val tombName = Iterator.from(0)
        .map(i => if (i == 0) "__graft_sql_tombstone"
                  else s"__graft_sql_tombstone_$i")
        .find(n => !tgtCols.contains(n)).get
      val projected = srcDf.select(
        tgtCols.map(c => Bridge.column(upd(c)).as(c)) ++
          tombAttr.map(a => Bridge.column(a).as(tombName)): _*)
      VersionedTable.mergeInto(spark, path, projected,
        keys.map(_._1),
        tombstoneCol = tombAttr.map(_ => tombName)): Unit
    })
  }
}

/** Driver-side DML execution node: runs the lowered verb ONCE (the
  * verb itself launches the distributed discovery/rewrite jobs) and
  * returns no rows — the `V2CommandExec` posture. */
final case class VtDmlExec(verb: String, path: String,
    run: () => Unit) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val done: Unit = run()
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD
  }
  override def simpleString(maxFields: Int): String =
    s"VtDmlExec $verb $path"
}
