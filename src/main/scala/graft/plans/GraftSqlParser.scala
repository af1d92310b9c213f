package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Delegating SQL parser adding the warehouse statements Spark's
  * grammar lacks (the Delta-parser posture), each lowered onto the
  * registered catalog procedures so SQL-only users never shell into
  * CALL syntax:
  *
  *   - `DESCRIBE HISTORY <cat>.<t>` / `DESCRIBE DETAIL <cat>.<t>`
  *   - `OPTIMIZE <cat>.<t>`
  *   - `VACUUM <cat>.<t> [RETAIN <n> HOURS]`
  *   - `RESTORE [TABLE] <cat>.<t> [TO] VERSION AS OF <n>`
  *
  * Everything else passes through verbatim — including
  * `DESCRIBE <table>` for tables that happen to be NAMED `history`
  * (the rewrites fire only on their full statement shapes). Injected
  * at session construction by [[graft.GraftExtensions]]
  * (`injectParser`); a session built without the extension keeps the
  * CALL spelling. */
final class GraftSqlParser(delegate: ParserInterface)
    extends ParserInterface {

  private val describeRe =
    """(?is)\s*DESC(?:RIBE)?\s+(HISTORY|DETAIL)\s+(\S.*?)\s*;?\s*""".r
  private val optimizeRe =
    """(?is)\s*OPTIMIZE\s+(\S.*?)\s*;?\s*""".r
  private val vacuumRe =
    """(?is)\s*VACUUM\s+(\S.*?)(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?\s*;?\s*""".r
  private val restoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\S.*?)\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r

  /** `<catalog>.<table>` → (`quoted-catalog`, 'sql-quoted-path') —
    * tables ARE paths in the graft catalog, so part 2 goes to the
    * procedure's `table` argument verbatim. */
  private def target(ident: String, form: String): (String, String) = {
    val parts = delegate.parseMultipartIdentifier(ident)
    require(parts.size == 2,
      s"$form expects <catalog>.<table>, got: $ident")
    ("`" + parts.head.replace("`", "``") + "`",
      "'" + parts(1).replace("'", "''") + "'")
  }

  /** Only statements that FULLY lower are intercepted: a regex match
    * whose lowering fails (a one-part `OPTIMIZE t`, `VACUUM t DRY
    * RUN` swallowed into the identifier, a table literally named
    * `history`) falls through to the delegate, so its errors surface
    * as the delegate's own ParseException — the documented
    * pass-through contract, kept even when a rewrite regex happens to
    * match. */
  override def parsePlan(sqlText: String): LogicalPlan = {
    val lowered: Option[LogicalPlan] =
      try sqlText match {
        case describeRe(verb, ident) =>
          val (cat, path) = target(ident, s"DESCRIBE ${verb.toUpperCase}")
          Some(delegate.parsePlan(
            s"CALL $cat.${verb.toLowerCase}(table => $path)"))
        case optimizeRe(ident) =>
          val (cat, path) = target(ident, "OPTIMIZE")
          Some(delegate.parsePlan(s"CALL $cat.optimize(table => $path)"))
        case vacuumRe(ident, retain) =>
          val (cat, path) = target(ident, "VACUUM")
          val extra = Option(retain)
            .map(h => s", retain_hours => ${h.toDouble}").getOrElse("")
          Some(delegate.parsePlan(
            s"CALL $cat.vacuum(table => $path$extra)"))
        case restoreRe(ident, v) =>
          val (cat, path) = target(ident, "RESTORE")
          Some(delegate.parsePlan(
            s"CALL $cat.restore(table => $path, version => ${v.toInt})"))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    lowered.getOrElse(delegate.parsePlan(sqlText))
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(
      sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}
