package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BinaryComparison, EqualNullSafe, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThanOrEqual, Literal, Not, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.VersionedTable
import graft.operators.VersionedTable.{ExactIn, ExactIsNull, ExactNotIn, ExactNotNull, ExactOr, ExactPred, ExactRange, FileEntry}

/** Manifest-backed [[FileIndex]] for one committed version of a
  * [[VersionedTable]] — the piece that makes
  * `spark.read.format("graft-vt")` a first-class Catalyst citizen
  * (the Delta `TahoeFileIndex` posture).
  *
  * Why a FileIndex instead of a hand-rolled DSv2 scan: Spark's own
  * `FileSourceStrategy` hands `listFiles` the query's pushed DATA
  * FILTERS, so manifest span pruning happens inside normal plan
  * resolution — the user writes a plain `.where(...)` and files whose
  * recorded spans provably exclude the predicate are never even
  * listed into the scan, while everything downstream (column pruning,
  * parquet row-group pushdown, vectorized reading, whole-stage
  * codegen) stays the stock parquet path.
  *
  * ZERO directory listings at plan time: entry byte lengths ride in
  * the manifest (the `z` entry field), so the `FileStatus`es Spark
  * plans splits from are synthesized straight from the commit log —
  * at 100 TB the planning cost is one manifest read, not a 100k-file
  * `LIST` against an object store. Entries without a recorded size
  * fall back to one `getFileStatus` each, still O(version's files),
  * never O(directory). `sizeInBytes` is the manifest's true byte sum,
  * so joins against a small versioned table auto-broadcast on
  * accurate stats instead of a guessed default.
  */
final class VtFileIndex(spark: SparkSession, tablePath: String,
    val version: Int, entries: Seq[FileEntry], schema: StructType)
    extends FileIndex {

  // A FileIndex can only LIST — it has no seam to anti-join a deletion
  // vector's positions out, so handing Spark a DV-carrying file list
  // would resurrect deleted rows. Refuse loudly; the Scala read
  // surface masks exactly, and compact() materializes the vectors.
  require(entries.forall(_.dv.isEmpty),
    s"version $version of $tablePath carries deletion vectors — the " +
      "graft-vt relation / SQL scan surface cannot mask them; read via " +
      "VersionedTable.read(...) or materialize with compact()")
  // Same posture for COLUMN MAPPING: a plain file scan reads physical
  // names, so a renamed column would come back null under its logical
  // name. The Scala read surface aliases exactly; an overwrite commit
  // (commit(read(path), path, overwrite = true)) materializes.
  require(!VersionedTable.schemaHasMapping(schema),
    s"version $version of $tablePath maps renamed columns — the " +
      "graft-vt relation / SQL scan surface cannot alias them; read " +
      "via VersionedTable.read(...) or rewrite with an overwrite commit")

  private val root = new Path(tablePath)

  /** Files listed by the most recent [[listFiles]] call — the
    * pruning-observability hook specs gate on. −1 until planned. */
  @volatile var lastPlannedFiles: Int = -1

  private lazy val statuses: Map[String, FileStatus] = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    entries.map { e =>
      val p = new Path(root, e.name)
      e.name -> (if (e.size >= 0)
        new FileStatus(e.size, false, 1, 128L << 20, 0L, p)
      else fs.getFileStatus(p))
    }.toMap
  }

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val preds = VtPushdown.toRelationPreds(dataFilters)
    val keep =
      if (preds.isEmpty) entries
      else VersionedTable.pruneEntriesWhere(entries, preds)
    lastPlannedFiles = keep.size
    Seq(PartitionDirectory(InternalRow.empty,
      keep.map(e => statuses(e.name)).toArray))
  }

  override def inputFiles: Array[String] =
    entries.map(e => new Path(root, e.name).toString).toArray

  override def refresh(): Unit = () // a committed manifest is immutable

  override def sizeInBytes: Long =
    statuses.valuesIterator.map(_.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)

  override def toString: String = s"VtFileIndex[$tablePath@v$version]"
}

/** The one translator from Catalyst filters to file predicates (the
  * [[ExactPred]] algebra that [[VersionedTable.classifyEntry]]
  * decides), and the one conversion of a value into the manifest's
  * span domain ([[span]]). Two entry points share them:
  *
  *  - the EXACT path ([[toExactPreds]] — metadata folds and top-k
  *    skipping): EVERY conjunct must translate, or the caller declines
  *    (a dropped conjunct would over-count a fold);
  *  - the RELATION path ([[toRelationPreds]] — [[VtFileIndex]]'s
  *    pushed data filters): each conjunct translates on its own and
  *    one that does not is dropped (Spark re-applies the exact filter
  *    above the scan, so dropping only keeps more files).
  *
  * A translated predicate is exact either way — strict bounds stay
  * strict, a comparison with a NULL literal is provably empty — so the
  * same predicates prune files (kept unless some conjunct classifies
  * the file all-out) and answer folds. */
object VtPushdown {

  def toExactPreds(cond: Expression,
      relIds: Set[ExprId]): Option[Seq[ExactPred]] =
    translate(cond, a => relIds.contains(a.exprId), lenient = false)

  def toRelationPreds(dataFilters: Seq[Expression]): Seq[ExactPred] =
    dataFilters.flatMap(translate(_, _ => true, lenient = true).get)

  /** `lenient` drops untranslatable conjuncts (always `Some`); strict
    * translation is `None` as soon as one conjunct does not translate. */
  private def translate(cond: Expression,
      inRel: AttributeReference => Boolean,
      lenient: Boolean): Option[Seq[ExactPred]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // non-default collations (Spark 4 StringType(collationId)) compare
    // under ICU rules — e.g. UTF8_LCASE `= 'abc'` must match 'ABC' —
    // while classification compares unsigned bytes; only UTF8_BINARY's
    // order IS byte order, so collated columns never translate
    def ok(a: AttributeReference): Boolean =
      inRel(a) && (a.dataType match {
        case s: StringType => s == StringType
        case _ => true
      })
    def spans(a: AttributeReference, vs: Seq[Any]): Option[Seq[Any]] = {
      val out = vs.map(span(_, a.dataType))
      if (out.contains(None)) None else Some(out.flatten)
    }
    // a comparison with a NULL literal matches no row: provably empty
    def empty(a: AttributeReference) = Some(Seq(ExactIn(a.name, Nil)))
    // `a OP v` (`flipped`: the literal was on the left, `v OP a`)
    def compare(op: BinaryComparison, a: AttributeReference, l: Literal,
        flipped: Boolean): Option[Seq[ExactPred]] =
      if (!ok(a)) None
      else if (l.value == null) op match {
        case _: EqualNullSafe => None // `a <=> NULL` is IS NULL
        case _ => empty(a)
      } else span(l.value, a.dataType).map { v =>
        val point = Some((v, true))
        val side = Some((v, op.isInstanceOf[GreaterThanOrEqual] ||
          op.isInstanceOf[LessThanOrEqual]))
        val lower = op.isInstanceOf[GreaterThan] ||
          op.isInstanceOf[GreaterThanOrEqual]
        Seq(op match {
          case _: EqualTo | _: EqualNullSafe =>
            ExactRange(a.name, point, point)
          case _ if lower != flipped => ExactRange(a.name, side, None)
          case _ => ExactRange(a.name, None, side)
        })
      }
    def in(a: AttributeReference, vs: Seq[Any]): Option[Seq[ExactPred]] =
      if (!ok(a)) None // NULL members never match: drop them
      else spans(a, vs.filter(_ != null)).map(s => Seq(ExactIn(a.name, s)))
    def notIn(a: AttributeReference,
        vs: Seq[Any]): Option[Seq[ExactPred]] =
      if (!ok(a)) None // a NULL member makes NOT IN match nothing
      else if (vs.contains(null)) empty(a)
      else spans(a, vs).map(s => Seq(ExactNotIn(a.name, s)))
    def literals(vs: Seq[Expression]): Option[Seq[Any]] =
      if (vs.forall(_.isInstanceOf[Literal]))
        Some(vs.map(_.asInstanceOf[Literal].value))
      else None
    val parts = conjuncts(cond).map {
      // OR keeps its tree shape (no DNF expansion): each disjunct
      // translates as its own conjunction and classification runs per
      // alternative. A disjunct that does not translate (or, leniently,
      // translates to nothing) might match anything, so the whole OR
      // does not translate — dropping just that side would narrow it
      case o: Or =>
        def disjuncts(x: Expression): Seq[Expression] = x match {
          case Or(l, r) => disjuncts(l) ++ disjuncts(r)
          case y => Seq(y)
        }
        val alts = disjuncts(o).map(translate(_, inRel, lenient))
        if (alts.exists(a => a.isEmpty || (lenient && a.get.isEmpty))) None
        else Some(Seq(ExactOr(alts.map(_.get))))
      case Literal(true, BooleanType) => Some(Nil)
      case Literal(false, BooleanType) | Literal(null, _) =>
        Some(Seq(ExactIn("", Nil))) // provably empty everywhere
      case op: BinaryComparison => (op.left, op.right) match {
        case (a: AttributeReference, l: Literal) =>
          compare(op, a, l, flipped = false)
        case (l: Literal, a: AttributeReference) =>
          compare(op, a, l, flipped = true)
        case _ => None
      }
      case In(a: AttributeReference, vs) => literals(vs).flatMap(in(a, _))
      case InSet(a: AttributeReference, vs) => in(a, vs.toSeq)
      case IsNotNull(a: AttributeReference) if ok(a) =>
        Some(Seq(ExactNotNull(a.name)))
      case IsNull(a: AttributeReference) if ok(a) =>
        Some(Seq(ExactIsNull(a.name)))
      // LIKE 'prefix%' (optimizer-lowered to StartsWith): exactly the
      // byte-order range [prefix, prefix-with-last-char+1) — none when
      // no safe upper bound exists (an open range would claim all-in
      // for rows merely >= the prefix)
      case StartsWith(a: AttributeReference, l: Literal) if ok(a) =>
        span(l.value, a.dataType).collect { case p: String => p }
          .flatMap(p => VersionedTable.prefixUpperBound(p).map(up =>
            Seq(ExactRange(a.name, Some((p, true)), Some((up, false))))))
      // negations: != / NOT IN
      case Not(EqualTo(a: AttributeReference, l: Literal)) =>
        notIn(a, Seq(l.value))
      case Not(EqualTo(l: Literal, a: AttributeReference)) =>
        notIn(a, Seq(l.value))
      case Not(In(a: AttributeReference, vs)) if vs.nonEmpty =>
        literals(vs).flatMap(notIn(a, _))
      case Not(InSet(a: AttributeReference, vs)) if vs.nonEmpty =>
        notIn(a, vs.toSeq)
      case _ => None
    }
    if (!lenient && parts.contains(None)) None
    else Some(parts.flatten.flatten)
  }

  /** A Catalyst (internal) value → the manifest's span domain for a
    * column of type `dt`, matching the footer harvest in
    * [[VersionedTable]]: Long for integrals and dates (epoch days),
    * Double for floats (widened exactly), String for UTF8_BINARY
    * strings, [[VersionedTable.TsMicros]] for timestamps (legacy
    * raw-Long spans then compare as incomparable instead of mixing
    * units), BigDecimal for decimals (recorded at the column's scale).
    * None = not span-comparable (null, booleans, binaries, collated
    * strings, a value not of `dt`'s internal type) — callers decline
    * or keep files. */
  def span(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (u: UTF8String, StringType) => Some(u.toString)
    case (n @ (_: Byte | _: Short | _: Int | _: Long),
        ByteType | ShortType | IntegerType | LongType | DateType) =>
      Some(n.asInstanceOf[Number].longValue)
    case (n @ (_: Float | _: Double), FloatType | DoubleType) =>
      Some(n.asInstanceOf[Number].doubleValue)
    case (us: Long, TimestampType | TimestampNTZType) =>
      Some(VersionedTable.TsMicros(us))
    case (d: Decimal, _: DecimalType) => Some(d.toJavaBigDecimal)
    case _ => None
  }

  /** [[span]] of an external (`Row`-side) value — `java.sql.Date`,
    * `Timestamp`, `Instant`, `String`, `BigDecimal` — converted to its
    * Catalyst form first. */
  def spanOfExternal(v: Any, dt: DataType): Option[Any] =
    span(CatalystTypeConverters.convertToCatalyst(v), dt)

  /** `column BETWEEN lo AND hi` from external bounds of type `dt`
    * (collected min/max); None when either bound is null or not
    * span-comparable — the caller then keeps every file. */
  def rangeOfExternal(column: String, lo: Any, hi: Any,
      dt: DataType): Option[ExactPred] =
    for (l <- spanOfExternal(lo, dt); h <- spanOfExternal(hi, dt))
      yield ExactRange(column, Some((l, true)), Some((h, true)))
}
