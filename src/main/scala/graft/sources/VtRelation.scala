package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.VersionedTable
import graft.operators.VersionedTable.{FileEntry, GePred, InPred, IsNullPred, LePred, NotNullPred, OrPred, PrunePred, RangePred}

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
    val preds = dataFilters.flatMap(VtPushdown.toPrunePreds)
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

/** Catalyst-filter → manifest-predicate translation for the relation
  * path. Strictly CONSERVATIVE: anything not translatable is simply
  * not pruned on (Spark re-applies the exact filter above the scan,
  * so pruning can only ever drop files that provably contain no
  * matching row). Strict bounds translate to their inclusive
  * file-level supersets; null-valued literals translate to nothing
  * (their comparisons match no row, and the residual filter erases
  * them). */
object VtPushdown {

  def toPrunePreds(e: Expression): Seq[PrunePred] = e match {
    case And(l, r) => toPrunePreds(l) ++ toPrunePreds(r)
    // each OR side prunes as its own conjunction; a side that
    // translates to nothing means "might match anything", which
    // makes the whole disjunction un-prunable (returning just the
    // other side would wrongly narrow the keep-set)
    case Or(l, r) =>
      val (lp, rp) = (toPrunePreds(l), toPrunePreds(r))
      if (lp.isEmpty || rp.isEmpty) Seq.empty
      else Seq(OrPred(Seq(lp, rp)))
    case EqualTo(a: AttributeReference, l: Literal) => eq(a, l)
    case EqualTo(l: Literal, a: AttributeReference) => eq(a, l)
    case EqualNullSafe(a: AttributeReference, l: Literal)
        if l.value != null => eq(a, l)
    case EqualNullSafe(l: Literal, a: AttributeReference)
        if l.value != null => eq(a, l)
    case GreaterThan(a: AttributeReference, l: Literal) => ge(a, l)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) => ge(a, l)
    case LessThan(l: Literal, a: AttributeReference) => ge(a, l)
    case LessThanOrEqual(l: Literal, a: AttributeReference) => ge(a, l)
    case LessThan(a: AttributeReference, l: Literal) => le(a, l)
    case LessThanOrEqual(a: AttributeReference, l: Literal) => le(a, l)
    case GreaterThan(l: Literal, a: AttributeReference) => le(a, l)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) => le(a, l)
    case In(a: AttributeReference, vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      inList(a, vs.map(_.asInstanceOf[Literal].value))
    case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
      inList(a, vs.toSeq)
    case IsNotNull(a: AttributeReference) => Seq(NotNullPred(a.name))
    case IsNull(a: AttributeReference) => Seq(IsNullPred(a.name))
    // LIKE 'prefix%': the byte-order prefix range (inclusive-upper
    // superset — pruning only needs might-match)
    case StartsWith(a: AttributeReference, l: Literal)
        if l.value != null =>
      span(l.value, a.dataType).toSeq.flatMap { pv =>
        val prefix = pv.toString
        GePred(a.name, prefix) +:
          VersionedTable.prefixUpperBound(prefix)
            .map(LePred(a.name, _)).toSeq
      }
    case _ => Seq.empty
  }

  private def eq(a: AttributeReference, l: Literal): Seq[PrunePred] =
    span(l.value, a.dataType).map(v => RangePred(a.name, v, v)).toSeq

  private def ge(a: AttributeReference, l: Literal): Seq[PrunePred] =
    span(l.value, a.dataType).map(v => GePred(a.name, v)).toSeq

  private def le(a: AttributeReference, l: Literal): Seq[PrunePred] =
    span(l.value, a.dataType).map(v => LePred(a.name, v)).toSeq

  private def inList(a: AttributeReference,
      vs: Seq[Any]): Seq[PrunePred] = {
    val spans = vs.map(span(_, a.dataType))
    // one untranslatable (or null) member makes the whole IN
    // un-prunable — dropping just that member would narrow the test
    if (spans.exists(_.isEmpty)) Seq.empty
    else Seq(InPred(a.name, spans.map(_.get)))
  }

  /** Internal literal value → the manifest's normalized span domain
    * (Long / Double / String — dates as epoch days, timestamps as
    * epoch micros, matching the footer harvest in
    * [[VersionedTable]]). None = not span-comparable (decimals,
    * booleans, binaries, nulls) — the conservative non-translation. */
  private[sources] def span(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else dt match {
      case StringType => Some(v.asInstanceOf[UTF8String].toString)
      case ByteType | ShortType | IntegerType | LongType =>
        Some(v.asInstanceOf[Number].longValue)
      case FloatType | DoubleType =>
        Some(v.asInstanceOf[Number].doubleValue)
      case DateType => Some(v.asInstanceOf[Number].longValue)
      case TimestampType | TimestampNTZType =>
        // distinct wrapper, matching the manifest's unit-normalized
        // micros spans; legacy raw-Long spans compare as incomparable
        // (conservative keep) instead of mixing units
        Some(VersionedTable.TsMicros(v.asInstanceOf[Number].longValue))
      case _: DecimalType =>
        // manifests record decimal spans as BigDecimal at the
        // column's fixed scale (r17, `C` tag — feature `taggedSpans`)
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal]
          .toJavaBigDecimal)
      case _ => None
    }
}
