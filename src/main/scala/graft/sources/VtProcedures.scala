package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.VersionedTable

/** SQL MAINTENANCE VERBS for versioned tables, as Spark 4 stored
  * procedures (the Iceberg/Delta posture — `CALL` reaches a live
  * session with no parser injection, unlike a custom `OPTIMIZE`
  * grammar):
  *
  * {{{
  *   CALL graft.optimize(table => '/data/events')           -- bin-pack
  *   CALL graft.optimize(table => '/t', full => true,
  *                       cluster_by => 'k1,k2')             -- ZORDER
  *   CALL graft.vacuum(table => '/t', retain_hours => 168)  -- sweep
  *   CALL graft.vacuum(table => '/t', dry_run => true)      -- look first
  *   CALL graft.history(table => '/t')                      -- audit log
  *   CALL graft.expire(table => '/t', keep_last => 10)      -- retention
  * }}}
  *
  * Each verb routes through the SAME transactional Scala call every
  * other writer uses ([[VersionedTable.compactSmall]]/[[VersionedTable.compact]],
  * [[VersionedTable.vacuumUnreferenced]], [[VersionedTable.versions]],
  * [[VersionedTable.expire]]) — never a parallel code path — and
  * returns its outcome as rows. `table` takes an absolute path or a
  * name resolved under the catalog's `root` option, exactly like table
  * identifiers. */
private[sources] object VtProcedures {

  def load(name: String, resolvePath: String => String): UnboundProcedure =
    name.toLowerCase match {
      case "optimize" => new OptimizeProc(resolvePath)
      case "vacuum" => new VacuumProc(resolvePath)
      case "history" | "describe_history" => new HistoryProc(resolvePath)
      case "expire" => new ExpireProc(resolvePath)
      case "recluster" => new ReclusterProc(resolvePath)
      case "restore" => new RestoreProc(resolvePath)
      case "materialize_dv" => new MaterializeDvProc(resolvePath)
      case "detail" | "describe_detail" => new DetailProc(resolvePath)
      case "ndv" => new NdvProc(resolvePath)
      case other => throw new IllegalArgumentException(
        s"unknown graft procedure $other — available: optimize, " +
          "vacuum, history, expire, recluster, restore, " +
          "materialize_dv, detail")
    }

  val names: Array[String] = Array("optimize", "vacuum", "history",
    "expire", "recluster", "restore", "materialize_dv", "detail")

  private def spark: SparkSession = SparkSession.active

  private def str(r: InternalRow, i: Int): String =
    r.getUTF8String(i).toString

  private final class RowsScan(schema: StructType,
      rs: Array[InternalRow]) extends LocalScan {
    override def rows(): Array[InternalRow] = rs
    override def readSchema(): StructType = schema
  }

  private def result(schema: StructType,
      rs: Seq[InternalRow]): java.util.Iterator[Scan] =
    Collections.singletonList(
      new RowsScan(schema, rs.toArray): Scan).iterator()

  private abstract class Proc(procName: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  /** `optimize(table, target_file_mb = 128, small_file_mb = 32,
    * cluster_by = '', full = false)` → (version, n_files). Default:
    * incremental bin-packing of small files ([[VersionedTable.compactSmall]]);
    * `full => true` or a `cluster_by` list re-clusters the whole table
    * ([[VersionedTable.compact]] — OPTIMIZE ... ZORDER BY when 2+
    * columns). */
  private final class OptimizeProc(resolve: String => String)
      extends Proc("optimize") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target_file_mb", IntegerType)
        .defaultValue("128").build(),
      ProcedureParameter.in("small_file_mb", IntegerType)
        .defaultValue("32").build(),
      ProcedureParameter.in("cluster_by", StringType)
        .defaultValue("''").build(),
      ProcedureParameter.in("full", BooleanType)
        .defaultValue("false").build())
    private val outSchema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val target = input.getInt(1).toLong << 20
      val small = input.getInt(2).toLong << 20
      val clusterBy = str(input, 3).split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      val full = input.getBoolean(4)
      val v =
        if (full || clusterBy.nonEmpty)
          VersionedTable.compact(spark, path, target, clusterBy)
        else VersionedTable.compactSmall(spark, path, target, small)
      result(outSchema, Seq(new GenericInternalRow(Array[Any](
        v, VersionedTable.files(spark, path, v).size))))
    }
  }

  /** `vacuum(table, retain_hours = 168, dry_run = false)` → one row
    * per swept (or would-be-swept) orphan. */
  private final class VacuumProc(resolve: String => String)
      extends Proc("vacuum") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("retain_hours", DoubleType)
        .defaultValue("168.0").build(),
      ProcedureParameter.in("dry_run", BooleanType)
        .defaultValue("false").build())
    private val outSchema = StructType(Seq(
      StructField("removed", StringType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val ttlMs = (input.getDouble(1) * 3600 * 1000).toLong
      val removed = VersionedTable.vacuumUnreferenced(spark, path,
        ttlMs, dryRun = input.getBoolean(2))
      result(outSchema, removed.map(n => new GenericInternalRow(
        Array[Any](UTF8String.fromString(n)))))
    }
  }

  /** `history(table)` → the audit listing, newest first (DESCRIBE
    * HISTORY). */
  private final class HistoryProc(resolve: String => String)
      extends Proc("history") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    private val outSchema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("mode", StringType, nullable = false),
      StructField("txn_id", StringType, nullable = true),
      StructField("n_files", IntegerType, nullable = false),
      StructField("timestamp_ms", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val rows = VersionedTable.versions(spark, path).reverse.map { v =>
        new GenericInternalRow(Array[Any](
          v.version, UTF8String.fromString(v.mode),
          v.txnId.map(UTF8String.fromString).orNull,
          v.nFiles, v.timestampMs))
      }
      result(outSchema, rows)
    }
  }

  /** `recluster(table, column, max_decay_per_file = 0.3,
    * target_file_mb = 128)` → (decay, triggered, version) — the
    * measure→decide→repair loop ([[VersionedTable.maintainClustering]])
    * from SQL: one row reporting the measured [[VersionedTable.clusteringDecay]]
    * (NaN when undecidable), whether it triggered, and the repair
    * commit (−1 when the layout was healthy). */
  private final class ReclusterProc(resolve: String => String)
      extends Proc("recluster") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("column", StringType).build(),
      ProcedureParameter.in("max_decay_per_file", DoubleType)
        .defaultValue("0.3").build(),
      ProcedureParameter.in("target_file_mb", IntegerType)
        .defaultValue("128").build())
    private val outSchema = StructType(Seq(
      StructField("decay", DoubleType, nullable = false),
      StructField("triggered", BooleanType, nullable = false),
      StructField("version", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val column = str(input, 1)
      // ONE measure serves both the decision and the report — a
      // separate clusteringDecay call could race a concurrent commit
      // and report a decay the decision never saw
      val (decay, v) = VersionedTable.maintainClusteringMeasured(
        spark, path, column,
        maxDecayPerFile = input.getDouble(2),
        targetFileBytes = input.getInt(3).toLong << 20)
      result(outSchema, Seq(new GenericInternalRow(Array[Any](
        decay.getOrElse(Double.NaN), v.nonEmpty, v.getOrElse(-1)))))
    }
  }

  /** `detail(table)` → ONE metadata row (DESCRIBE DETAIL): latest
    * version, file/row/byte totals, deletion-vector and column-mapping
    * feature state, and the declared stats index — everything an
    * operator needs to size maintenance, read from the manifest alone
    * (plus one file-status sweep for byte totals when a pre-size-field
    * manifest lacks them). `live_rows` is NULL when any file predates
    * row-count recording. */
  private final class DetailProc(resolve: String => String)
      extends Proc("detail") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    private val outSchema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("live_rows", LongType, nullable = true),
      StructField("total_bytes", LongType, nullable = false),
      StructField("dv_files", IntegerType, nullable = false),
      StructField("masked_rows", LongType, nullable = false),
      StructField("column_mapping", BooleanType, nullable = false),
      StructField("retired_columns", IntegerType, nullable = false),
      StructField("stats_cols", StringType, nullable = false),
      StructField("timestamp_ms", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val spk = spark
      val v = VersionedTable.latestVersion(spk, path).getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
      val d = VersionedTable.describeDetail(spk, path, v)
      result(outSchema, Seq(new GenericInternalRow(Array[Any](
        v, d.nFiles,
        java.lang.Long.valueOf(d.liveRows),
        d.totalBytes, d.dvFiles, d.maskedRows, d.columnMapping,
        d.retiredColumns, UTF8String.fromString(
          d.statsCols.mkString(",")), d.timestampMs))))
    }
  }

  /** `ndv(table)` → one row per stats column: the column's
    * distinct-count ESTIMATE merged from the manifest's per-file
    * HLL++ sketches (the same registers `approx_count_distinct` over
    * the table folds to — bit-identical, ±5% rsd), with ZERO data
    * files opened — the cardinality profile a 100 TB corpus cannot
    * afford to scan for. `ndv` is NULL when the ledger cannot prove
    * it (a deletion vector, a footer-harvested file, sketches
    * disabled) — exact-or-decline, like every metadata answer. */
  private final class NdvProc(resolve: String => String)
      extends Proc("ndv") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build())
    private val outSchema = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = true),
      StructField("files_with_sketch", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val spk = spark
      val v = VersionedTable.latestVersion(spk, path).getOrElse(
        throw new IllegalStateException(s"no committed versions at $path"))
      val entries = VersionedTable.readEntries(spk, path, v)
      val cols = VersionedTable.describeDetail(spk, path, v).statsCols
      result(outSchema, cols.map { c =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(c),
          VersionedTable.ndvEstimateAuto(entries, c)
            .map(java.lang.Long.valueOf).orNull,
          entries.count(_.ndvs.contains(c)),
          entries.size))
      })
    }
  }

  /** `materialize_dv(table, max_masked_fraction = 0.3,
    * target_file_mb = 128)` → (n_decayed, triggered, version) — the
    * DV-decay bound ([[VersionedTable.materializeDvAbove]]) from SQL:
    * rewrite ONLY the files whose manifest-recorded masked fraction
    * exceeds the bound, carrying every healthy file by reference.
    * `n_decayed` is the file count the policy selected (0 = nothing
    * over the bound), `version` the repair commit (-1 when it did not
    * trigger or lost an advisory race). */
  private final class MaterializeDvProc(resolve: String => String)
      extends Proc("materialize_dv") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_masked_fraction", DoubleType)
        .defaultValue("0.3").build(),
      ProcedureParameter.in("target_file_mb", IntegerType)
        .defaultValue("128").build())
    private val outSchema = StructType(Seq(
      StructField("n_decayed", IntegerType, nullable = false),
      StructField("triggered", BooleanType, nullable = false),
      StructField("version", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      // ONE measure serves both the decision and the report — a
      // separate entries read could race a concurrent commit and
      // report a count the decision never saw
      val (nDecayed, v) = VersionedTable.materializeDvAboveMeasured(
        spark, path, maxMaskedFraction = input.getDouble(1),
        targetFileBytes = input.getInt(2).toLong << 20)
      result(outSchema, Seq(new GenericInternalRow(Array[Any](
        nDecayed, v.nonEmpty, v.getOrElse(-1)))))
    }
  }

  /** `restore(table, version)` → (restored_from, new_version) — the
    * metadata-only rollback ([[VersionedTable.restoreTo]]). */
  private final class RestoreProc(resolve: String => String)
      extends Proc("restore") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", IntegerType).build())
    private val outSchema = StructType(Seq(
      StructField("restored_from", IntegerType, nullable = false),
      StructField("new_version", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      val target = input.getInt(1)
      val v = VersionedTable.restoreTo(spark, path, target)
      result(outSchema, Seq(new GenericInternalRow(
        Array[Any](target, v))))
    }
  }

  /** `expire(table, keep_last)` → (oldest_live, latest). */
  private final class ExpireProc(resolve: String => String)
      extends Proc("expire") {
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", IntegerType).build())
    private val outSchema = StructType(Seq(
      StructField("oldest_live", IntegerType, nullable = false),
      StructField("latest", IntegerType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val path = resolve(str(input, 0))
      VersionedTable.expire(spark, path, input.getInt(1))
      val vs = VersionedTable.versions(spark, path).map(_.version)
      result(outSchema, Seq(new GenericInternalRow(
        Array[Any](vs.min, vs.max))))
    }
  }
}
