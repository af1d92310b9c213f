package graft.sources

import java.util

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.VersionedTable

/** SQL-SURFACE TIME TRAVEL for versioned tables — a minimal
  * Spark `TableCatalog` so the first thing a Delta-habituated user
  * types just works, with no Scala glue:
  *
  * {{{
  *   // GraftSession's preset; elsewhere set at session construction
  *   // spark.sql.catalog.graft=graft.sources.VtCatalog
  *   spark.sql("SELECT * FROM graft.`/data/events` VERSION AS OF 3")
  *   spark.sql("SELECT * FROM graft.`/data/events` " +
  *     "TIMESTAMP AS OF '2026-08-01 00:00:00'")
  *   spark.sql("SELECT * FROM graft.sales.orders")  // <root>/sales/orders
  * }}}
  *
  * Identifier → path: a backticked name starting with `/` is an
  * absolute table path; otherwise namespace + name resolve under the
  * catalog's `root` option (`spark.sql.catalog.graft.root = /warehouse`).
  *
  * Resolution reads the commit log (latest version, `VERSION AS OF` =
  * an exact manifest, `TIMESTAMP AS OF` = [[VersionedTable.versionAsOf]]
  * on the commit wall clock — micros from Spark, millis in the log)
  * and hands Spark a DSv2 parquet table over EXACTLY that version's
  * file list with the manifest's recorded schema — so a dropped or
  * added column reads with the shape its version committed, and SQL
  * filter/column pushdown work as for any parquet scan.
  *
  * The FULL SQL verb surface lowers onto the same transactional
  * verbs every Scala writer uses — never a parallel write path:
  * `INSERT INTO` / `INSERT OVERWRITE` → [[VersionedTable.commit]];
  * `DELETE FROM ... WHERE` → [[VersionedTable.deleteWhere]] (when the
  * predicate translates to pushed filters; otherwise Spark's standard
  * cannot-delete-by-filter error, never a guess); `UPDATE` / `MERGE
  * INTO` → [[graft.plans.VtDmlStrategy]]'s planner lowering onto
  * `updateWhere`/`mergeInto`; `CREATE TABLE` / CTAS / `ALTER TABLE
  * ADD|RENAME|DROP COLUMN` / guarded `DROP TABLE` → the DDL overrides
  * below; maintenance → `CALL graft.optimize(...)` etc
  * ([[VtProcedures]]). Shapes the verbs cannot express (nested column
  * DDL, type changes, RENAME TABLE) refuse loudly and point at the
  * Scala API.
  *
  * Scale note: the catalog table answers name/schema straight from
  * the manifest and its delegate parquet table plans from the
  * listing-free [[org.apache.spark.sql.graftbridge
  * .VtManifestFileIndex]] (statuses synthesized from recorded byte
  * lengths) — NO statement phase ever lists the directory or the
  * file set (the stock InMemoryFileIndex eagerly lists every path:
  * a distributed job, ~20 s per statement at 60k files — `ScaleProbe
  * vtanalyze`). The manifest-SPAN-pruned planning path
  * ([[VtFileIndex]], the entry checkpoint) serves the Scala/
  * `graft-vt` read surface and the clean-scan rewrite.
  */
final class VtCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = "graft"
  private var root: Option[String] = None

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    if (ident.name.startsWith("/")) {
      require(ident.namespace.isEmpty,
        s"absolute-path table names take no namespace: $ident")
      ident.name
    } else root match {
      case Some(r) => (r +: (ident.namespace :+ ident.name)).mkString("/")
      case None => throw new IllegalArgumentException(
        s"$catalogName: relative table name '$ident' needs the catalog " +
          s"option spark.sql.catalog.$catalogName.root (or use an " +
          "absolute backticked path)")
    }

  private def spark: SparkSession = SparkSession.active

  private def tableAt(ident: Identifier, version: Int,
      writable: Boolean = false): Table = {
    val path = pathOf(ident)
    // SQL time travel must not read an UNDECIDED/ABORTED multi-table
    // pending manifest the Scala read() path would refuse
    VersionedTable.requireVisibleVersion(spark, path, version)
    val entries = VersionedTable.readEntries(spark, path, version)
    val schema = VersionedTable.schemaOf(spark, path, version)
    // the PLAIN SQL scan is a bare file list — it can neither mask
    // deletion vectors nor alias mapped columns. Such versions hand
    // back a table carrying `vtScanRefusal`, and the injected
    // [[graft.plans.VtMaskedScanRewrite]] swaps a SELECT's relation
    // onto the masking/aliasing read plan (version-pinned) — the same
    // lane latest-version tables ride; a session WITHOUT the rule
    // refuses loudly at scan materialization ([[VtScanGuard]]), never
    // a wrong answer. DML statements never scan the target
    // (UPDATE/MERGE/DELETE/INSERT lower onto the transactional verbs,
    // which mask and alias exactly).
    val scanRefusal =
      if (entries.exists(_.dv.nonEmpty))
        Some(s"version $version of $path carries deletion vectors — " +
          "the plain SQL scan cannot mask them; set " +
          "spark.sql.extensions=graft.GraftExtensions (as " +
          "GraftSession does), read via " +
          "VersionedTable.read, or materialize with compact()")
      else if (VersionedTable.schemaHasMapping(schema))
        Some(s"version $version of $path maps renamed columns — the " +
          "plain SQL scan cannot alias them; set " +
          "spark.sql.extensions=graft.GraftExtensions (as " +
          "GraftSession does), read via " +
          "VersionedTable.read, or rewrite with an overwrite commit")
      else None
    val files = entries.map(e => s"$path/${e.name}")
    val tblName = s"$catalogName.$ident@v$version"
    // LAZY inner table + LISTING-FREE file index: the stock FileTable
    // eagerly lists every path the moment its InMemoryFileIndex is
    // built (schema resolution at analysis, or V2 scan pushdown at
    // optimize — a distributed 10000-task job at 60k files, ~20 s per
    // STATEMENT measured by `ScaleProbe vtanalyze`; at 800k files on
    // an object store it would dominate every query). The catalog
    // table instead answers name/schema straight from the manifest,
    // and the parquet table it delegates scans to plans from
    // [[org.apache.spark.sql.graftbridge.VtManifestFileIndex]] —
    // statuses synthesized from the manifest's recorded byte lengths,
    // zero listings anywhere in the statement lifecycle.
    def pq = {
      val idx = new org.apache.spark.sql.graftbridge.VtManifestFileIndex(
        spark, path, entries.map(e => (e.name, e.size)))
      new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
        tblName, spark,
        CaseInsensitiveStringMap.empty(), files, Some(schema),
        classOf[org.apache.spark.sql.execution.datasources
          .parquet.ParquetFileFormat]) {
        override lazy val fileIndex
            : org.apache.spark.sql.execution.datasources
              .PartitioningAwareFileIndex = idx
      }
    }
    val hasMapping = VersionedTable.schemaHasMapping(schema)
    // SHOW TBLPROPERTIES surface — all derived from state tableAt
    // already read, no extra IO
    val props = {
      val m = new java.util.HashMap[String, String]()
      m.put("format", "graft-vt")
      m.put("path", path)
      m.put("version", version.toString)
      m.put("n_files", entries.size.toString)
      val sc = entries.flatMap(_.stats.keys).distinct.sorted
      if (sc.nonEmpty) m.put("stats_cols", sc.mkString(","))
      if (entries.exists(_.dv.nonEmpty)) m.put("deletion_vectors", "true")
      if (hasMapping) m.put("column_mapping", "true")
      java.util.Collections.unmodifiableMap(m)
    }
    // .asNullable matches FileTable's own normalization (file sources
    // treat every column nullable), so the swap is plan-invisible
    if (writable)
      new VtSqlTable(pq, tblName,
        org.apache.spark.sql.graftbridge.Bridge.asNullable(schema)
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        path, version,
        scanRefusal, hasMapping, props)
    else
      new VtTimeTravelTable(pq, tblName,
        org.apache.spark.sql.graftbridge.Bridge.asNullable(schema)
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        path, version, scanRefusal, hasMapping, props)
  }

  private def latestOrThrow(ident: Identifier): Int =
    VersionedTable.latestVersion(spark, pathOf(ident)).getOrElse(
      throw new NoSuchTableException(ident))

  override def loadTable(ident: Identifier): Table =
    tableAt(ident, latestOrThrow(ident), writable = true)

  /** `VERSION AS OF <v>` — an exact committed manifest. */
  override def loadTable(ident: Identifier, version: String): Table = {
    latestOrThrow(ident): Unit // table existence first, for clean errors
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$catalogName: VERSION AS OF takes an integer commit version, " +
          s"got '$version'")
    }
    tableAt(ident, v)
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands micros; the commit log
    * stamps millis. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    latestOrThrow(ident): Unit
    tableAt(ident, VersionedTable.versionAsOf(spark, pathOf(ident),
      timestampMicros / 1000L))
  }

  override def tableExists(ident: Identifier): Boolean =
    try VersionedTable.latestVersion(spark, pathOf(ident)).nonEmpty
    catch {
      case _: IllegalArgumentException => false
      // a crashed drop's tombstone: the remains exist (so DROP ...
      // PURGE can reach purgeTable and finish), reads keep refusing
      case e: IllegalStateException
          if e.getMessage.contains("DROPPED") => true
    }

  /** Directories under `root`/namespace holding a `_graft_log`. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    root match {
      case None => Array.empty
      case Some(r) =>
        val base = new org.apache.hadoop.fs.Path(
          (r +: namespace.toSeq).mkString("/"))
        val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
        if (!fs.exists(base)) Array.empty
        else fs.listStatus(base).filter(_.isDirectory)
          .filter(st => fs.exists(
            new org.apache.hadoop.fs.Path(st.getPath, "_graft_log")))
          .map(st => Identifier.of(namespace, st.getPath.getName))
    }

  /** The LATEST-version table handed to plain (non-travel) SQL reads:
    * scans delegate to the inner DSv2 parquet table over the version's
    * exact file list; `INSERT INTO` / `INSERT OVERWRITE` route through
    * [[VersionedTable.commit]] via the V1 write fallback — the SAME
    * transactional append/overwrite every other writer uses (one
    * commit per INSERT, constraints enforced, optimistic slot retry),
    * never a second write path. Time-travel tables stay read-only
    * (inserting into the past is not a thing). */
  private final class VtSqlTable(
      inner: => org.apache.spark.sql.execution.datasources.v2
        .parquet.ParquetTable,
      tblName: String,
      tableSchema: org.apache.spark.sql.types.StructType,
      path: String,
      version: Int,
      scanRefusal: Option[String] = None,
      hasMapping: Boolean = false,
      props: java.util.Map[String, String] =
        java.util.Collections.emptyMap()) extends Table
      with VtWritableTable
      with org.apache.spark.sql.connector.catalog.SupportsRead
      with org.apache.spark.sql.connector.catalog.SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsDelete {
    private lazy val innerTable = inner
    override def vtPath: String = path
    override def vtVersion: Int = version
    override def vtScanRefusal: Option[String] = scanRefusal
    override def vtHasMapping: Boolean = hasMapping
    override def properties(): java.util.Map[String, String] = props
    import org.apache.spark.sql.connector.catalog.TableCapability
    override def name(): String = tblName
    // the MANIFEST's recorded schema, never the file table's (whose
    // resolution would partition-infer = LIST every file at analysis;
    // graft tables are unpartitioned file sets, so the two agree)
    override def schema(): org.apache.spark.sql.types.StructType =
      tableSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    /** The refusal must fire when a scan would actually EXECUTE, not
      * when one is merely planned: the optimizer's V2 pushdown calls
      * `newScanBuilder`/`build` on the target relation of an UPDATE/
      * MERGE/DELETE plan too, and those commands never run the scan —
      * they lower onto the masking transactional verbs. A dynamic
      * proxy keeps every pushdown mixin of the real builder/scan
      * intact and intercepts only the batch-materialization calls. */
    override def newScanBuilder(options: CaseInsensitiveStringMap) =
      scanRefusal match {
        case None => innerTable.newScanBuilder(options)
        case Some(msg) => VtScanGuard.guardBuilder(
          innerTable.newScanBuilder(options), msg)
      }

    /** `DELETE FROM graft.t WHERE ...` → [[VersionedTable.deleteWhere]]
      * (the transactional touched-files-only delete) when every pushed
      * filter translates to a Column predicate; an untranslatable
      * WHERE makes `canDeleteWhere` false and Spark raises its
      * standard "cannot delete by filter" error instead of guessing. */
    override def canDeleteWhere(
        filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
      filters.forall(filterToColumn(_).nonEmpty)

    override def deleteWhere(
        filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
      val pred = filters.flatMap(filterToColumn)
        .reduceOption(_ && _)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      VersionedTable.deleteWhere(SparkSession.active, path, pred): Unit
    }

    private def filterToColumn(
        f: org.apache.spark.sql.sources.Filter): Option[Column] = {
      import org.apache.spark.sql.sources._
      import org.apache.spark.sql.functions.{col, lit}
      f match {
        case EqualTo(a, v) => Some(col(a) === lit(v))
        case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
        case GreaterThan(a, v) => Some(col(a) > lit(v))
        case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
        case LessThan(a, v) => Some(col(a) < lit(v))
        case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
        case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
        case IsNull(a) => Some(col(a).isNull)
        case IsNotNull(a) => Some(col(a).isNotNull)
        case And(l, r) => for (lc <- filterToColumn(l);
          rc <- filterToColumn(r)) yield lc && rc
        case Or(l, r) => for (lc <- filterToColumn(l);
          rc <- filterToColumn(r)) yield lc || rc
        case Not(c) => filterToColumn(c).map(!_)
        case StringStartsWith(a, v) => Some(col(a).startsWith(v))
        case StringEndsWith(a, v) => Some(col(a).endsWith(v))
        case StringContains(a, v) => Some(col(a).contains(v))
        case _: AlwaysTrue => Some(lit(true))
        case _: AlwaysFalse => Some(lit(false))
        case _ => None
      }
    }
    override def newWriteBuilder(
        info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
        org.apache.spark.sql.connector.write.WriteBuilder =
      new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
        private var overwrite = false
        override def truncate(): this.type = { overwrite = true; this }
        override def build(): org.apache.spark.sql.connector.write.Write =
          new org.apache.spark.sql.connector.write.V1Write {
            override def toInsertableRelation
                : org.apache.spark.sql.sources.InsertableRelation =
              (data: org.apache.spark.sql.DataFrame, ow: Boolean) =>
                VersionedTable.commit(data, path,
                  overwrite = overwrite || ow): Unit
          }
      }
  }

  /** A TIME-TRAVEL table over a DV'd or column-mapped version:
    * read-only (it deliberately carries [[VtTable]], NOT
    * [[VtWritableTable]] — mutating the past is not a thing, and the
    * DML strategy must never match it), with the scan guarded exactly
    * like [[VtSqlTable]]'s: the masked-scan rewrite serves the SELECT
    * when registered; otherwise the guard refuses at materialization.
    * Healthy time-travel versions carry it too (with no refusal the
    * scan passes straight through — zero overhead): the [[VtTable]]
    * marker is what lets [[graft.plans.VtMetadataAgg]] fold a
    * whole-table count/min/max of ANY pinned version from its
    * manifest. */
  private final class VtTimeTravelTable(
      inner: => org.apache.spark.sql.execution.datasources.v2
        .parquet.ParquetTable,
      tblName: String,
      tableSchema: org.apache.spark.sql.types.StructType,
      path: String,
      version: Int,
      scanRefusal: Option[String],
      hasMapping: Boolean = false,
      props: java.util.Map[String, String] =
        java.util.Collections.emptyMap()) extends Table
      with VtTable
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    private lazy val innerTable = inner
    override def vtPath: String = path
    override def vtVersion: Int = version
    override def vtScanRefusal: Option[String] = scanRefusal
    override def vtHasMapping: Boolean = hasMapping
    override def properties(): java.util.Map[String, String] = props
    import org.apache.spark.sql.connector.catalog.TableCapability
    override def name(): String = tblName
    override def schema(): org.apache.spark.sql.types.StructType =
      tableSchema // the manifest's, not the file table's (see above)
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap) =
      scanRefusal match {
        case None => innerTable.newScanBuilder(options)
        case Some(msg) => VtScanGuard.guardBuilder(
          innerTable.newScanBuilder(options), msg)
      }
  }

  /** Maintenance verbs as Spark 4 stored procedures — `CALL
    * graft.optimize(table => '/t')` etc.; see [[VtProcedures]]. The
    * `table` argument resolves exactly like a table identifier:
    * absolute path, or a name under the catalog's `root`. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    VtProcedures.load(ident.name, arg =>
      if (arg.startsWith("/")) arg
      else root match {
        case Some(r) => s"$r/$arg"
        case None => throw new IllegalArgumentException(
          s"$catalogName: relative table '$arg' needs the catalog " +
            s"option spark.sql.catalog.$catalogName.root")
      })

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    VtProcedures.names.map(n => Identifier.of(namespace, n))

  /** `CREATE TABLE` / CTAS: commit version 0 as the (possibly empty)
    * overwrite every other writer would make — the table IS its commit
    * log, so creation is just the first commit. CTAS rides Spark's
    * non-atomic V2 path: this createTable commits the empty v0, then
    * the returned writable table's V1 write appends the SELECT as v1
    * (both transactional commits; a crashed CTAS leaves an empty
    * table, never torn data). `TBLPROPERTIES('stats_cols'='a,b')`
    * declares the manifest span/bloom index once at creation —
    * inherited by every later commit. PARTITIONED BY refuses: layout
    * is the engine's job (`clusterBy` at commit/OPTIMIZE time), not a
    * directory scheme frozen at CREATE. */
  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = {
    val path = pathOf(ident)
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      s"$catalogName: PARTITIONED BY is not supported — graft-vt " +
        "tables cluster by sort order (commit/OPTIMIZE clusterBy + " +
        "manifest span pruning), not by directory layout; declare " +
        "TBLPROPERTIES('stats_cols'='...') instead")
    if (properties.containsKey(TableCatalog.PROP_LOCATION))
      throw new UnsupportedOperationException(
        s"$catalogName: LOCATION is not supported — the table " +
          "identifier IS the location (an absolute backticked path, " +
          "or a name under the catalog root)")
    // refuse unknown user properties LOUDLY (a typo'd 'stats_cols'
    // silently losing the index declaration is the failure mode);
    // Spark injects its own bookkeeping keys — those pass
    val sparkManaged = Set(TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL, "stats_cols")
    val unknown = properties.keySet.toArray.map(_.toString)
      .filterNot(k => sparkManaged.contains(k) || k.startsWith("option."))
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"$catalogName: unknown TBLPROPERTIES ${unknown.mkString(",")} — " +
        "supported: 'stats_cols' (comma list of span/bloom index " +
        "columns)")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val declared = Option(properties.get("stats_cols")).toSeq
      .flatMap(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    // the VALUE gets the same typo protection as the key: a declared
    // index column must exist in the schema (case-insensitively, as
    // SQL resolves), or the table is born with a silently-dead index
    val canonical = schema.fieldNames.map(f => f.toLowerCase -> f).toMap
    val missing = declared.filterNot(c => canonical.contains(c.toLowerCase))
    if (missing.nonEmpty) throw new UnsupportedOperationException(
      s"$catalogName: stats_cols name columns the schema lacks: " +
        s"${missing.mkString(",")} (schema: " +
        s"${schema.fieldNames.mkString(",")})")
    // commit the SCHEMA's case, not the declaration's: the footer
    // harvest matches chunk paths case-sensitively, so a case-variant
    // declaration would be the same silently-dead index
    val statsCols = declared.map(c => canonical(c.toLowerCase))
    // expectVersion = 0 pins creation to slot 0 and maxRetries = 0
    // forbids re-slotting: whether another creator fully landed
    // between our existence probe and the listing, or we lose the
    // true slot-0 promote race, the overwrite must NEVER retry at a
    // later slot (that would silently replace their table) — both
    // paths surface the standard already-exists error
    try VersionedTable.commit(
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
      path, overwrite = true, statsCols = statsCols, maxRetries = 0,
      expectVersion = Some(0)): Unit
    catch {
      case e: IllegalStateException if e.getMessage.contains("race") =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
    }
    loadTable(ident)
  }

  /** `ALTER TABLE`: each change lowers onto the matching
    * transactional metadata-only verb — ADD COLUMN →
    * [[VersionedTable.addColumn]] (old files back-fill null), RENAME
    * COLUMN → [[VersionedTable.renameColumn]] (column mapping, zero
    * rewrite), DROP COLUMN → [[VersionedTable.dropColumn]] (physical
    * name retired), SET TBLPROPERTIES('stats_cols') →
    * [[VersionedTable.setStatsCols]]. The WHOLE statement lowers onto
    * ONE atomic `alter` commit ([[VersionedTable.alterColumnsBatch]]):
    * either every change lands or none does. Earlier versions
    * time-travel with their own shapes. Shapes the verbs cannot
    * express (nested fields, positions, defaults, type changes,
    * other properties) refuse loudly. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val path = pathOf(ident)
    latestOrThrow(ident): Unit
    def single(what: String, fieldNames: Array[String]): String = {
      if (fieldNames.length != 1) throw new UnsupportedOperationException(
        s"$catalogName: ALTER TABLE $what on a NESTED field " +
          s"(${fieldNames.mkString(".")}) is not supported — the " +
          "column DDL verbs operate on top-level columns")
      fieldNames(0)
    }
    // VALIDATE every change's SHAPE first, then lower the WHOLE
    // statement onto ONE atomic alter commit — either every change
    // lands (one new version) or none does.
    def shapeCheck(c: TableChange): Unit = c match {
      case a: TableChange.AddColumn =>
        single("ADD COLUMN", a.fieldNames): Unit
        if (a.position != null) throw new UnsupportedOperationException(
          s"$catalogName: ADD COLUMN FIRST/AFTER is not supported — " +
            "columns append at the end of the schema")
        if (a.defaultValue != null) throw new UnsupportedOperationException(
          s"$catalogName: ADD COLUMN DEFAULT is not supported — old " +
            "files back-fill null; backfill values with UPDATE")
        if (!a.isNullable) throw new UnsupportedOperationException(
          s"$catalogName: an added column must be nullable — " +
            "existing rows cannot conjure values")
      case r: TableChange.RenameColumn =>
        single("RENAME COLUMN", r.fieldNames): Unit
      case d: TableChange.DeleteColumn =>
        single("DROP COLUMN", d.fieldNames): Unit
      case p: TableChange.SetProperty if p.property == "stats_cols" => ()
      case other => throw new UnsupportedOperationException(
        s"$catalogName: ALTER TABLE change ${other.getClass.getSimpleName} " +
          "is not supported — supported: ADD COLUMN, RENAME COLUMN, " +
          "DROP COLUMN, SET TBLPROPERTIES ('stats_cols' = ...) " +
          "(type changes need an overwrite rewrite)")
    }
    changes.foreach(shapeCheck)
    val lowered = changes.flatMap {
      case a: TableChange.AddColumn =>
        Some(VersionedTable.ColumnChange.Add(a.fieldNames()(0),
          a.dataType))
      case r: TableChange.RenameColumn =>
        Some(VersionedTable.ColumnChange.Rename(r.fieldNames()(0),
          r.newName))
      case d: TableChange.DeleteColumn =>
        val name = d.fieldNames()(0)
        val absent = !VersionedTable.latestVersion(spark, path)
          .map(v => VersionedTable.schemaOf(spark, path, v))
          .exists(_.fieldNames.contains(name))
        if (absent && java.lang.Boolean.TRUE == d.ifExists()) None
        else Some(VersionedTable.ColumnChange.Drop(name))
      case p: TableChange.SetProperty =>
        // re-declare the span/bloom index without a rewrite: new files
        // collect for the new set, old files prune on what they have
        Some(VersionedTable.ColumnChange.SetStats(
          p.value.split(',').toSeq.map(_.trim).filter(_.nonEmpty)))
      case other => throw new IllegalStateException(
        s"unreachable: $other passed shapeCheck")
    }
    if (lowered.nonEmpty)
      VersionedTable.alterColumnsBatch(spark, path, lowered): Unit
    loadTable(ident)
  }

  /** `DROP TABLE` is GUARDED: it refuses unless EVERY live version is
    * provably empty (metadata-only zero row counts) — one statement
    * must not be able to delete 100 TB, and "the latest version is
    * empty" is not "the table holds nothing": a TRUNCATE/DELETE-all
    * leaves every prior version's data time-travelable. `DROP TABLE
    * ... PURGE` ([[purgeTable]]) is the explicit force. */
  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val path = pathOf(ident)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def sweep(): Option[(Int, Long)] =
      VersionedTable.versions(spark, path).iterator.map(v =>
        (v.version, VersionedTable.countRows(spark, path,
          Some(v.version)))).find(_._2 != 0L)
    def refuse(v: Int, rows: Long): Nothing =
      throw new UnsupportedOperationException(
        s"$catalogName: DROP TABLE refuses — version $v of $path " +
          s"holds $rows rows and dropping " +
          "deletes every version's data; use DROP TABLE ... PURGE to " +
          "force, or expire()/vacuum for retention")
    sweep().foreach((refuse _).tupled)
    // TOMBSTONE-then-resweep closes the check-then-act window: the
    // tombstone blocks every new commit (listing + promote-time
    // checks), and the second sweep catches any commit that landed
    // between the first sweep and the tombstone — refusing aborts the
    // drop cleanly
    VersionedTable.markDropped(fs, root)
    // The late sweep walks RAW slots (pendings included) — any refusal
    // or unexpected failure here must UNMARK before surfacing, or the
    // leaked tombstone bricks a table that was never deleted. Slot
    // classification: an ABORTED multi-table pending holds no
    // committed data (skip); an UNDECIDED one could still commit
    // (refuse the drop); anything else non-empty refuses as before.
    val late =
      try VersionedTable.listVersionNumbersRaw(fs, root,
        ignoreDropped = true).iterator.map { v =>
          val rows =
            try VersionedTable.countRows(spark, path, Some(v))
            catch {
              case _: VersionedTable.TxnInDoubtException =>
                throw new UnsupportedOperationException(
                  s"$catalogName: DROP TABLE refuses — version $v of " +
                    s"$path belongs to an UNDECIDED multi-table txn " +
                    "that could still commit; decide it first")
              case _: VersionedTable.TxnAbortedSlotException =>
                0L // aborted pending: no committed data in it
            }
          (v, rows)
        }.find(_._2 != 0L)
      catch {
        case t: Throwable =>
          VersionedTable.unmarkDropped(fs, root)
          throw t
      }
    late.foreach { case (v, rows) =>
      VersionedTable.unmarkDropped(fs, root)
      refuse(v, rows)
    }
    fs.delete(root, true)
  }

  /** `DROP TABLE ... PURGE`: delete the table root — data files,
    * sidecars, and the whole commit log. The explicit, spelled-out
    * destructive verb; tombstones first so concurrent commits refuse
    * loudly instead of landing into the purge. Also finishes a drop
    * that crashed between its tombstone and the delete. */
  override def purgeTable(ident: Identifier): Boolean = {
    val root = new org.apache.hadoop.fs.Path(pathOf(ident))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_log")))
      return false
    VersionedTable.markDropped(fs, root)
    fs.delete(root, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: RENAME TABLE is not supported — a graft-vt " +
        "table is addressed by its path; cloneTo copies a version to " +
        "a new root transactionally")
}
