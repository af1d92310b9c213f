package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.VersionedTable

/** SQL-surface time travel: `VERSION AS OF` / `TIMESTAMP AS OF` must
  * resolve through the commit log with no Scala glue, read-only verbs
  * must refuse loudly, and every travel answer must equal the Scala
  * API's for the same version. */
class VtCatalogSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpRoot(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_cat_").toFile
    d.deleteOnExit()
    d
  }

  test("VERSION AS OF and latest resolve through spark.sql only") {
    val t = new java.io.File(tmpRoot(), "t").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, s"v0_$i")).toDF("id", "s"), t,
      overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") < 40L)
    VersionedTable.commit(
      (200L until 210L).map(i => (i, s"v2_$i")).toDF("id", "s"), t,
      overwrite = false)

    def ids(sql: String): Seq[Long] =
      spark.sql(sql).select("id").collect().map(_.getLong(0)).sorted.toSeq

    assert(ids(s"SELECT id FROM graft.`$t` VERSION AS OF 0") ==
      (0L until 100L))
    assert(ids(s"SELECT id FROM graft.`$t` VERSION AS OF 1") ==
      (40L until 100L))
    assert(ids(s"SELECT id FROM graft.`$t`") ==
      ((40L until 100L) ++ (200L until 210L)))
    // and the SQL answer equals the Scala API's, version by version
    for (v <- 0 to 2)
      assert(ids(s"SELECT id FROM graft.`$t` VERSION AS OF $v") ==
        VersionedTable.read(spark, t, Some(v)).select("id")
          .as[Long].collect().sorted.toSeq)
    // pushdown-friendly: a filtered travel query still answers right
    assert(ids(s"SELECT id FROM graft.`$t` VERSION AS OF 0 " +
      "WHERE id BETWEEN 10 AND 12") == Seq(10L, 11L, 12L))
  }

  test("TIMESTAMP AS OF resolves the commit wall clock") {
    val t = new java.io.File(tmpRoot(), "ts").getAbsolutePath
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), t,
      overwrite = true)
    Thread.sleep(30)
    val between = java.time.Instant.now()
    Thread.sleep(30)
    VersionedTable.commit(Seq((2L, "b")).toDF("id", "s"), t,
      overwrite = false)
    val got = spark.sql(s"SELECT id FROM graft.`$t` TIMESTAMP AS OF " +
        s"'${java.sql.Timestamp.from(between)}'")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"the pre-append snapshot: $got")
  }

  test("relative names under root; SHOW TABLES; schema travels too") {
    val root = tmpRoot()
    spark.conf.set("spark.sql.catalog.graftw", "graft.sources.VtCatalog")
    spark.conf.set("spark.sql.catalog.graftw.root", root.getAbsolutePath)
    val t = new java.io.File(root, "orders").getAbsolutePath
    VersionedTable.commit(Seq((1L, "x")).toDF("id", "s"), t,
      overwrite = true)
    // schema evolution: v1 adds a column; each version reads its shape
    VersionedTable.commit(Seq((2L, "y", 9L)).toDF("id", "s", "extra"), t,
      overwrite = false)
    assert(spark.sql("SELECT * FROM graftw.orders VERSION AS OF 0")
      .columns.toSeq == Seq("id", "s"))
    assert(spark.sql("SELECT * FROM graftw.orders")
      .columns.toSeq == Seq("id", "s", "extra"))
    val listed = spark.sql("SHOW TABLES IN graftw").collect()
      .map(_.getString(1)).toSeq
    assert(listed == Seq("orders"), s"SHOW TABLES: $listed")
  }

  test("INSERT INTO / OVERWRITE route through the transactional commit") {
    val t = new java.io.File(tmpRoot(), "ins").getAbsolutePath
    VersionedTable.commit((0L until 5L).map(i => (i, s"v$i"))
      .toDF("id", "s"), t, overwrite = true)
    spark.sql(s"INSERT INTO graft.`$t` VALUES (100, 'sql_a'), (101, 'sql_b')")
    assert(VersionedTable.read(spark, t).count() == 7)
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "append"),
      "INSERT INTO must be ONE append commit")
    // INSERT with a SELECT body
    spark.sql(s"INSERT INTO graft.`$t` " +
      s"SELECT id + 200, concat('c_', s) FROM graft.`$t` WHERE id < 2")
    assert(VersionedTable.read(spark, t).where(col("id") >= 200L)
      .count() == 2)
    // INSERT OVERWRITE replaces the content as ONE overwrite commit
    spark.sql(s"INSERT OVERWRITE graft.`$t` VALUES (7, 'only')")
    assert(VersionedTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "only")))
    assert(VersionedTable.versions(spark, t).last.mode == "overwrite")
    // time travel still sees every pre-INSERT state
    assert(VersionedTable.read(spark, t, Some(0)).count() == 5)
    // CHECK constraints gate SQL INSERTs like any commit
    VersionedTable.setConstraint(spark, t, "pos", "id IS NOT NULL AND id > 0")
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$t` VALUES (-1, 'bad')")
    }
    assert(VersionedTable.read(spark, t).count() == 1,
      "a refused INSERT must land nothing")
  }

  test("DELETE FROM routes through the transactional touched-files delete") {
    val t = new java.io.File(tmpRoot(), "del").getAbsolutePath
    VersionedTable.commit(
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    spark.sql(s"DELETE FROM graft.`$t` WHERE id < 50 OR id IN (60, 61)")
    val got = VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq
    assert(got == (50L until 200L).filterNot(Set(60L, 61L)))
    // committed as ONE delta-sized delete version; untouched files carry
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "delete"))
    assert(VersionedTable.files(spark, t, 1).toSet
      .intersect(VersionedTable.files(spark, t, 0).toSet).nonEmpty,
      "the SQL delete must carry untouched files by reference")
    // time travel still answers pre-delete
    assert(VersionedTable.read(spark, t, Some(0)).count() == 200)
    // TRUNCATE TABLE = delete-all as one more versioned commit
    spark.sql(s"TRUNCATE TABLE graft.`$t`")
    assert(VersionedTable.read(spark, t).count() == 0)
    assert(VersionedTable.read(spark, t, Some(1)).count() > 0,
      "pre-truncate versions stay time-travelable")
  }

  test("VERSION AS OF a pending/aborted multi-table manifest refuses") {
    val root = tmpRoot()
    val t = new java.io.File(root, "pend").getAbsolutePath
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), t,
      overwrite = true)
    // stage an UNDECIDED multi-table pending at v1: SQL time travel
    // naming that raw manifest number must refuse, never leak the rows
    val uri = s"$root/txns/sqlvis.decision"
    VersionedTable.commitImpl(
      Seq((99L, "secret")).toDF("id", "s"), t, overwrite = false,
      txnId = Some("sqlvis_0"), statsCols = Seq.empty, maxRetries = 5,
      onBeforeManifestCommit = () => (), pendingTxn = Some(uri))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("UNDECIDED") ||
      Option(e.getCause).exists(_.getMessage.contains("UNDECIDED")),
      e.getMessage)
    // plain (latest) SQL reads keep answering from the decided v0
    assert(spark.sql(s"SELECT id FROM graft.`$t`")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // after ABORT the refusal flips to 'aborted' — still never data
    graft.operators.MultiTableTxn.abort(spark, s"$root/txns", "sqlvis")
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1").collect()
    }
    assert(e2.getMessage.contains("ABORTED") ||
      Option(e2.getCause).exists(_.getMessage.contains("ABORTED")),
      e2.getMessage)
  }

  test("SQL UPDATE lowers onto updateWhere: pre-image, delta-sized") {
    val t = new java.io.File(tmpRoot(), "upd").getAbsolutePath
    VersionedTable.commit(
      (0L until 200L).map(i => (i, i * 10L, i * 100L)).toDF("id", "a", "b")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // the multi-SET swap through SQL text only — pre-image semantics
    spark.sql(s"UPDATE graft.`$t` SET a = b + 1, b = a + 1 " +
      "WHERE id BETWEEN 10 AND 19")
    val got = spark.sql(s"SELECT a, b FROM graft.`$t` WHERE id = 15")
      .collect()(0)
    assert((got.getLong(0), got.getLong(1)) == (1501L, 151L),
      s"pre-image swap expected, got $got")
    assert(spark.sql(s"SELECT a FROM graft.`$t` WHERE id = 100")
      .collect()(0).getLong(0) == 1000L, "untouched rows stay")
    // ONE update commit, untouched files carried by reference
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "update"))
    assert(VersionedTable.files(spark, t, 1).toSet
      .intersect(VersionedTable.files(spark, t, 0).toSet).nonEmpty,
      "files outside the id band must carry by reference")
    // out-of-contract shapes refuse loudly, nothing half-applies
    val e = intercept[Exception] {
      spark.sql(s"UPDATE graft.`$t` SET a = " +
        s"(SELECT max(a) FROM graft.`$t`) WHERE id = 0").collect()
    }
    assert(e.getMessage.contains("graft SQL UPDATE") ||
      e.getMessage.toLowerCase.contains("subquer"), e.getMessage)
    assert(VersionedTable.latestVersion(spark, t).contains(1))
  }

  test("SQL MERGE INTO lowers onto mergeInto: upsert and CDC tombstones") {
    val root = tmpRoot()
    val t = new java.io.File(root, "mrg").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, s"v0_$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // plain upsert: UPDATE SET * / INSERT * over a source view
    (90L until 110L).map(i => (i, s"new_$i")).toDF("id", "s")
      .createOrReplaceTempView("mrg_src")
    spark.sql(s"MERGE INTO graft.`$t` AS t USING mrg_src AS s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val rows = spark.sql(s"SELECT id, s FROM graft.`$t`")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 110)
    assert(rows(95L) == "new_95" && rows(105L) == "new_105" &&
      rows(10L) == "v0_10")
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "merge"))
    assert(VersionedTable.files(spark, t, 1).toSet
      .intersect(VersionedTable.files(spark, t, 0).toSet).nonEmpty,
      "files below the merge band must carry by reference")
    // CDC apply: tombstoned keys delete, others upsert — one statement
    Seq((105L, "upd_105", false), (10L, "x", true), (500L, "ins_500", false),
      (600L, "dead", true))
      .toDF("id", "s", "del").createOrReplaceTempView("mrg_cdc")
    spark.sql(s"MERGE INTO graft.`$t` AS t USING mrg_cdc AS s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND s.del THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED AND NOT s.del THEN INSERT *")
    val rows2 = spark.sql(s"SELECT id, s FROM graft.`$t`")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows2.size == 110, s"110 = 110 - del(10) + ins(500): ${rows2.size}")
    assert(!rows2.contains(10L) && rows2(105L) == "upd_105" &&
      rows2(500L) == "ins_500" && !rows2.contains(600L))
    // out-of-contract: NOT MATCHED BY SOURCE refuses loudly
    val e = intercept[Exception] {
      spark.sql(s"MERGE INTO graft.`$t` AS t USING mrg_cdc AS s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE").collect()
    }
    assert(e.getMessage.contains("graft SQL MERGE"), e.getMessage)
  }

  /** A sibling session on the fixture's context with only the DML
    * strategy and the catalog conf, none of GraftExtensions' optimizer
    * rules: the fallback posture of a session that never set
    * `spark.sql.extensions`. */
  private def sessionWithoutRules(): SparkSession =
    org.apache.spark.sql.graftbridge.Bridge.sessionWithExtensions(
      spark.sparkContext,
      _.injectPlannerStrategy(_ => graft.plans.VtDmlStrategy))

  test("SQL DML keeps working on a DV'd table; only the SCAN refuses") {
    // pins the FALLBACK behavior (no masked-scan rewrite in the session)
    val bare = sessionWithoutRules()
    val t = new java.io.File(tmpRoot(), "dvdml").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, i * 10L)).toDF("id", "a")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") % 5 === 0,
      deletionVectors = true)
    // the plain SELECT refuses (a file scan cannot mask)...
    val e = intercept[Exception] {
      bare.sql(s"SELECT * FROM graft.`$t`").collect()
    }
    assert(e.getMessage.contains("deletion vectors") ||
      Option(e.getCause).exists(_.getMessage.contains("deletion vectors")),
      e.getMessage)
    // ...but every DML verb still lowers onto the masking Scala verbs
    bare.sql(s"UPDATE graft.`$t` SET a = a + 1 WHERE id = 1")
    bare.sql(s"DELETE FROM graft.`$t` WHERE id = 2")
    bare.sql(s"INSERT INTO graft.`$t` VALUES (1000, 1)")
    // OPTIMIZE materializes the vectors; the scan comes back
    bare.sql(s"CALL graft.optimize(table => '$t', full => true)")
    val rows = bare.sql(s"SELECT id, a FROM graft.`$t`")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!rows.contains(5L) && !rows.contains(2L),
      "DV-masked and SQL-deleted rows stay gone")
    assert(rows(1L) == 11L, "the SQL UPDATE applied on the masked view")
    assert(rows(1000L) == 1L, "the SQL INSERT landed")
    assert(rows.size == 80 - 1 + 1)
    // same posture for COLUMN MAPPING: after a rename, the SCAN
    // refuses (cannot alias) but DML keeps flowing under logical names
    VersionedTable.renameColumn(spark, t, "a", "amount")
    val e2 = intercept[Exception] {
      bare.sql(s"SELECT * FROM graft.`$t`").collect()
    }
    assert(e2.getMessage.contains("renamed columns") ||
      Option(e2.getCause).exists(_.getMessage.contains("renamed columns")),
      e2.getMessage)
    bare.sql(s"UPDATE graft.`$t` SET amount = amount + 5 WHERE id = 1")
    assert(VersionedTable.read(spark, t).where(col("id") === 1L)
      .select("amount").as[Long].collect().head == 16L,
      "SQL UPDATE must keep working on a mapped table")
  }

  test("masked-scan rewrite: SQL SELECT answers over DV'd+mapped tables") {
    val t = new java.io.File(tmpRoot(), "dvsel").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, i * 10L)).toDF("id", "a")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") % 5 === 0,
      deletionVectors = true)
    VersionedTable.renameColumn(spark, t, "a", "amount")
    // plain SELECT: masked AND aliased, no compaction needed
    val rows = spark.sql(
      s"SELECT id, amount FROM graft.`$t` WHERE id < 20")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == (0L until 20L).filterNot(_ % 5 == 0).toSet,
      s"mask must apply through SQL: ${rows.keySet.toSeq.sorted}")
    assert(rows(7L) == 70L)
    // aggregates, filters, self-joins ride the rewritten plan
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 80L)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$t` x JOIN graft.`$t` y " +
        "ON x.id = y.id").collect()(0).getLong(0) == 80L,
      "self-join: each occurrence rewrites with fresh ids")
    // the rewrite must stay PLAN-EFFICIENT: the predicate reaches the
    // parquet scans of the masked plan as pushed filters (the rewrite
    // happens pre-planning, so V1 FileSourceStrategy pushdown applies)
    val plan = spark.sql(
      s"SELECT id, amount FROM graft.`$t` WHERE id < 20")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("LessThan(id,20)"),
      s"filters must push into the rewritten scans:\n$plan")
    // DML on the same table still lowers onto the verbs (root Command
    // plans are exempt from the rewrite)
    spark.sql(s"UPDATE graft.`$t` SET amount = 0 WHERE id = 7")
    assert(spark.sql(s"SELECT amount FROM graft.`$t` WHERE id = 7")
      .collect()(0).getLong(0) == 0L)
    // the masked relation rewrites inside SUBQUERY EXPRESSIONS too —
    // plain transform never descends into expression-held plans
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$t` WHERE id IN " +
        s"(SELECT id FROM graft.`$t` WHERE amount = 0)")
      .collect()(0).getLong(0) == 1L,
      "an IN-subquery over the DV'd+mapped table must answer")
    // healthy tables never rewrite: after OPTIMIZE the stock scan runs
    spark.sql(s"CALL graft.optimize(table => '$t', full => true)")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 80L)
  }

  test("SQL DDL: CREATE/CTAS/ALTER/DROP lower onto the metadata verbs") {
    val dir = tmpRoot()
    val t = new java.io.File(dir, "ddl").getAbsolutePath
    // CREATE TABLE = the empty v0 overwrite, stats index declared once
    spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('stats_cols' = 'id')")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").count() == 0)
    assert(VersionedTable.versions(spark, t).map(_.mode) == Seq("overwrite"))
    intercept[Exception] { // double-create refuses as the standard error
      spark.sql(s"CREATE TABLE graft.`$t` (x INT)")
    }
    spark.sql(s"INSERT INTO graft.`$t` VALUES (1, 'a'), (2, 'b')")
    // the CREATE-time stats index is inherited by the INSERT commit
    assert(VersionedTable.statsSpan(spark, t, "id")
      .contains(Some((1L, 2L))), "stats_cols must carry to appends")
    // ADD COLUMN: metadata-only alter commit, old rows back-fill null
    val before = VersionedTable.files(spark, t,
      VersionedTable.latestVersion(spark, t).get).toSet
    spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMN score DOUBLE")
    assert(VersionedTable.files(spark, t,
      VersionedTable.latestVersion(spark, t).get).toSet == before,
      "ADD COLUMN must write zero data files")
    spark.sql(s"INSERT INTO graft.`$t` VALUES (3, 'c', 9.5D)")
    // RENAME COLUMN: column mapping, zero data files
    spark.sql(s"ALTER TABLE graft.`$t` RENAME COLUMN s TO label")
    assert(VersionedTable.files(spark, t,
      VersionedTable.latestVersion(spark, t).get).toSet != before,
      "the insert added a file") // sanity on the gate above
    val got = spark.sql(s"SELECT id, label, score FROM graft.`$t`")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(9.5))),
      s"added column back-fills null; rename aliases: $got")
    // DROP COLUMN: physical name retired, shape shrinks
    spark.sql(s"ALTER TABLE graft.`$t` DROP COLUMN score")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq ==
      Seq("id", "label"))
    spark.sql(s"ALTER TABLE graft.`$t` DROP COLUMN IF EXISTS score")
    // each version time-travels with its own shape
    assert(spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1")
      .columns.toSeq == Seq("id", "s"))
    assert(spark.sql(s"SELECT * FROM graft.`$t` VERSION AS OF 2")
      .columns.toSeq == Seq("id", "s", "score"))
    // CTAS: empty v0 + the SELECT as the v1 append
    val t2 = new java.io.File(dir, "ddl_ctas").getAbsolutePath
    spark.sql(s"CREATE TABLE graft.`$t2` AS " +
      s"SELECT id, label FROM graft.`$t` WHERE id <= 2")
    assert(spark.sql(s"SELECT id, label FROM graft.`$t2`")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(VersionedTable.versions(spark, t2).map(_.mode) ==
      Seq("overwrite", "append"))
    // DROP TABLE guards: a non-empty table refuses, PURGE forces
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE graft.`$t2`")
    }
    assert(e.getMessage.contains("PURGE"), e.getMessage)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t2`")
      .collect()(0).getLong(0) == 2L, "a refused DROP must not damage")
    spark.sql(s"DROP TABLE graft.`$t2` PURGE")
    assert(!new java.io.File(t2).exists())
    // an empty table drops without PURGE
    val t3 = new java.io.File(dir, "ddl_empty").getAbsolutePath
    spark.sql(s"CREATE TABLE graft.`$t3` (x INT)")
    spark.sql(s"DROP TABLE graft.`$t3`")
    assert(!new java.io.File(t3).exists())
    // out-of-contract shapes refuse loudly
    val p = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`${dir.getAbsolutePath}/ddl_p` " +
        "(x INT, y INT) PARTITIONED BY (y)")
    }
    assert(p.getMessage.contains("PARTITIONED BY"), p.getMessage)
    val tc = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ALTER COLUMN id TYPE INT")
    }
    assert(tc.getMessage.contains("not supported") ||
      tc.getMessage.contains("ALTER"), tc.getMessage)
    val rn = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMN label STRING")
    }
    assert(rn.getMessage.contains("already exists"), rn.getMessage)
    // a retired physical name can never silently re-bind
    val rr = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMN score DOUBLE")
    }
    assert(rr.getMessage.contains("physical history"), rr.getMessage)
  }

  test("time travel over DV'd/mapped versions rides the masked rewrite") {
    val t = new java.io.File(tmpRoot(), "dvtravel").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, i * 10L)).toDF("id", "a")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") % 5 === 0,
      deletionVectors = true) // v1: DV'd
    VersionedTable.renameColumn(spark, t, "a", "amount") // v2: mapped
    VersionedTable.deleteWhere(spark, t, col("id") === 7L,
      deletionVectors = true) // v3: latest diverges from v1/v2
    // VERSION AS OF a DV'd version: masked, under that version's names
    val r1 = spark.sql(
      s"SELECT id, a FROM graft.`$t` VERSION AS OF 1")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.keySet == (0L until 100L).filterNot(_ % 5 == 0).toSet,
      "time travel to a DV'd version must mask, not resurrect")
    assert(r1(7L) == 70L)
    // VERSION AS OF the mapped version: masked AND aliased
    val r2 = spark.sql(
      s"SELECT id, amount FROM graft.`$t` VERSION AS OF 2")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(r2 == (0L until 100L).filterNot(_ % 5 == 0))
    // latest sees v3's extra delete; v1/v2 answers above did not
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 79L)
    // a healthy version travels on the stock scan (no rewrite needed)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$t` VERSION AS OF 0")
      .collect()(0).getLong(0) == 100L)
    // without the rule the travel scan refuses at materialization —
    // loud, never a wrong answer
    val e = intercept[Exception] {
      sessionWithoutRules()
        .sql(s"SELECT * FROM graft.`$t` VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("deletion vectors") ||
      Option(e.getCause).exists(
        _.getMessage.contains("deletion vectors")), e.getMessage)
  }

  test("CALL procedures: optimize / history / expire / vacuum via SQL") {
    val t = new java.io.File(tmpRoot(), "maint").getAbsolutePath
    // 5 small per-batch commits — the streaming-sink debris shape
    for (b <- 0 until 5)
      VersionedTable.commit(
        (b * 20L until b * 20L + 20L).map(i => (i, s"r$i")).toDF("id", "s"),
        t, overwrite = b == 0, statsCols = Seq("id"))
    // DESCRIBE HISTORY analog: newest-first audit rows
    val hist = spark.sql(s"CALL graft.history(table => '$t')").collect()
    assert(hist.length == 5 && hist.head.getInt(0) == 4 &&
      hist.last.getInt(0) == 0)
    assert(hist.map(_.getString(1)).toSet == Set("overwrite", "append"))
    // OPTIMIZE: bin-pack the 5 small files into fewer, as a new commit
    val opt = spark.sql(s"CALL graft.optimize(table => '$t')").collect()
    assert(opt.head.getInt(0) == 5, "optimize commits the next version")
    assert(opt.head.getInt(1) < 5, "bin-packing must reduce file count")
    assert(VersionedTable.read(spark, t).count() == 100)
    assert(VersionedTable.read(spark, t, Some(4)).count() == 100,
      "pre-optimize version stays time-travelable")
    // full + clustered: OPTIMIZE ... ZORDER posture
    spark.sql(s"CALL graft.optimize(table => '$t', full => true, " +
      "cluster_by => 'id')").collect()
    // EXPIRE retention, then VACUUM dry-run lists without deleting
    val exp = spark.sql(
      s"CALL graft.expire(table => '$t', keep_last => 1)").collect()
    assert(exp.head.getInt(0) == exp.head.getInt(1))
    val n0 = new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val dry = spark.sql(s"CALL graft.vacuum(table => '$t', " +
      "retain_hours => 0.0, dry_run => true)").collect()
    assert(new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet")) == n0,
      "dry run must delete nothing")
    val swept = spark.sql(s"CALL graft.vacuum(table => '$t', " +
      "retain_hours => 0.0)").collect()
    assert(swept.map(_.getString(0)).toSet ==
      dry.map(_.getString(0)).toSet,
      "the real sweep must remove exactly what the dry run listed")
    assert(VersionedTable.read(spark, t).count() == 100)
    // RECLUSTER: healthy (just z-ordered) -> no trigger; decayed by a
    // whole-range append -> measured, triggered, repaired
    val r0 = spark.sql(s"CALL graft.recluster(table => '$t', " +
      "column => 'id')").collect()(0)
    assert(!r0.getBoolean(1) && r0.getInt(2) == -1,
      s"healthy layout must not trigger: $r0")
    VersionedTable.commit(
      (0L until 100L by 7L).map(i => (i, "w")).toDF("id", "s")
        .coalesce(1), t, overwrite = false)
    VersionedTable.commit(
      (3L until 100L by 7L).map(i => (i, "w")).toDF("id", "s")
        .coalesce(1), t, overwrite = false)
    val r1 = spark.sql(s"CALL graft.recluster(table => '$t', " +
      "column => 'id', target_file_mb => 1)").collect()(0)
    assert(r1.getBoolean(1) && r1.getInt(2) > 0,
      s"decayed layout must trigger the repair: $r1")
    // RESTORE: roll back to the pre-recluster version as a new commit
    val latest = VersionedTable.latestVersion(spark, t).get
    val res = spark.sql(s"CALL graft.restore(table => '$t', " +
      s"version => ${latest - 1})").collect()(0)
    assert(res.getInt(1) == latest + 1)
    assert(VersionedTable.versions(spark, t).last.mode == "restore")
  }

  test("DROP tombstone blocks commits and reads; crashed drops finish") {
    val t = new java.io.File(tmpRoot(), "tomb").getAbsolutePath
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), t,
      overwrite = true)
    val root = new org.apache.hadoop.fs.Path(t)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the mid-drop state: tombstone written, purge not yet run —
    // every verb refuses loudly with the recovery instruction
    VersionedTable.markDropped(fs, root)
    val e1 = intercept[IllegalStateException] {
      VersionedTable.commit(Seq((2L, "b")).toDF("id", "s"), t,
        overwrite = false)
    }
    assert(e1.getMessage.contains("DROPPED"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      VersionedTable.read(spark, t).count()
    }
    assert(e2.getMessage.contains("DROPPED"), e2.getMessage)
    // aborting the drop restores the table whole
    VersionedTable.unmarkDropped(fs, root)
    assert(VersionedTable.read(spark, t).count() == 1)
    // a commit in flight when the tombstone lands refuses at the
    // commit point (the promote-time check), never lands into a purge
    val e3 = intercept[IllegalStateException] {
      VersionedTable.commitImpl(
        Seq((3L, "c")).toDF("id", "s"), t, overwrite = false,
        txnId = None, statsCols = Seq.empty, maxRetries = 0,
        onBeforeManifestCommit = () =>
          VersionedTable.markDropped(fs, root))
    }
    assert(e3.getMessage.contains("DROPPED"), e3.getMessage)
    // a drop that crashed between tombstone and purge: PURGE finishes
    spark.sql(s"DROP TABLE graft.`$t` PURGE")
    assert(!new java.io.File(t).exists())
  }

  test("multi-change ALTER TABLE is one atomic commit") {
    val t = new java.io.File(tmpRoot(), "multi").getAbsolutePath
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), t,
      overwrite = true)
    // two adds arrive as one statement → ONE new version, both present
    spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (x BIGINT, y STRING)")
    assert(VersionedTable.latestVersion(spark, t).contains(1),
      "the whole statement is one alter commit")
    assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq ==
      Seq("id", "s", "x", "y"))
    // a failing change anywhere refuses the WHOLE statement: nothing
    // lands, no version is consumed
    intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` ADD COLUMNS (z BIGINT, x INT)")
    }
    assert(VersionedTable.latestVersion(spark, t).contains(1),
      "a refused statement must leave no partial commit")
    assert(!spark.sql(s"SELECT * FROM graft.`$t`").columns.contains("z"))
    // changes compose left-to-right against the evolving schema
    VersionedTable.alterColumnsBatch(spark, t, Seq(
      VersionedTable.ColumnChange.Add("w", org.apache.spark.sql.types
        .LongType),
      VersionedTable.ColumnChange.Rename("w", "width")))
    assert(spark.sql(s"SELECT * FROM graft.`$t`").columns.toSeq ==
      Seq("id", "s", "x", "y", "width"))
  }

  test("CALL graft.detail reports the feature state from metadata") {
    val t = new java.io.File(tmpRoot(), "det").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") < 10L,
      deletionVectors = true)
    VersionedTable.renameColumn(spark, t, "s", "txt")
    val r = spark.sql(s"CALL graft.detail(table => '$t')").collect()(0)
    assert(r.getInt(0) == 2, "latest version")
    assert(r.getInt(1) == 2, "two data files")
    assert(r.getLong(2) == 90L, "live rows = 100 - 10 masked")
    assert(r.getLong(3) > 0L, "byte totals from the manifest")
    assert(r.getInt(4) == 1 && r.getLong(5) == 10L,
      "one DV'd file masking ten rows")
    assert(r.getBoolean(6), "column mapping present after the rename")
    assert(r.getInt(7) == 0, "nothing retired yet")
    assert(r.getString(8) == "id", "the declared stats index")
    // drop retires; optimize materializes — the row follows
    VersionedTable.dropColumn(spark, t, "txt")
    spark.sql(s"CALL graft.optimize(table => '$t', full => true)")
    val r2 = spark.sql(s"CALL graft.detail(table => '$t')").collect()(0)
    assert(r2.getInt(4) == 0 && r2.getLong(5) == 0L,
      "vectors materialized away")
    assert(r2.getInt(7) == 1, "one retired physical name")
    assert(r2.getLong(2) == 90L, "content unchanged")
  }

  test("SET TBLPROPERTIES stats_cols re-declares the index, no rewrite") {
    val t = new java.io.File(tmpRoot(), "ssc").getAbsolutePath
    VersionedTable.commit(
      (0L until 100L).map(i => (i, i * 2L)).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val before = VersionedTable.files(spark, t, 0).toSet
    spark.sql(s"ALTER TABLE graft.`$t` " +
      "SET TBLPROPERTIES ('stats_cols' = 'id,v')")
    assert(VersionedTable.files(spark, t, 1).toSet == before,
      "re-declaring the index must write zero data files")
    // old files never collected v: the metadata span stays undecidable
    // (conservative), never wrong
    assert(VersionedTable.statsSpan(spark, t, "v").isEmpty)
    // new files collect for the new set; a full rewrite covers all
    spark.sql(s"CALL graft.optimize(table => '$t', full => true)")
    assert(VersionedTable.statsSpan(spark, t, "v")
      .contains(Some((0L, 198L))),
      "after the rewrite every file carries the new column's span")
    // unknown columns refuse
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` " +
        "SET TBLPROPERTIES ('stats_cols' = 'nope')")
    }
    assert(e.getMessage.contains("no column"), e.getMessage)
    // other properties stay out of the surface
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t` " +
        "SET TBLPROPERTIES ('owner' = 'me')")
    }
    assert(e2.getMessage.contains("not supported"), e2.getMessage)
  }

  test("out-of-surface verbs refuse; missing tables error cleanly") {
    val t = new java.io.File(tmpRoot(), "nope").getAbsolutePath
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.`$t`").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("not found"), e.getMessage)
    assert(!new java.io.File(t).exists(),
      "a failed lookup must not create debris")
    // DROP of a missing table errors as the standard analysis error
    intercept[Exception] { spark.sql(s"DROP TABLE graft.`$t`") }
    // RENAME TABLE stays out of the surface (a table is its path)
    val t2 = new java.io.File(tmpRoot(), "ro").getAbsolutePath
    VersionedTable.commit(Seq((1L, "a")).toDF("id", "s"), t2,
      overwrite = true)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE graft.`$t2` RENAME TO graft.`${t2}_x`")
    }
    assert(e2.getMessage.contains("RENAME TABLE is not supported") ||
      Option(e2.getCause).exists(
        _.getMessage.contains("RENAME TABLE is not supported")),
      e2.getMessage)
  }

  test("CREATE TABLE refuses stats_cols naming columns the schema lacks") {
    val t = new java.io.File(tmpRoot(), "typo").getAbsolutePath
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft.`$t` (doc_id BIGINT, s STRING) " +
        "TBLPROPERTIES ('stats_cols' = 'doc_idd')")
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(e).exists(_.contains("schema lacks")), e.getMessage)
    assert(!new java.io.File(t, "_graft_log").exists(),
      "a refused CREATE must not commit")
    // case-variant declarations resolve like SQL does — and commit
    // the SCHEMA's case, so the footer harvest actually collects
    // (a verbatim 'DOC_ID' would be a silently-dead index: chunk
    // paths match case-sensitively)
    spark.sql(s"CREATE TABLE graft.`$t` (doc_id BIGINT, s STRING) " +
      "TBLPROPERTIES ('stats_cols' = 'DOC_ID')")
    spark.sql(s"INSERT INTO graft.`$t` VALUES (7, 'a'), (9, 'b')")
    assert(VersionedTable.statsSpan(spark, t, "doc_id")
      == Some(Some((7L, 9L))),
      "the canonical-case index must collect spans")
  }

  test("DROP TABLE never leaks its tombstone over pending manifests") {
    import graft.operators.MultiTableTxn
    val root = tmpRoot()
    val t = new java.io.File(root, "p").getAbsolutePath
    val dec = new java.io.File(root, "txns").getAbsolutePath
    new java.io.File(dec).mkdirs()
    // one provably-empty visible version + an UNDECIDED pending slot
    VersionedTable.commit(
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType)))),
      t, overwrite = true)
    val uri = MultiTableTxn.decisionUri(dec, "dtx")
    VersionedTable.commitImpl(Seq(1L).toDF("id"), t,
      overwrite = false, txnId = Some("mtxn_dtx_0"), statsCols = Nil,
      maxRetries = 5, onBeforeManifestCommit = () => (),
      pendingTxn = Some(uri))
    // the undecided txn could still commit: DROP refuses — and must
    // UNMARK, or the table is bricked without having been deleted
    val e = intercept[Exception] { spark.sql(s"DROP TABLE graft.`$t`") }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(e).exists(_.contains("UNDECIDED")), e.getMessage)
    assert(VersionedTable.read(spark, t).count() == 0,
      "the refused DROP must leave the table readable (no tombstone)")
    // decided-abort = no committed data: the drop proceeds
    assert(MultiTableTxn.abort(spark, dec, "dtx"))
    spark.sql(s"DROP TABLE graft.`$t`")
    assert(!new java.io.File(t).exists())
  }

  test("SQL scans prune files from the manifest spans") {
    val t = new java.io.File(tmpRoot(), "t").getAbsolutePath
    VersionedTable.commit(
      (0L until 4000L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(8, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    def scanned(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value.toInt
      }.sum
    }
    // a clean catalog SELECT rides the manifest-pruning V1 relation:
    // a selective WHERE opens only its span-matching files (the stock
    // V2 scan would plan all 8 — at 100 TB, 800k)
    val q = spark.sql(s"SELECT * FROM graft.`$t` WHERE id < 100")
    assert(scanned(q) == 1, s"selective WHERE must open 1 file")
    assert(q.count() == 100)
    // disjunctions prune to the union of their sides
    val qor = spark.sql(
      s"SELECT * FROM graft.`$t` WHERE id < 100 OR id >= 3900")
    assert(scanned(qor) == 2, "OR must open the two band files")
    assert(qor.count() == 200)
    // time travel rides the same pruned lane
    val qv = spark.sql(
      s"SELECT * FROM graft.`$t` VERSION AS OF 0 WHERE id >= 3900")
    assert(scanned(qv) == 1)
    assert(qv.count() == 100)
  }

  test("DESCRIBE HISTORY/DETAIL and SHOW TBLPROPERTIES from plain SQL") {
    val t = new java.io.File(tmpRoot(), "t").getAbsolutePath
    VersionedTable.commit(
      (0L until 50L).map(i => (i, s"r$i")).toDF("id", "s"), t,
      overwrite = true, statsCols = Seq("id"))
    VersionedTable.commit(
      (50L until 60L).map(i => (i, s"r$i")).toDF("id", "s"), t,
      overwrite = false, txnId = Some("cat_hist_append"))
    // SHOW TBLPROPERTIES rides the live session (table properties are
    // a stock V2 surface)
    val props = spark.sql(s"SHOW TBLPROPERTIES graft.`$t`")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("format").contains("graft-vt"), props.toString)
    assert(props.get("version").contains("1"))
    assert(props.get("stats_cols").contains("id"))
    // DESCRIBE HISTORY and the maintenance statements ride the parser
    // GraftExtensions injects at construction
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$t`")
      .select("version", "mode", "txn_id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(hist.toSeq == Seq((1, "append", "cat_hist_append"),
      (0, "overwrite", null)), hist.mkString(","))
    val detail = spark.sql(s"DESC DETAIL graft.`$t`")
    assert(detail.columns.contains("n_files"))
    assert(detail.count() == 1)
    // pass-through: ordinary DESCRIBE forms keep working
    assert(spark.sql(s"DESCRIBE TABLE graft.`$t`").count() >= 2)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 60L)
    // maintenance statements lower onto the procedures
    val opt = spark.sql(s"OPTIMIZE graft.`$t`").collect()
    assert(opt.length == 1 && opt(0).getInt(0) == 2,
      s"OPTIMIZE must bin-pack into a new version: ${opt.toSeq}")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 60L)
    val vac = spark.sql(s"VACUUM graft.`$t` RETAIN 168 HOURS")
    assert(vac.columns.toSeq == Seq("removed"))
    vac.collect()
    val res = spark.sql(s"RESTORE graft.`$t` TO VERSION AS OF 1").collect()
    assert(res.length == 1)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 60L,
      "the restore replays v1's content as a new commit")
  }

  test("SQL statements that match a rewrite regex but do not lower " +
      "fall through to the delegate parser") {
    // a ONE-PART target cannot name a graft table (<catalog>.<path>):
    // the statement must surface the DELEGATE's ParseException, not a
    // graft IllegalArgumentException thrown mid-rewrite
    import org.apache.spark.sql.catalyst.parser.ParseException
    intercept[ParseException] { spark.sql("OPTIMIZE just_a_table") }
    // trailing junk swallowed into the lazy identifier group: same
    // pass-through (Spark has no VACUUM statement → its parse error)
    intercept[ParseException] { spark.sql("VACUUM t DRY RUN") }
    intercept[ParseException] { spark.sql("RESTORE t VERSION AS OF 1") }
    // DESCRIBE HISTORY <one-part> falls through to plain DESCRIBE
    // handling — an unresolved-table analysis error, never a graft IAE
    val e = intercept[Exception] { spark.sql("DESCRIBE HISTORY no_such") }
    assert(!e.isInstanceOf[IllegalArgumentException], e.toString)
  }
}
