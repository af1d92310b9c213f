package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import scala.jdk.CollectionConverters._
import graft.operators.VersionedTable

/** Metadata-only aggregates: whole-table count/min/max over a
  * versioned catalog table fold to a LocalRelation computed from the
  * manifest — zero data files opened — and only when provably exact. */
class VtMetadataAggSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpTable(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vtmeta_").toFile
    d.deleteOnExit()
    new java.io.File(d, name).getAbsolutePath
  }

  private def foldsToLocal(sql: String): Boolean =
    spark.sql(sql).queryExecution.optimizedPlan
      .collectLeaves().forall(_.isInstanceOf[LocalRelation])

  test("count/min/max fold from the manifest; filters block the fold") {
    val t = tmpTable("t")
    VersionedTable.commit(
      (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val q = s"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi " +
      s"FROM graft.`$t`"
    assert(foldsToLocal(q), "whole-table agg must fold to metadata")
    val r = spark.sql(q).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1000L, 0L, 999L))
    // a WHERE between aggregate and relation blocks the fold — and
    // the scan answer matches
    val f = s"SELECT count(*) AS n FROM graft.`$t` WHERE id < 10"
    assert(!foldsToLocal(f), "a filtered count must scan")
    assert(spark.sql(f).collect()(0).getLong(0) == 10L)
  }

  test("DV'd versions: count folds exactly, min/max refuse to fold") {
    val t = tmpTable("dv")
    VersionedTable.commit(
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") >= 90,
      deletionVectors = true)
    val c = s"SELECT count(*) AS n FROM graft.`$t`"
    assert(foldsToLocal(c),
      "a DV'd table's count is exact metadata (live = physical - masked)")
    assert(spark.sql(c).collect()(0).getLong(0) == 90L)
    // a masked row could have held the extremum: must scan, and the
    // masked rewrite must answer it right
    val m = s"SELECT max(id) AS hi FROM graft.`$t`"
    assert(!foldsToLocal(m), "max over a DV'd version must rescan")
    assert(spark.sql(m).collect()(0).getLong(0) == 89L)
  }

  test("un-indexed columns and empty tables stay exact") {
    val t = tmpTable("u")
    VersionedTable.commit(
      (0L until 50L).map(i => (i, i * 2L)).toDF("id", "v")
        .repartition(2),
      t, overwrite = true, statsCols = Seq("id"))
    // v carries no manifest stats: the fold must decline, not guess
    val q = s"SELECT min(v) AS lo FROM graft.`$t`"
    assert(!foldsToLocal(q), "min of an un-indexed column must scan")
    assert(spark.sql(q).collect()(0).getLong(0) == 0L)
    // zero-row overwrite: count folds to 0, min folds to NULL
    VersionedTable.commit((0L until 0L).map(i => (i, i)).toDF("id", "v"),
      t, overwrite = true, statsCols = Seq("id"))
    val e = s"SELECT count(*) AS n, min(id) AS lo FROM graft.`$t`"
    assert(foldsToLocal(e))
    val r = spark.sql(e).collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("VERSION AS OF folds the pinned version's metadata") {
    val t = tmpTable("tt")
    VersionedTable.commit((0L until 10L).map(i => (i, s"a$i"))
      .toDF("id", "s").coalesce(1), t, overwrite = true,
      statsCols = Seq("id"))
    VersionedTable.commit((10L until 30L).map(i => (i, s"b$i"))
      .toDF("id", "s").coalesce(1), t, overwrite = false)
    val q0 = s"SELECT count(*) AS n, max(id) AS hi " +
      s"FROM graft.`$t` VERSION AS OF 0"
    assert(foldsToLocal(q0))
    val r0 = spark.sql(q0).collect()(0)
    assert((r0.getLong(0), r0.getLong(1)) == (10L, 9L))
    val r1 = spark.sql(s"SELECT count(*) AS n, max(id) AS hi " +
      s"FROM graft.`$t`").collect()(0)
    assert((r1.getLong(0), r1.getLong(1)) == (30L, 29L))
  }

  test("count WHERE: all-in files fold, only boundary files scan") {
    val t = tmpTable("cw")
    // 4 range-clustered files over id 0..999: file spans ~[0,250)...
    VersionedTable.commit(
      (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val q = s"SELECT count(*) AS n FROM graft.`$t` WHERE id >= 100 AND id < 900"
    val df = spark.sql(q)
    assert(df.collect()(0).getLong(0) == 800L)
    // interior files answered from the manifest: the plan reads only
    // the two boundary files, not the full overlap
    val scanned = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.inputRDDs() // force
        f.relation.location.inputFiles.length
    }
    val read = df.inputFiles.length
    assert(read > 0 && read <= 2,
      s"only boundary files may be scanned, got $read (exec=$scanned)")
    // a fully-aligned predicate folds with no scan at all
    val full = s"SELECT count(*) AS n FROM graft.`$t` WHERE id >= 0"
    assert(spark.sql(full).collect()(0).getLong(0) == 1000L)
    assert(foldsToLocal(full), "an all-in predicate must fold whole")
    // equality on a clustered key: one boundary file at most
    val eq = s"SELECT count(*) AS n FROM graft.`$t` WHERE id = 17"
    assert(spark.sql(eq).collect()(0).getLong(0) == 1L)
    assert(spark.sql(eq).inputFiles.length <= 1)
  }

  test("count WHERE stays exact over nulls, DVs, and strings") {
    val t = tmpTable("cwn")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = (0L until 100L).map(i =>
      Row(if (i % 10 == 0) null else java.lang.Long.valueOf(i), s"k$i"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    VersionedTable.commit(
      spark.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava), schema).coalesce(1),
      t, overwrite = true, statsCols = Seq("id"))
    // the single file spans [1,99] and pred id >= 0 looks all-in by
    // span — but 10 NULL rows don't match; null counts must force the
    // exact answer (90, not 100)
    val q = s"SELECT count(*) AS n FROM graft.`$t` WHERE id >= 0"
    assert(spark.sql(q).collect()(0).getLong(0) == 90L)
    // DV delete composes: masked rows leave live counts exact
    VersionedTable.deleteWhere(spark, t, col("id") === 7L,
      deletionVectors = true)
    assert(spark.sql(q).collect()(0).getLong(0) == 89L)
    val all = s"SELECT count(*) AS n FROM graft.`$t`"
    assert(spark.sql(all).collect()(0).getLong(0) == 99L)
  }

  test("NaN-bearing double chunks never record a lying all-null span") {
    // parquet omits double min/max when a chunk holds NaN (keeping
    // null counts); recording that as "provably all-null" let span
    // pruning DROP files with live matching rows — found by this
    // suite's differential test, fixed in footerEntry
    val t = tmpTable("nan")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(Row(1L, 2.0), Row(2L, Double.NaN), Row(3L, 4.0))
    VersionedTable.commit(
      spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava),
        StructType(Seq(StructField("id", LongType),
          StructField("d", DoubleType)))).coalesce(1),
      t, overwrite = true, statsCols = Seq("id", "d"))
    val e = VersionedTable.readEntries(spark, t, 0)
    assert(!e.exists(_.stats.get("d").contains(None)),
      "a NaN-blind span must record NO stats, never all-null")
    val pruned = VersionedTable.prunedRead(spark, t, "d", 1.0, 5.0)
    assert(pruned.where(col("d") >= 1.0 && col("d") <= 5.0).count() == 2L,
      "pruned reads must never drop the NaN-bearing file")
    // the span-less NaN file blocks metadata min/max (exact-or-scan)
    assert(VersionedTable.statsSpan(spark, t, "d").isEmpty)
    // a NaN-FREE double file carries a span that answers exactly
    val tc = tmpTable("nanfree")
    VersionedTable.commit(
      spark.createDataFrame(new java.util.ArrayList[Row](
        Seq(Row(1L, 2.5), Row(2L, 7.25)).asJava),
        StructType(Seq(StructField("id", LongType),
          StructField("d", DoubleType)))).coalesce(1),
      tc, overwrite = true, statsCols = Seq("d"))
    assert(VersionedTable.statsSpan(spark, tc, "d")
      == Some(Some((2.5, 7.25))))
  }

  test("differential: folded counts equal scan counts on hostile data") {
    val t = tmpTable("diff")
    import org.apache.spark.sql.Row
    import VtMetadataAggSpec.{hostilePreds => preds, hostileRows => rows,
      hostileSchema => schema}
    VtMetadataAggSpec.commitHostile(spark, t)
    val trusted = VersionedTable.read(spark, t) // never sees the rule
    val aggList = Seq("count(*) AS n", "count(id) AS nid",
      "count(s) AS ns", "count(dt) AS ndt", "count(ts) AS nts",
      "min(id) AS lo", "max(id) AS hi", "min(s) AS smn",
      "max(s) AS smx", "min(dt) AS dmn", "max(dt) AS dmx",
      "min(ts) AS tmn", "max(ts) AS tmx",
      // integral sum: folds (hybrid over the DV) and must equal the
      // scan bit-for-bit. avg/sum(double) stay OUT of this list — an
      // unfoldable shape declines the WHOLE statement's fold, which
      // would silently turn every lane here into scan-vs-scan; they
      // get their own lanes in the sum/avg fold test.
      "sum(id) AS sid",
      // decimal spans + sums (r17): count/min/max/sum over `dec`
      "count(dec) AS ndec", "min(dec) AS dcmn", "max(dec) AS dcmx",
      "sum(dec) AS dcs")
    preds.foreach { p =>
      val folded = spark.sql(
        s"SELECT ${aggList.mkString(", ")} FROM graft.`$t` WHERE $p")
        .collect()(0).toSeq
      val scanned = trusted.where(p)
        .selectExpr(aggList: _*).collect()(0).toSeq
      assert(folded == scanned,
        s"pred [$p]: folded $folded != scanned $scanned")
      // span pruning is result-invisible: SELECT * through the graft
      // relation (pruned clean files + masked DV'd ones) returns the
      // trusted scan's row multiset
      def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      assert(rowsOf(spark.sql(s"SELECT * FROM graft.`$t` WHERE $p")) ==
        rowsOf(trusted.where(p)), s"pred [$p]: pruned scan rows differ")
    }
    // per-file verdicts against the live rows, from ONE scan grouped by
    // source file: an all-out file holds no matching live row, an
    // all-in file holds nothing else
    val v = VersionedTable.latestVersion(spark, t).get
    val entries = VersionedTable.readEntries(spark, t, v)
    val root = new org.apache.hadoop.fs.Path(t)
    val (live, fileC, _) = VersionedTable.maskedReadWithPos(spark,
      VersionedTable.readHeader(root.getFileSystem(
        spark.sessionState.newHadoopConf()), root, v).schemaJson,
      t, entries)
    val perFile = live.groupBy(col(fileC)).agg(count(lit(1)),
      preds.map(p => sum(when(expr(p), 1L).otherwise(0L))): _*)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), preds.indices.map(j => r.getLong(j + 2))))
      .toMap
    assert(perFile.keySet.subsetOf(entries.map(_.name).toSet), perFile.keySet)
    preds.zipWithIndex.foreach { case (p, j) =>
      val (c, ids) = VtMetadataAggSpec.optimizedCondition(spark, schema, p)
      graft.sources.VtPushdown.toExactPreds(c, ids).foreach { exact =>
        val (_, allIn, boundary) =
          VersionedTable.countWhereParts(entries, exact)
        entries.foreach { e =>
          val (n, hit) = perFile.get(e.name).map { case (n, hs) =>
            (n, hs(j)) }.getOrElse((0L, 0L))
          if (allIn.exists(_.name == e.name))
            assert(hit == n, s"pred [$p]: all-in ${e.name} has " +
              s"${n - hit} non-matching live rows")
          else if (!boundary.contains(e.name))
            assert(hit == 0L, s"pred [$p]: all-out ${e.name} has " +
              s"$hit matching live rows")
        }
      }
    }
    // whole-table hybrid on the DV'd version (no WHERE): the interior
    // masks fold, the extremum-touching files rescan \u2014 exact either way
    val wfold = spark.sql(
      s"SELECT ${aggList.mkString(", ")} FROM graft.`$t`")
      .collect()(0).toSeq
    val wscan = trusted.selectExpr(aggList: _*).collect()(0).toSeq
    assert(wfold == wscan, s"whole-table: $wfold != $wscan")
    // GROUPED hostile lane: per-group point files carrying the same
    // NaN / null / non-ASCII mix — folded grouped answers must equal
    // the scan, across pure folds, DV demotes, and a NULL group.
    // Doubles stringify so NaN compares equal to itself.
    val tg = tmpTable("diffg")
    val grouped = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema)
    (0 to 3).foreach { b =>
      VersionedTable.commit(
        grouped.where(col("id").isNotNull && col("id") % 4 === b)
          .withColumn("grp", lit(b.toLong)).coalesce(1),
        tg, overwrite = b == 0,
        statsCols = Seq("grp", "id", "d", "s", "dt", "ts", "dec"))
    }
    VersionedTable.commit(
      grouped.where(col("id").isNull)
        .withColumn("grp", lit(null).cast("long")).coalesce(1),
      tg, overwrite = false)
    VersionedTable.deleteWhere(spark, tg, col("id") === 26L,
      deletionVectors = true)
    val trustedG = VersionedTable.read(spark, tg)
    val gAggs = Seq("count(*) AS n", "count(id) AS nid",
      "count(d) AS nd", "min(id) AS lo", "max(id) AS hi",
      "min(s) AS smn", "max(s) AS smx",
      "cast(min(d) AS string) AS dmn", "cast(max(d) AS string) AS dmx",
      "min(ts) AS tmn", "max(ts) AS tmx", "sum(id) AS sid",
      "min(dec) AS gdmn", "sum(dec) AS gdcs")
    Seq("TRUE", "id >= 100", "grp = 1 OR grp = 3", "s IS NOT NULL",
      "id >= 50 AND id < 250", "dec >= 10.00").foreach { p =>
      val folded = spark.sql(s"SELECT grp, ${gAggs.mkString(", ")} " +
        s"FROM graft.`$tg` WHERE $p GROUP BY grp").collect()
        .map(_.toSeq).toSet
      val scanned = trustedG.where(p).groupBy("grp")
        .agg(expr(gAggs.head), gAggs.tail.map(expr): _*)
        .collect().map(_.toSeq).toSet
      assert(folded == scanned,
        s"grouped pred [$p]: $folded != $scanned")
    }
  }

  test("sum/avg fold from the manifest; wraps, gates, hybrids exact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = tmpTable("sum")
    // longs + a nullable long + a decimal + a double, range-clustered
    val df = (0L until 1000L).map(i =>
        (i, if (i % 7 == 0) null else java.lang.Long.valueOf(i * 3),
          i.toDouble / 3.0))
      .toDF("id", "v", "d")
      .withColumn("dec", (col("id") % 100).cast("decimal(10,2)"))
    VersionedTable.commit(
      df.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id", "v", "d", "dec"))
    val aggs = Seq("sum(id) AS si", "sum(v) AS sv", "sum(dec) AS sd",
      "avg(id) AS ai", "avg(v) AS av", "count(*) AS n")
    val q = s"SELECT ${aggs.mkString(", ")} FROM graft.`$t`"
    assert(foldsToLocal(q), "whole-table sum/avg must fold to metadata")
    val trusted = VersionedTable.read(spark, t)
    assert(spark.sql(q).collect()(0).toSeq ==
      trusted.selectExpr(aggs: _*).collect()(0).toSeq)
    // a DOUBLE column's sum must never fold (IEEE order-dependence)
    assert(!foldsToLocal(s"SELECT sum(d) AS s FROM graft.`$t`"))
    // WHERE hybrid: all-in files fold their Σ, boundary files scan,
    // the Add/Cast combine equals the plain scan bit-for-bit
    val w = s"SELECT sum(id) AS si, sum(v) AS sv, sum(dec) AS sd " +
      s"FROM graft.`$t` WHERE id >= 100 AND id < 900"
    val wdf = spark.sql(w)
    assert(wdf.collect()(0).toSeq ==
      trusted.where("id >= 100 AND id < 900")
        .selectExpr("sum(id) AS si", "sum(v) AS sv", "sum(dec) AS sd")
        .collect()(0).toSeq)
    if (VersionedTable.readEntries(spark, t, 0).size >= 4)
      assert(wdf.inputFiles.length < 4,
        s"interior files must fold, scanned ${wdf.inputFiles.length}/4")
    // avg does not decompose over a boundary: declines whole, stays
    // exact by scanning
    val wa = s"SELECT avg(id) AS ai FROM graft.`$t` " +
      "WHERE id >= 100 AND id < 900"
    assert(!foldsToLocal(wa))
    assert(spark.sql(wa).collect()(0).getDouble(0) ==
      trusted.where("id >= 100 AND id < 900")
        .selectExpr("avg(id)").collect()(0).getDouble(0))
    // a DV makes recorded sums physical: masked files rescan, totals
    // stay exact
    VersionedTable.deleteWhere(spark, t, col("id") === 500L,
      deletionVectors = true)
    val trusted2 = VersionedTable.read(spark, t)
    val dq = s"SELECT sum(id) AS si, sum(v) AS sv, sum(dec) AS sd " +
      s"FROM graft.`$t`"
    assert(spark.sql(dq).collect()(0).toSeq ==
      trusted2.selectExpr("sum(id) AS si", "sum(v) AS sv",
        "sum(dec) AS sd").collect()(0).toSeq)
    // LONG OVERFLOW near 2^63: the folded Σ re-wraps mod 2^64 exactly
    // like Spark's LEGACY accumulation
    val to = tmpTable("wrap")
    val wrapRows = new java.util.ArrayList[Row](Seq(
      Row(java.lang.Long.valueOf(Long.MaxValue - 10L)),
      Row(java.lang.Long.valueOf(20L)),
      Row(java.lang.Long.valueOf(Long.MaxValue - 30L))).asJava)
    VersionedTable.commit(
      spark.createDataFrame(wrapRows,
        StructType(Seq(StructField("x", LongType)))).coalesce(1),
      to, overwrite = true, statsCols = Seq("x"))
    val oq = s"SELECT sum(x) AS s FROM graft.`$to`"
    // ANSI (the Spark 4 session default): no overflow proof → the
    // fold must DECLINE, and the plain scan throws — the fold must
    // never answer where the scan would error
    assert(!foldsToLocal(oq), "ANSI overflowing sum must not fold")
    intercept[Exception] { spark.sql(oq).collect() }
    // LEGACY: the folded Σ re-wraps mod 2^64 exactly like the scan
    val prevAnsi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      assert(foldsToLocal(oq), "LEGACY overflowing long sum folds")
      assert(spark.sql(oq).collect()(0).getLong(0) ==
        VersionedTable.read(spark, to).selectExpr("sum(x)")
          .collect()(0).getLong(0))
    } finally spark.conf.set("spark.sql.ansi.enabled", prevAnsi)
    // the avg exactness gate: n·max|span| ≥ 2^53 must DECLINE to the
    // scan (IEEE rounding there is not reproducible from Σ)
    val oa = s"SELECT avg(x) AS a FROM graft.`$to`"
    assert(!foldsToLocal(oa), "avg past the 2^53 bound must scan")
    assert(spark.sql(oa).collect()(0).getDouble(0) ==
      VersionedTable.read(spark, to).selectExpr("avg(x)")
        .collect()(0).getDouble(0))
    // all-null column: sum and avg fold to SQL NULL
    val tn = tmpTable("nullsum")
    val nullRows = new java.util.ArrayList[Row](
      (0 until 5).map(_ => Row(null, java.lang.Long.valueOf(1L))).asJava)
    VersionedTable.commit(
      spark.createDataFrame(nullRows, StructType(Seq(
        StructField("x", LongType), StructField("k", LongType))))
        .coalesce(1),
      tn, overwrite = true, statsCols = Seq("x", "k"))
    val nq = s"SELECT sum(x) AS s, avg(x) AS a FROM graft.`$tn`"
    assert(foldsToLocal(nq))
    val nr = spark.sql(nq).collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1))
    // GROUPED: per-band long and decimal sums fold, zero files opened
    val tgr = tmpTable("gsum")
    (0L to 3L).foreach { b =>
      VersionedTable.commit(
        (0L until 100L).map(i => (b, b * 1000 + i)).toDF("band", "x")
          .withColumn("dec", (col("x") % 50).cast("decimal(8,2)"))
          .coalesce(1),
        tgr, overwrite = b == 0,
        statsCols = if (b == 0) Seq("band", "x", "dec") else Seq.empty)
    }
    val gq = s"SELECT band, sum(x) AS sx, sum(dec) AS sdec " +
      s"FROM graft.`$tgr` GROUP BY band"
    assert(foldsToLocal(gq), "grouped sums must fold from metadata")
    val gFold = spark.sql(gq).collect().map(_.toSeq).toSet
    val gScan = VersionedTable.read(spark, tgr).groupBy("band")
      .agg(expr("sum(x) AS sx"), expr("sum(dec) AS sdec"))
      .collect().map(_.toSeq).toSet
    assert(gFold == gScan, s"$gFold != $gScan")
    // grouped hybrid: a straddling commit scans and unions in
    VersionedTable.commit(
      (0L until 50L).map(i => (i % 4, 9000L + i)).toDF("band", "x")
        .withColumn("dec", (col("x") % 50).cast("decimal(8,2)"))
        .coalesce(1),
      tgr, overwrite = false)
    val gFold2 = spark.sql(gq).collect().map(_.toSeq).toSet
    val gScan2 = VersionedTable.read(spark, tgr).groupBy("band")
      .agg(expr("sum(x) AS sx"), expr("sum(dec) AS sdec"))
      .collect().map(_.toSeq).toSet
    assert(gFold2 == gScan2, s"hybrid: $gFold2 != $gScan2")
  }

  test("count(NULL) and alias-shadowed columns never fold wrong") {
    val t = tmpTable("shadow")
    VersionedTable.commit(
      (0L until 50L).map(i => (i, i + 1000L)).toDF("id", "v")
        .coalesce(1), t, overwrite = true, statsCols = Seq("id"))
    // count(NULL) is 0 by SQL null semantics — folding it as the
    // table count would answer 50
    val cn = s"SELECT count(NULL) AS n FROM graft.`$t`"
    assert(!foldsToLocal(cn), "count(NULL) must not fold")
    assert(spark.sql(cn).collect()(0).getLong(0) == 0L)
    // a surviving Project can alias a DIFFERENT expression under a
    // stats column's name — the fold must anchor by exprId, not name
    // (folding by name would answer min(id) = 0, not min(v+0) = 1000)
    val sh = s"SELECT min(id) AS lo " +
      s"FROM (SELECT v + 0 AS id, v FROM graft.`$t`)"
    assert(spark.sql(sh).collect()(0).getLong(0) == 1000L,
      "an alias shadowing a stats column must answer the alias")
  }

  test("OR predicates and count(col) fold from metadata") {
    val t = tmpTable("or")
    // year-clustered files: each file holds one year, s null often
    VersionedTable.commit(
      (0L until 1000L).map(i => (i, if (i % 5 == 0) null else s"r$i",
        1995L + (i % 4))).toDF("id", "s", "year")
        .repartitionByRange(4, col("year")).sortWithinPartitions("year"),
      t, overwrite = true, statsCols = Seq("id", "s", "year"))
    // the everyday disjunction: whole files are all-in per disjunct
    val q = s"SELECT count(*) AS n FROM graft.`$t` " +
      "WHERE year = 1995 OR year = 1997"
    assert(foldsToLocal(q), "year-OR over year-clustered files folds")
    assert(spark.sql(q).collect()(0).getLong(0) == 500L)
    // count(col) = Σ(rows − nulls) from the manifest null counts
    val qc = s"SELECT count(s) AS n, count(id) AS m FROM graft.`$t`"
    assert(foldsToLocal(qc), "count(col) folds from null counts")
    assert(spark.sql(qc).collect()(0).toSeq == Seq(800L, 1000L))
    // composed: count(col) under an OR WHERE, still zero data files
    val qq = s"SELECT count(s) AS n FROM graft.`$t` " +
      "WHERE year = 1995 OR year = 1997"
    assert(foldsToLocal(qq))
    assert(spark.sql(qq).collect()(0).getLong(0) == 400L)
    // a disjunct that cannot translate blocks the fold — and scans
    val qx = s"SELECT count(*) AS n FROM graft.`$t` " +
      "WHERE year = 1995 OR s LIKE 'r1%'"
    assert(!foldsToLocal(qx))
    assert(spark.sql(qx).collect()(0).getLong(0) ==
      VersionedTable.read(spark, t)
        .where("year = 1995 OR s LIKE 'r1%'").count())
  }

  test("DV'd min/max: rescan only files that can touch an extremum") {
    val t = tmpTable("dvmm")
    VersionedTable.commit(
      (0L until 1000L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val q = s"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi " +
      s"FROM graft.`$t`"
    // a DV strictly INSIDE the global span cannot move any extremum:
    // the fold stays pure metadata even though the version is masked
    VersionedTable.deleteWhere(spark, t, col("id") === 500L,
      deletionVectors = true)
    assert(foldsToLocal(q),
      "an interior DV must not force any scan for min/max")
    assert(spark.sql(q).collect()(0).toSeq == Seq(999L, 0L, 999L))
    // masking the global max demotes ONLY extremum-touching files to
    // a boundary scan; the answer stays exact
    VersionedTable.deleteWhere(spark, t, col("id") === 999L,
      deletionVectors = true)
    assert(!foldsToLocal(q), "the masked extremum file must rescan")
    assert(spark.sql(q).collect()(0).toSeq == Seq(998L, 0L, 998L))
    // count(col) on a DV'd version: provable only via zero null
    // counts (s has none) — exact under masking
    assert(spark.sql(s"SELECT count(s) AS n FROM graft.`$t`")
      .collect()(0).getLong(0) == 998L)
  }

  test("multi-row-group files: a NaN chunk poisons the whole span") {
    // parquet-mr omits float/double bounds for a NaN-bearing CHUNK
    // while still setting its numNulls (PARQUET-1222). A span reduced
    // from the file's OTHER chunks would hide the NaN chunk's values
    // — and Spark orders NaN above every double, so max(d) is NaN and
    // `d > 200` matches the NaN row. Force one row group PER ROW so
    // the NaN chunk sits beside clean chunks in the same file.
    val t = tmpTable("nanrg")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setInt("parquet.block.size", 64)
    hc.setInt("parquet.page.size.row.check.min", 1)
    try {
      val rows = Seq(Row(1L, 1.0), Row(2L, 2.0), Row(3L, Double.NaN),
        Row(4L, 100.0), Row(5L, 3.0))
      VersionedTable.commit(
        spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava),
          StructType(Seq(StructField("id", LongType),
            StructField("d", DoubleType)))).coalesce(1),
        t, overwrite = true, statsCols = Seq("id", "d"))
    } finally {
      hc.unset("parquet.block.size")
      hc.unset("parquet.page.size.row.check.min")
    }
    // sanity: the tiny block size really split row groups — a single-
    // chunk file would pass the assertions below without proving the
    // per-chunk poisoning
    val dataFile = new java.io.File(t).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    assert(dataFile.length == 1)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile(0).getAbsolutePath),
        spark.sessionState.newHadoopConf()))
    val nGroups = try rdr.getFooter.getBlocks.size finally rdr.close()
    assert(nGroups > 1, s"expected multiple row groups, got $nGroups")
    val e = VersionedTable.readEntries(spark, t, 0)
    assert(e.size == 1 && e.head.stats.get("d").isEmpty,
      "a NaN-bearing chunk must poison the file's whole d-span")
    assert(spark.sql(s"SELECT max(d) AS m FROM graft.`$t`")
      .collect()(0).getDouble(0).isNaN, "max(d) must be NaN")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$t` WHERE d > 200")
      .collect()(0).getLong(0) == 1L,
      "d > 200 matches the NaN row (Spark orders NaN greatest)")
  }

  test("float literals classify through exact binary values") {
    val t = tmpTable("flit")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a FloatType literal 0.1f never equals decimal "0.1" — a
    // toString-BigDecimal compare would prove the file holding
    // exactly 0.1f rows all-out and fold the count to 0
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("f", FloatType)))
    def mk(rows: Seq[Row]) = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema).coalesce(1)
    VersionedTable.commit(mk(Seq(Row(1L, 0.1f), Row(2L, 0.1f))),
      t, overwrite = true, statsCols = Seq("f"))
    VersionedTable.commit(mk(Seq(Row(3L, 7.5f))),
      t, overwrite = false, statsCols = Seq("f"))
    val q = s"SELECT count(*) AS n FROM graft.`$t` " +
      "WHERE f = CAST(0.1 AS FLOAT)"
    assert(foldsToLocal(q), "both files decide from metadata")
    assert(spark.sql(q).collect()(0).getLong(0) == 2L)
    assert(VersionedTable.read(spark, t)
      .where("f = CAST(0.1 AS FLOAT)").count() == 2L)
  }

  test("collated string predicates never classify by byte order") {
    val t = tmpTable("coll")
    // UTF8_LCASE: 'abc' = 'ABC'; unsigned-byte classification would
    // prove a file spanning only uppercase all-out and under-count
    val df = spark.sql(
      "SELECT * FROM VALUES (1, collate('ABC', 'UTF8_LCASE')), " +
        "(2, collate('xyz', 'UTF8_LCASE')) AS v(id, s)")
    VersionedTable.commit(df.coalesce(1), t, overwrite = true,
      statsCols = Seq("s"))
    val trusted = VersionedTable.read(spark, t)
    val folded = spark.sql(
      s"SELECT count(*) AS n FROM graft.`$t` WHERE s = 'abc'")
      .collect()(0).getLong(0)
    assert(folded == trusted.where("s = 'abc'").count(),
      "folded count must equal the scan under the column's collation")
    // when the collation survives the round trip, 'abc' matches 'ABC'
    if (trusted.schema("s").dataType !=
        org.apache.spark.sql.types.StringType)
      assert(folded == 1L)
  }

  test("IS NULL folds from null counts; negations and dates classify") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t = tmpTable("isn")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("dt", DateType)))
    def mk(rows: Seq[Row]) = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), schema).coalesce(1)
    def day(d: String) = java.sql.Date.valueOf(d)
    // file 1: s entirely null; file 2: s null-free
    VersionedTable.commit(mk((0L until 40L).map(i =>
      Row(java.lang.Long.valueOf(i), null, day("1995-01-02")))),
      t, overwrite = true, statsCols = Seq("id", "s", "dt"))
    VersionedTable.commit(mk((40L until 100L).map(i =>
      Row(java.lang.Long.valueOf(i), s"k$i", day("1997-06-05")))),
      t, overwrite = false)
    // IS NULL decides every file from null counts: zero data files
    val qn = s"SELECT count(*) AS n FROM graft.`$t` WHERE s IS NULL"
    assert(foldsToLocal(qn), "all-null vs null-free files fold IS NULL")
    assert(spark.sql(qn).collect()(0).getLong(0) == 40L)
    // != excludes only the single-point file it provably equals;
    // the wider file is boundary and scans
    val qe = s"SELECT count(*) AS n FROM graft.`$t` " +
      "WHERE dt != DATE '1995-01-02'"
    assert(spark.sql(qe).collect()(0).getLong(0) == 60L)
    assert(spark.sql(qe).inputFiles.isEmpty,
      "single-point date spans decide != for both files")
    // NOT IN with a NULL member matches nothing — folds to zero
    val qnn = s"SELECT count(*) AS n FROM graft.`$t` " +
      "WHERE id NOT IN (1, NULL)"
    assert(foldsToLocal(qnn))
    assert(spark.sql(qnn).collect()(0).getLong(0) == 0L)
    // date min/max fold from the manifest's epoch-day spans
    val qd = s"SELECT min(dt) AS lo, max(dt) AS hi FROM graft.`$t`"
    assert(foldsToLocal(qd), "date spans fold min/max")
    val r = spark.sql(qd).collect()(0)
    assert(r.getDate(0) == day("1995-01-02") &&
      r.getDate(1) == day("1997-06-05"))
    // pruning: IS NULL opens only the nulls-bearing file
    val pr = VersionedTable.read(spark, t).where(col("s").isNull)
    pr.collect()
    val scanned = pr.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value.toInt
    }.sum
    assert(scanned == 1, s"IS NULL must prune null-free files: $scanned")
  }

  test("LIKE prefix ranges classify and prune by byte order") {
    val t = tmpTable("pfx")
    VersionedTable.commit(
      (0 until 900).map(i => (i.toLong, f"k${i}%03d")).toDF("id", "s")
        .repartitionByRange(3, col("s")).sortWithinPartitions("s"),
      t, overwrite = true, statsCols = Seq("s"))
    // every file's span sits inside [k, l): LIKE 'k%' folds whole
    val qAll = s"SELECT count(*) AS n FROM graft.`$t` WHERE s LIKE 'k%'"
    assert(foldsToLocal(qAll), "covering prefix folds from metadata")
    assert(spark.sql(qAll).collect()(0).getLong(0) == 900L)
    // a non-matching prefix proves every file all-out — still no scan
    val qNone = s"SELECT count(*) AS n FROM graft.`$t` WHERE s LIKE 'z%'"
    assert(foldsToLocal(qNone))
    assert(spark.sql(qNone).collect()(0).getLong(0) == 0L)
    // a sub-file prefix scans just the file whose span straddles it
    val qSub = s"SELECT count(*) AS n FROM graft.`$t` WHERE s LIKE 'k3%'"
    assert(spark.sql(qSub).collect()(0).getLong(0) == 100L)
    assert(spark.sql(qSub).inputFiles.length <= 1,
      "a straddling prefix scans one boundary file")
    // pruning: the scan surface opens only span-matching files
    val pr = VersionedTable.read(spark, t).where(col("s").like("k8%"))
    pr.collect()
    val scanned = pr.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value.toInt
    }.sum
    assert(scanned == 1, s"prefix prune must open 1 of 3 files: $scanned")
    // a pattern with an interior wildcard is NOT a prefix — declines
    // to the scan and stays correct
    val qWild = s"SELECT count(*) AS n FROM graft.`$t` WHERE s LIKE 'k_5%'"
    assert(spark.sql(qWild).collect()(0).getLong(0) == 90L)
  }

  test("timestamp folds are unit-safe under a millis-writing session") {
    // outputTimestampType=TIMESTAMP_MILLIS stores raw millis in the
    // footers; the harvest must unit-normalize to micros (tagged
    // TsMicros) or every classification would be off by 1000x —
    // dropping files in pruning and folding wrong counts
    val t = tmpTable("tsu")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampType)))
    val oldTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MILLIS")
    try {
      VersionedTable.commit(
        spark.createDataFrame(new java.util.ArrayList[Row](
          (0L until 50L).map(i => Row(java.lang.Long.valueOf(i),
            java.sql.Timestamp.valueOf(java.time.LocalDateTime
              .of(1995, 1, (i % 25 + 1).toInt, 10, 30)))).asJava),
          schema).repartitionByRange(2, col("ts"))
          .sortWithinPartitions("ts"),
        t, overwrite = true, statsCols = Seq("ts"))
    } finally
      spark.conf.set("spark.sql.parquet.outputTimestampType", oldTs)
    val trusted = VersionedTable.read(spark, t)
    val w = s"SELECT count(ts) AS n, min(ts) AS lo, max(ts) AS hi " +
      s"FROM graft.`$t`"
    assert(foldsToLocal(w), "millis-written spans fold (as micros)")
    assert(spark.sql(w).collect()(0).toSeq ==
      trusted.selectExpr("count(ts) AS n", "min(ts) AS lo",
        "max(ts) AS hi").collect()(0).toSeq)
    val p = "ts >= TIMESTAMP '1995-01-13 00:00:00'"
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$t` WHERE $p")
      .collect()(0).getLong(0) == trusted.where(p).count())
    // pruning on the millis-written table never drops a wrong file
    assert(VersionedTable.read(spark, t).where(p).count() ==
      trusted.where(p).count())
  }

  test("GROUP BY a file-clustered key folds per group from metadata") {
    val t = tmpTable("grp")
    def batch(band: java.lang.Long, ids: Range) =
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](
        ids.map(i => org.apache.spark.sql.Row(java.lang.Long.valueOf(i.toLong),
          band, if (i % 10 == 0) null else s"x$i")).asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("band",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.StringType)))).coalesce(1)
    // one commit per band: every file single-valued in `band`
    VersionedTable.commit(batch(0L, 0 until 40), t, overwrite = true,
      statsCols = Seq("id", "band", "s"))
    (1 to 3).foreach(b =>
      VersionedTable.commit(batch(b.toLong, b * 100 until b * 100 + 30),
        t, overwrite = false))
    def trusted = VersionedTable.read(spark, t)
    val q = s"SELECT band, count(*) AS n, count(s) AS ns, " +
      s"min(id) AS lo, max(id) AS hi FROM graft.`$t` GROUP BY band"
    def oracle() = trusted.groupBy("band").agg(
      count(lit(1)).as("n"), count(col("s")).as("ns"),
      min(col("id")).as("lo"), max(col("id")).as("hi"))
      .collect().toSet
    assert(foldsToLocal(q), "single-band files fold the whole GROUP BY")
    assert(spark.sql(q).collect().toSet == oracle())
    // WHERE composes: band-classified files fold under the predicate
    val qw = s"SELECT band, count(*) AS n FROM graft.`$t` " +
      "WHERE band >= 1 GROUP BY band"
    assert(foldsToLocal(qw))
    assert(spark.sql(qw).collect().toSet ==
      trusted.where("band >= 1").groupBy("band")
        .agg(count(lit(1)).as("n")).collect().toSet)
    // an all-null band file lands in the NULL group, still folded
    VersionedTable.commit(batch(null, 500 until 520), t,
      overwrite = false)
    assert(foldsToLocal(q), "the NULL group folds from null counts")
    assert(spark.sql(q).collect().toSet == oracle())
    // a MIXED-band file demotes to the boundary scan; everything
    // else still answers from metadata (hybrid union)
    VersionedTable.commit(
      (600 until 620).map(i => (i.toLong, (i % 2 + 7).toLong, s"x$i"))
        .toDF("id", "band", "s").coalesce(1), t, overwrite = false)
    val mixed = spark.sql(q)
    assert(!foldsToLocal(q))
    assert(mixed.inputFiles.length <= 1,
      s"only the mixed file scans: ${mixed.inputFiles.length}")
    assert(mixed.collect().toSet == oracle())
    // a DV over a nulls-bearing file makes count(s) (and the group's
    // extrema) unprovable there: that file demotes, values stay exact
    VersionedTable.deleteWhere(spark, t, col("id") === 5L,
      deletionVectors = true)
    assert(spark.sql(q).collect().toSet == oracle())
    // masking a group's extremum keeps per-group min/max exact
    VersionedTable.deleteWhere(spark, t, col("id") === 100L,
      deletionVectors = true)
    assert(spark.sql(q).collect().toSet == oracle())
    // a FULLY-masked group must vanish, never emit a zero-count row
    VersionedTable.deleteWhere(spark, t, col("band") === 3L,
      deletionVectors = true)
    val qc = s"SELECT band, count(*) AS n FROM graft.`$t` GROUP BY band"
    assert(spark.sql(qc).collect().toSet ==
      trusted.groupBy("band").agg(count(lit(1)).as("n"))
        .collect().toSet,
      "a fully-masked group is absent from the scan and must be " +
        "absent from the fold")
  }

  test("decimal spans: min/max/sum fold, WHERE classifies and prunes") {
    val t = tmpTable("dec")
    val df = (0L until 1000L).map(i => (i, i)).toDF("id", "raw")
      .withColumn("price", (col("raw") / 4).cast("decimal(12,2)"))
      .drop("raw")
    VersionedTable.commit(
      df.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id", "price"))
    // `C` decimal spans are a new field alphabet: a reader feature
    val src = scala.io.Source.fromFile(s"$t/_graft_log/v00000.manifest")
    val feats = try src.getLines().find(_.startsWith("features:")).get
      finally src.close()
    assert(feats == "features:taggedSpans",
      "decimal spans must be named as a reader feature")
    val trusted = VersionedTable.read(spark, t)
    val q = s"SELECT min(price) AS lo, max(price) AS hi, " +
      s"sum(price) AS sp FROM graft.`$t`"
    assert(foldsToLocal(q), "decimal min/max/sum must fold from spans")
    assert(spark.sql(q).collect()(0).toSeq ==
      trusted.selectExpr("min(price) AS lo", "max(price) AS hi",
        "sum(price) AS sp").collect()(0).toSeq)
    // a WHERE on the decimal column classifies files exactly: the
    // interior of the range folds, only straddling files scan
    val w = s"SELECT count(*) AS n, min(price) AS lo " +
      s"FROM graft.`$t` WHERE price >= 60.00 AND price < 200.00"
    val wdf = spark.sql(w)
    assert(wdf.collect()(0).toSeq ==
      trusted.where("price >= 60.00 AND price < 200.00")
        .selectExpr("count(*) AS n", "min(price) AS lo")
        .collect()(0).toSeq)
    if (VersionedTable.readEntries(spark, t, 0).size >= 4)
      assert(wdf.inputFiles.length < 4,
        s"decimal ranges must prune files: ${wdf.inputFiles.length}/4")
    // a DECIMAL grouping key folds too (point-valued per file): the
    // per-tier commit shape with a money-typed tier column
    val tg = tmpTable("dectier")
    (0 to 2).foreach { tier =>
      VersionedTable.commit(
        (0L until 50L).map(i => (tier.toLong, i)).toDF("raw", "x")
          .withColumn("tier",
            (col("raw") * 10 + 0.5).cast("decimal(6,2)"))
          .drop("raw").coalesce(1),
        tg, overwrite = tier == 0,
        statsCols = if (tier == 0) Seq("tier", "x") else Seq.empty)
    }
    val gq = s"SELECT tier, count(*) AS n, sum(x) AS sx " +
      s"FROM graft.`$tg` GROUP BY tier"
    assert(foldsToLocal(gq), "a decimal grouping key must fold")
    assert(spark.sql(gq).collect().map(_.toSeq).toSet ==
      VersionedTable.read(spark, tg).groupBy("tier")
        .agg(expr("count(*) AS n"), expr("sum(x) AS sx"))
        .collect().map(_.toSeq).toSet)
  }

  test("multi-key GROUP BY and DISTINCT fold from metadata") {
    val t = tmpTable("g2")
    (0L to 3L).foreach { b =>
      VersionedTable.commit(
        (0L until 50L).map(i => (b, b % 2, b * 100 + i))
          .toDF("band", "parity", "x").coalesce(1),
        t, overwrite = b == 0,
        statsCols = if (b == 0) Seq("band", "parity", "x")
          else Seq.empty)
    }
    def scanned(q: String => String) =
      VersionedTable.read(spark, t).groupBy("band", "parity")
        .agg(expr("count(*) AS n"), expr("sum(x) AS sx"),
          expr("min(x) AS lo")).collect().map(_.toSeq).toSet
    val gq = s"SELECT band, parity, count(*) AS n, sum(x) AS sx, " +
      s"min(x) AS lo FROM graft.`$t` GROUP BY band, parity"
    assert(foldsToLocal(gq),
      "two-key grouped aggregates over per-band files must fold")
    assert(spark.sql(gq).collect().map(_.toSeq).toSet == scanned(identity))
    // DISTINCT = the same grouped fold with key-only outputs
    val dq = s"SELECT DISTINCT band, parity FROM graft.`$t`"
    assert(foldsToLocal(dq), "SELECT DISTINCT must fold to metadata")
    assert(spark.sql(dq).collect().map(_.toSeq).toSet ==
      VersionedTable.read(spark, t).select("band", "parity")
        .distinct().collect().map(_.toSeq).toSet)
    // count(DISTINCT band): point files only
    val cq = s"SELECT count(DISTINCT band) AS nb FROM graft.`$t`"
    assert(foldsToLocal(cq), "count(DISTINCT) must fold to metadata")
    assert(spark.sql(cq).collect()(0).getLong(0) == 4L)
    // fully mask band 3: its distinct value must VANISH (exactly as
    // it would from a scan of the masked version)
    VersionedTable.deleteWhere(spark, t, col("band") === 3L,
      deletionVectors = true)
    assert(spark.sql(cq).collect()(0).getLong(0) == 3L,
      "a fully-masked point file's value must vanish from distinct")
    // a straddling (multi-band) commit: its write-time distinct-set
    // ledger keeps count(DISTINCT) a PURE metadata fold (r18 — this
    // used to decline to the scan), still exact
    VersionedTable.commit(
      (0L until 20L).map(i => (i % 4, (i % 4) % 2, 9000L + i))
        .toDF("band", "parity", "x").coalesce(1), t, overwrite = false)
    assert(foldsToLocal(cq),
      "a multi-valued file with a recorded value set must still fold")
    assert(spark.sql(cq).collect()(0).getLong(0) == 4L)
    assert(spark.sql(gq).collect().map(_.toSeq).toSet == scanned(identity),
      "two-key hybrid (straddler + DV'd file scan) must equal the scan")
  }

  test("multi-valued files fold count(DISTINCT) via the value-set " +
      "ledger; wrapped aggregates stay exact") {
    val t = tmpTable("d")
    VersionedTable.commit(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "s").coalesce(1),
      t, overwrite = true, statsCols = Seq("id"))
    // the one file spans [1,2] — not single-valued, but the write-time
    // value-set ledger records {1,2} exactly (r18; pre-ledger this
    // declined to the scan)
    val q = s"SELECT count(DISTINCT id) AS n FROM graft.`$t`"
    assert(foldsToLocal(q),
      "count(DISTINCT) over a recorded value set must fold")
    assert(spark.sql(q).collect()(0).getLong(0) == 2L)
    // a PRE-LEDGER entry (no recorded set) still declines: strip the
    // q field from the manifest and re-ask through a fresh session
    // state (simulated by a footer-path commit)
    val t2 = tmpTable("d2")
    spark.conf.set("spark.graft.writeHarvest", "false")
    try VersionedTable.commit(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "s").coalesce(1),
      t2, overwrite = true, statsCols = Seq("id"))
    finally spark.conf.set("spark.graft.writeHarvest", "true")
    val q2b = s"SELECT count(DISTINCT id) AS n FROM graft.`$t2`"
    assert(!foldsToLocal(q2b),
      "without a recorded set a multi-valued file must scan")
    assert(spark.sql(q2b).collect()(0).getLong(0) == 2L)
    // an expression OVER an aggregate folds via the wrapper split
    // (Project ∘ plain-Aggregate) and stays exact
    val q2 = s"SELECT count(*) + 1 AS n FROM graft.`$t`"
    assert(spark.sql(q2).collect()(0).getLong(0) == 4L)
  }

  test("grouped avg folds per group under the 2^53 proof") {
    val t = tmpTable("gavg")
    def batch(band: Long, ids: Range) =
      ids.map(i => (i.toLong, band,
        if (i % 5 == 0) null else java.lang.Long.valueOf(i * 3L)))
        .toDF("id", "band", "v").coalesce(1)
    VersionedTable.commit(batch(0L, 0 until 40), t, overwrite = true,
      statsCols = Seq("id", "band", "v"))
    (1 to 3).foreach(b =>
      VersionedTable.commit(batch(b.toLong, b * 100 until b * 100 + 30),
        t, overwrite = false))
    def trusted = VersionedTable.read(spark, t)
    val q = s"SELECT band, avg(v) AS av, avg(id) AS ai, " +
      s"count(*) AS n FROM graft.`$t` GROUP BY band"
    def oracle() = trusted.groupBy("band").agg(
      avg(col("v")).as("av"), avg(col("id")).as("ai"),
      count(lit(1)).as("n")).collect().toSet
    assert(foldsToLocal(q), "grouped avg must fold from metadata")
    assert(spark.sql(q).collect().toSet == oracle())
    // an all-null-v band answers SQL NULL for its average
    VersionedTable.commit(
      (500 until 520).map(i => (i.toLong, 9L,
        null: java.lang.Long)).toDF("id", "band", "v").coalesce(1),
      t, overwrite = false)
    assert(foldsToLocal(q))
    assert(spark.sql(q).collect().toSet == oracle())
    // a boundary (mixed-band file) no longer declines: the HYBRID
    // unions per-group Σ/n partials from the one-file scan with the
    // metadata halves — only the straddler opens, bit-exact
    VersionedTable.commit(
      (600 until 610).map(i => (i.toLong, (i % 2 + 7).toLong, i * 3L))
        .toDF("id", "band", "v").coalesce(1), t, overwrite = false)
    assert(!foldsToLocal(q), "a demoted file keeps a (1-file) scan")
    assert(spark.sql(q).inputFiles.length == 1,
      "the avg hybrid must open only the demoted file: " +
        s"${spark.sql(q).inputFiles.length}")
    assert(spark.sql(q).collect().toSet == oracle())
    // a value past the 2^53 proof declines (the scan's double
    // accumulation is no longer provably exact)
    val t2 = tmpTable("gavg53")
    VersionedTable.commit(
      Seq((1L, 1L, (1L << 60)), (2L, 1L, 8L)).toDF("id", "band", "v")
        .coalesce(1),
      t2, overwrite = true, statsCols = Seq("id", "band", "v"))
    val q2 = s"SELECT band, avg(v) AS av FROM graft.`$t2` GROUP BY band"
    assert(!foldsToLocal(q2), "past 2^53 the grouped avg must decline")
  }

  test("avg hybrids: boundary Σ/n partials combine with metadata, " +
      "whole-table and per-group, bit-exact") {
    val t = tmpTable("avghyb")
    val df = spark.range(0, 4000).select($"id".as("k"),
      ($"id" * 3 - 5555).as("v"))
    VersionedTable.commit(
      df.repartitionByRange(4, col("k")).sortWithinPartitions("k"), t,
      overwrite = true, statsCols = Seq("k", "v"))
    def trusted = VersionedTable.read(spark, t)
    // whole-table: a WHERE cutting mid-file opens only the straddler
    val cut = 1013L
    val q = spark.sql(
      s"SELECT avg(v) AS a, count(*) AS n FROM graft.`$t` " +
        s"WHERE k >= $cut")
    assert(q.inputFiles.length == 1,
      s"avg hybrid must open one file: ${q.inputFiles.length}")
    val expect = trusted.where(col("k") >= cut)
      .agg(avg(col("v")), count(lit(1))).collect()(0)
    val got = q.collect()(0)
    assert(java.lang.Double.doubleToLongBits(got.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(expect.getDouble(0)) &&
      got.getLong(1) == expect.getLong(1),
      s"hybrid avg must be bit-exact: $got vs $expect")
    // a boundary value past the 2^53 proof declines to the full scan
    val t2 = tmpTable("avghyb53")
    VersionedTable.commit(Seq((1L, 1L), (2L, 1L << 60), (3L, 9L))
      .toDF("k", "v").coalesce(1), t2, overwrite = true,
      statsCols = Seq("k", "v"))
    VersionedTable.commit(Seq((10L, 4L)).toDF("k", "v").coalesce(1),
      t2, overwrite = false)
    val q2 = spark.sql(
      s"SELECT avg(v) AS a FROM graft.`$t2` WHERE k >= 2")
    assert(q2.inputFiles.length == 2,
      "past 2^53 the hybrid must decline to the full scan")
    assert(q2.collect()(0).getDouble(0) ==
      VersionedTable.read(spark, t2).where(col("k") >= 2)
        .agg(avg(col("v"))).collect()(0).getDouble(0))
  }

  test("count(DISTINCT) hybrids: boundary values union with metadata") {
    val t = tmpTable("dhybrid")
    // three point files inside the predicate + one straddling file
    // carrying overlapping AND new values
    Seq((1L, 10L), (1L, 10L)).toDF("g", "k").coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = true,
        statsCols = Seq("g", "k"))
    }
    Seq((2L, 20L)).toDF("g", "k").coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = false)
    }
    Seq((3L, 30L), (3L, 31L)).toDF("g", "k").coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = false)
    }
    // straddles k >= 0: g values 2 (overlap) and 4, 5 (new), plus a
    // row excluded by the predicate carrying 6
    Seq((2L, 5L), (4L, 1L), (5L, 2L), (6L, -1L)).toDF("g", "k")
      .coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = false)
    }
    val n = VersionedTable.readEntries(spark, t, 3).size
    val q = spark.sql(
      s"SELECT count(DISTINCT g) AS d FROM graft.`$t` WHERE k >= 0")
    assert(q.collect()(0).getLong(0) == 5L, // {1,2,3,4,5}
      "metadata values must union with the boundary scan's")
    assert(q.inputFiles.length < n,
      s"decided files must not open: ${q.inputFiles.length}/$n")
    // all-null-g files contribute nothing to the distinct set
    Seq((Option.empty[Long], 7L)).toDF("g", "k")
      .coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = false)
    }
    assert(spark.sql(
      s"SELECT count(DISTINCT g) AS d FROM graft.`$t` WHERE k >= 0")
      .collect()(0).getLong(0) == 5L)
  }

  test("distinct-set ledger: multi-valued files fold count(DISTINCT) " +
      "pure; deletion vectors refuse the physical set") {
    val t = tmpTable("dsetfold")
    // two files, EACH multi-valued (no point spans anywhere) with
    // overlapping small value sets — only the write-time dset ledger
    // can fold this
    Seq((1L, 10L), (2L, 11L), (3L, 12L)).toDF("g", "k")
      .coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = true,
        statsCols = Seq("g", "k"))
    }
    Seq((3L, 20L), (4L, 21L)).toDF("g", "k").coalesce(1) match {
      case d => VersionedTable.commit(d, t, overwrite = false)
    }
    val q = s"SELECT count(DISTINCT g) AS d FROM graft.`$t`"
    assert(foldsToLocal(q),
      "multi-valued files with recorded value sets must fold")
    assert(spark.sql(q).collect()(0).getLong(0) == 4L) // {1,2,3,4}
    // SELECT DISTINCT g (key-only) folds off the same sets, NULL
    // group included
    val dq = s"SELECT DISTINCT g FROM graft.`$t`"
    assert(foldsToLocal(dq),
      "SELECT DISTINCT over value-set files must fold")
    assert(spark.sql(dq).collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    VersionedTable.commit(
      Seq((Option.empty[Long], 30L), (Option(5L), 31L))
        .toDF("g", "k").coalesce(1), t, overwrite = false)
    assert(foldsToLocal(dq))
    assert(spark.sql(dq).collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq ==
      Seq(-1L, 1L, 2L, 3L, 4L, 5L),
      "the NULL group must appear from the null count")
    // a live DV makes the recorded set merely physical: the masked
    // file rescans (hybrid) and the vanished value drops
    VersionedTable.deleteWhere(spark, t, col("g") === 4L,
      deletionVectors = true)
    val q2 = spark.sql(q)
    assert(q2.collect()(0).getLong(0) == 4L, // {1,2,3,5}
      "a DV-masked value must vanish exactly as from a scan")
    assert(spark.sql(dq).collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq ==
      Seq(-1L, 1L, 2L, 3L, 5L),
      "DISTINCT under a DV must match the scan")
  }

  test("near-38-precision decimal hybrids decline: a boundary " +
      "subtotal that overflows must never count as zero") {
    val t = tmpTable("decoverflow")
    def dec(s: String) = s"CAST('$s' AS DECIMAL(38,0))"
    // file A (all-in under k >= 0): one row of -9e37; g point-span 2
    spark.sql(s"SELECT 2L AS g, 5L AS k, ${dec("-" + "9" * 38)} AS v")
      .createOrReplaceTempView("fa")
    VersionedTable.commit(spark.table("fa").coalesce(1), t,
      overwrite = true, statsCols = Seq("g", "k", "v"))
    // file B (boundary: k span [-1, 2]): two matching rows whose
    // SUBTOTAL needs 39 digits, while the combined group/table total
    // (-9e37 + 2·9e37 = 9e37) fits DECIMAL(38,0) — the exact shape
    // where a LEGACY boundary partial nulls (silently zero under the
    // old combine) and ANSI throws spuriously
    spark.sql(
      s"""SELECT * FROM VALUES
         |  (2L, 1L, ${dec("9" * 38)}),
         |  (2L, 2L, ${dec("9" * 38)}),
         |  (2L, -1L, ${dec("1")}) AS t(g, k, v)""".stripMargin)
      .createOrReplaceTempView("fb")
    VersionedTable.commit(spark.table("fb").coalesce(1), t,
      overwrite = false)
    val expect = new java.math.BigDecimal("9" * 38)
    // the ONLY wrong outcome is the silent one: a non-null total that
    // dropped the boundary file's contribution. The scan itself is
    // partition-layout-dependent here (a per-file partial overflows
    // the (38,0) buffer: ANSI throws, LEGACY yields NULL; one
    // partition covering both files answers the exact value), so the
    // fold must DECLINE — never answer — and whatever the scan then
    // does is Spark's own documented overflow semantics.
    val wrong = new java.math.BigDecimal("-" + "9" * 38)
    val ansi0 = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val q = s"SELECT sum(v) AS s FROM graft.`$t` WHERE k >= 0"
      assert(spark.sql(q).queryExecution.optimizedPlan.collectLeaves()
        .forall(!_.isInstanceOf[LocalRelation]),
        "the near-38 decimal hybrid must decline, not fold")
      val got = spark.sql(q).collect()(0).getDecimal(0)
      assert(got == null || got.compareTo(expect) == 0,
        s"whole-table hybrid answered wrong: $got")
      assert(got == null || got.compareTo(wrong) != 0)
      val gotG = spark.sql(s"SELECT g, sum(v) AS s FROM graft.`$t` " +
        "WHERE k >= 0 GROUP BY g").collect()
      assert(gotG.length == 1 && gotG(0).getLong(0) == 2L)
      val gv = gotG(0).getDecimal(1)
      assert(gv == null || gv.compareTo(expect) == 0,
        s"grouped hybrid answered wrong: $gv")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi0)
    // and a provably-safe wide-decimal hybrid still folds its all-in
    // side (no blanket decline): row counts bound 3 × 10^12 « 10^38
    val t2 = tmpTable("decsafe")
    val df = (0L until 300L).map(i => (i, BigDecimal(i)))
      .toDF("k", "v").select($"k", $"v".cast("decimal(12,0)").as("v"))
    VersionedTable.commit(
      df.repartitionByRange(3, col("k")).sortWithinPartitions("k"),
      t2, overwrite = true, statsCols = Seq("k", "v"))
    val w = spark.sql(
      s"SELECT sum(v) AS s FROM graft.`$t2` WHERE k >= 50 AND k < 250")
    assert(w.collect()(0).getDecimal(0)
      .compareTo(new java.math.BigDecimal((50L until 250L).sum)) == 0)
    if (VersionedTable.readEntries(spark, t2, 0).size >= 3)
      assert(w.inputFiles.length < 3,
        "interior files must still fold under the safety proof")
  }
}

/** The hostile table and predicate list of the folded-count
  * differential, shared with [[FilePredicateSpec]]. */
object VtMetadataAggSpec {
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.types._

  // hostile mix: nulls in every column, NaN/±0.0 doubles, non-ASCII
  // strings — everything the exact-or-scan contract must survive
  val hostileRows: Seq[Row] = (0L until 300L).map { i =>
    val id = if (i % 13 == 0) null else java.lang.Long.valueOf(i)
    val d = i % 17 match {
      case 0 => null
      case 1 => java.lang.Double.valueOf(Double.NaN)
      case 2 => java.lang.Double.valueOf(-0.0)
      case _ => java.lang.Double.valueOf(i / 7.0)
    }
    val s = i % 11 match {
      case 0 => null
      case 1 => s"z�${i}" // non-ASCII: exact order must refuse
      case _ => f"k$i%03d"
    }
    val dt = if (i % 19 == 0) null
      else java.sql.Date.valueOf(java.time.LocalDate
        .of(1995, 1, 1).plusDays((i * 37 % 1400).toInt).toString)
    val ts = if (i % 23 == 0) null
      else java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(1995, 1, 1, 0, 0).plusHours(i * 13 % 20000))
    val dec = if (i % 5 == 4) null
      else new java.math.BigDecimal(i).movePointLeft(1).setScale(2)
    Row(id, d, s, dt, ts, dec)
  }

  val hostileSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("dec", DecimalType(10, 2))))

  /** Commit the hostile rows at `t` in three id-clustered files, then
    * DV-delete every id divisible by 29 (version 1). */
  def commitHostile(spark: SparkSession, t: String): Unit = {
    VersionedTable.commit(
      spark.createDataFrame(
        new java.util.ArrayList[Row](hostileRows.asJava), hostileSchema)
        .repartitionByRange(3, col("id"))
        .sortWithinPartitions(col("id")),
      t, overwrite = true,
      statsCols = Seq("id", "d", "s", "dt", "ts", "dec"))
    VersionedTable.deleteWhere(spark, t, col("id") % 29 === 0,
      deletionVectors = true): Unit
  }

  val hostilePreds: Seq[String] = {
    val rnd = new scala.util.Random(42)
    Seq(
      "id >= 100", "id < 50", "id = 26", "id >= 0 AND id < 300",
      "id IN (1, 2, 250, 999)", "id IS NOT NULL",
      "d >= 10.0", "d < 20.0", "d = 3.0", "d IS NOT NULL",
      "s >= 'k100'", "s < 'k200'", "s = 'k150'", "s IS NOT NULL",
      "s >= 'z'", "s >= 'z\u99ac150'", "s = 'z\u99ac155'",
      "id >= 50 AND d < 30.0 AND s IS NOT NULL",
      // disjunctions: whole-file, straddling, nested, cross-column,
      // and with untranslatable / provably-empty sides
      "id < 50 OR id >= 250", "id = 26 OR id = 261",
      "id < 20 OR (d >= 10.0 AND d < 20.0)",
      "(id < 50 AND s IS NOT NULL) OR s = 'k150'",
      "d = 3.0 OR s >= 'z'", "id < 10 OR FALSE", "id < 10 OR TRUE",
      "id IN (1, 2) OR id IN (298, 299)",
      // IS NULL / negations / dates
      "id IS NULL", "s IS NULL", "dt IS NULL",
      "d IS NULL OR d >= 20.0", "id IS NULL OR id >= 290",
      "id != 100", "id <> 26", "s != 'k150'",
      "id NOT IN (1, 2, 250)", "id NOT IN (1, NULL)",
      "dt >= DATE '1996-01-01'", "dt = DATE '1995-03-17'",
      "dt >= DATE '1995-06-01' AND dt < DATE '1997-06-01'",
      "dt IS NOT NULL AND id != 7",
      "ts >= TIMESTAMP '1996-01-01 00:00:00'", "ts IS NULL",
      "ts < TIMESTAMP '1995-06-01 12:00:00' " +
        "OR ts >= TIMESTAMP '1996-09-01 00:00:00'",
      "ts = TIMESTAMP '1995-01-01 13:00:00'",
      "ts != TIMESTAMP '1995-01-02 05:00:00'",
      "s LIKE 'k1%'", "s LIKE 'z%'", "s LIKE 'k%' OR id < 5",
      "s LIKE 'k_5%'",
      // DECIMAL spans (r17, `C` tag): ranges, equality, nulls,
      // negations, cross-column ORs
      "dec >= 10.00", "dec < 5.00", "dec = 7.70", "dec IS NULL",
      "dec IS NOT NULL", "dec NOT IN (1.10, 2.20)",
      "dec >= 3.30 AND dec < 25.00", "id < 50 OR dec >= 25.00"
    ) ++ (0 until 20).map { _ =>
      val lo = rnd.nextInt(300); val hi = lo + rnd.nextInt(100)
      s"id >= $lo AND id < $hi"
    } ++ (0 until 10).map { _ =>
      val lo = rnd.nextInt(300); val hi = lo + rnd.nextInt(60)
      s"id < $lo OR id >= $hi"
    }
  }

  /** `p` as the optimizer leaves it over an unscanned relation of
    * `schema` (literals folded, LIKE lowered), with that relation's
    * attribute ids: the condition a planner rule sees. A filter the
    * optimizer removed is TRUE; an emptied relation FALSE. */
  def optimizedCondition(spark: SparkSession, schema: StructType,
      p: String): (org.apache.spark.sql.catalyst.expressions.Expression,
        Set[org.apache.spark.sql.catalyst.expressions.ExprId]) = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val rel = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      schema)
    val ids = rel.queryExecution.analyzed.output.map(_.exprId).toSet
    rel.where(p).queryExecution.optimizedPlan match {
      case Filter(c, _) => (c, ids)
      case _: LocalRelation => (Literal(false), ids)
      case _ => (Literal(true), ids)
    }
  }
}
