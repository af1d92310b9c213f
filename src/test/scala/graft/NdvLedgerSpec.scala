package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VersionedTable

/** The per-file HLL++ NDV-sketch ledger: `approx_count_distinct` over
  * a versioned table folds to a manifest register merge that must be
  * BIT-IDENTICAL to the scan-side aggregate (the write tracker hashes
  * with the same function; register max is an order-free idempotent
  * join) — never merely "close". Anything the registers cannot prove
  * (deletion vector, missing sketch, foreign precision) must DECLINE
  * to the scan, never estimate wrong. */
class NdvLedgerSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def foldsToLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  /** Direct file scan of the version's data files — the unfolded
    * reference the registers must reproduce bit-exactly. */
  private def scanFiles(path: String): DataFrame = {
    val v = VersionedTable.latestVersion(spark, path).get
    val names = VersionedTable.readEntries(spark, path, v).map(_.name)
    spark.read.parquet(names.map(n => s"$path/$n"): _*)
  }

  test("type matrix: folded estimate == scanned estimate, bit-exact") {
    val tmp = Files.createTempDirectory("ndv_types").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 5000).select(
      $"id".cast("int").as("i"),
      $"id".as("l"),
      ($"id" % 11).cast("byte").as("b"),
      ($"id" % 301).cast("short").as("sh"),
      concat(lit("ü_"), ($"id" % 977).cast("string")).as("s"),
      when($"id" % 100 === 0, lit(Double.NaN))
        .when($"id" % 7 === 0, lit(-0.0d))
        .otherwise($"id" * 1.5 - 200.0).as("d"),
      ($"id".cast("float") / 3.0f).as("f"),
      ($"id".cast("decimal(12,2)") * -3.21).cast("decimal(14,2)")
        .as("m"),
      date_add(lit(java.sql.Date.valueOf("1995-03-15")),
        ($"id" % 900).cast("int")).as("dt"),
      to_timestamp(lit("2021-06-01 12:00:00"))
        .plus(expr("make_interval(0,0,0,0,0,0, id % 8640)")).as("ts"),
      to_timestamp_ntz(lit("2021-06-01 12:00:00"))
        .plus(expr("make_interval(0,0,0,0,0,0, id % 240)")).as("tsn"),
      when($"id" % 3 === 0, $"id").as("withnulls"))
      .repartition(3)
    val cols = Seq("i", "l", "b", "sh", "s", "d", "f", "m", "dt",
      "ts", "tsn", "withnulls")
    // LTZ timestamps sketch only under an INT64 writer (INT96 written
    // values cannot be mirrored — no span, no sum, no sketch, same as
    // the footer harvest); pin micros like the production session does
    val oldTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try VersionedTable.commit(df, path, overwrite = true,
      statsCols = cols)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", oldTs)
    val aggs = cols.map(c =>
      s"approx_count_distinct($c) AS a_$c").mkString(", ")
    val folded = spark.sql(s"SELECT $aggs FROM graft.`$path`")
    assert(foldsToLocal(folded),
      "every column's approx_count_distinct must fold to metadata")
    val scanned = scanFiles(path).selectExpr(
      cols.map(c => s"approx_count_distinct($c) AS a_$c"): _*)
    assert(folded.collect()(0).toSeq == scanned.collect()(0).toSeq,
      "the register merge must be bit-identical to the scan")
  }

  test("deletion vector / foreign rsd / missing sketch all decline " +
      "to the scan and stay correct") {
    val tmp = Files.createTempDirectory("ndv_decline").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 2000).select($"id".as("k"),
      ($"id" % 53).as("cat"))
    // range-clustered so the DV below lands in exactly ONE file —
    // the whole-table (vacuous-WHERE) hybrid must then rescan only it
    VersionedTable.commit(
      df.repartitionByRange(2, $"k").sortWithinPartitions("k"), path,
      overwrite = true, statsCols = Seq("k", "cat"))
    // a foreign precision (different register layout) declines
    val foreign = spark.sql(
      s"SELECT approx_count_distinct(cat, 0.01) AS a FROM graft.`$path`")
    assert(!foldsToLocal(foreign),
      "a query rsd with a different register layout must decline")
    assert(foreign.collect()(0).getLong(0) ==
      scanFiles(path).agg(approx_count_distinct($"cat", 0.01))
        .collect()(0).getLong(0))
    // matching rsd spelled explicitly still folds (0.05 == default)
    val explicit = spark.sql(
      s"SELECT approx_count_distinct(cat, 0.05) AS a FROM graft.`$path`")
    assert(foldsToLocal(explicit),
      "the write-time rsd spelled explicitly must fold")
    // a deletion vector masks physical values: decline, stay exact
    val before = spark.sql(
      s"SELECT approx_count_distinct(cat) AS a FROM graft.`$path`")
    assert(foldsToLocal(before))
    VersionedTable.deleteWhere(spark, path, col("k") < 40L,
      deletionVectors = true)
    val masked = spark.sql(
      s"SELECT approx_count_distinct(cat) AS a FROM graft.`$path`")
    assert(!foldsToLocal(masked),
      "a DV'd file's sketch is physical: the pure fold must decline")
    // …but the SEEDED hybrid rescans only the masked file (even with
    // no WHERE — the vacuous-predicate fallback hybridizes too); the
    // answer equals the engine's own masked read end to end
    assert(masked.inputFiles.length == 1,
      "the no-WHERE DV hybrid must open only the masked file: " +
        s"${masked.inputFiles.length}")
    assert(masked.collect()(0).getLong(0) ==
      VersionedTable.read(spark, path)
        .agg(approx_count_distinct($"cat")).collect()(0).getLong(0),
      "the hybrid must equal the masked full read bit-exactly")
    val exactMasked = spark.sql(
      s"SELECT count(DISTINCT cat) AS n FROM graft.`$path`")
      .collect()(0).getLong(0)
    assert(math.abs(masked.collect()(0).getLong(0) - exactMasked)
      <= math.max(2L, (0.25 * exactMasked).toLong))
  }

  test("footer-harvested files (kill-switch) have no sketch: fold " +
      "declines; sketch-off conf records nothing") {
    val tmp = Files.createTempDirectory("ndv_off").toString
    val p1 = s"$tmp/t1"
    val df = spark.range(0, 500).select($"id".as("k"))
    spark.conf.set("spark.graft.writeHarvest", "false")
    try VersionedTable.commit(df, p1, overwrite = true,
      statsCols = Seq("k"))
    finally spark.conf.set("spark.graft.writeHarvest", "true")
    assert(VersionedTable.readEntries(spark, p1, 0)
      .forall(_.ndvs.isEmpty))
    val q1 = spark.sql(
      s"SELECT approx_count_distinct(k) AS a FROM graft.`$p1`")
    assert(!foldsToLocal(q1), "no sketch: must decline to the scan")
    assert(q1.collect()(0).getLong(0) ==
      scanFiles(p1).agg(approx_count_distinct($"k")).collect()(0)
        .getLong(0))
    val p2 = s"$tmp/t2"
    spark.conf.set("spark.graft.ndvSketch", "false")
    try VersionedTable.commit(df, p2, overwrite = true,
      statsCols = Seq("k"))
    finally spark.conf.unset("spark.graft.ndvSketch")
    assert(VersionedTable.readEntries(spark, p2, 0)
      .forall(_.ndvs.isEmpty),
      "spark.graft.ndvSketch=false must record no register words")
  }

  test("manifest text, entry checkpoint and rename all round-trip " +
      "the register words") {
    val tmp = Files.createTempDirectory("ndv_rt").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 300).select($"id".as("k"),
      ($"id" % 5).cast("string").as("cat"))
    VersionedTable.commit(df.coalesce(1), path, overwrite = true,
      statsCols = Seq("k", "cat"))
    val e = VersionedTable.readEntries(spark, path, 0).head
    assert(e.ndvs.keySet == Set("k", "cat"))
    assert(e.ndvs("k").size == 52, // rsd 0.05 -> p=9 -> 52 words
      s"unexpected register layout: ${e.ndvs("k").size} words")
    // checkpointed planning parses the same words back
    VersionedTable.checkpointEntries(spark, path, 0)
    val viaJob = VersionedTable.pruneEntriesJob(spark, path, 0,
      Seq.empty).get.head
    assert(viaJob.ndvs == e.ndvs,
      "the entry checkpoint must round-trip the NDV sketches")
    // a logical rename re-keys the PHYSICAL sketches and value sets
    VersionedTable.renameColumn(spark, path, "cat", "category")
    val renamed = VersionedTable.readEntries(spark, path,
      VersionedTable.latestVersion(spark, path).get).head
    assert(renamed.ndvs.get("category") == e.ndvs.get("cat"),
      "rename must carry the sketch under the new logical name")
    assert(renamed.dsets.get("category") == e.dsets.get("cat"),
      "rename must carry the distinct-value set too")
  }

  test("grouped approx_count_distinct folds per group from " +
      "whole-file-keyed sketches, bit-exact vs the scan") {
    val tmp = Files.createTempDirectory("ndv_grouped").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 6000).select(($"id" % 4).as("day"),
      ($"id" % 321).as("user"), $"id".as("k"))
    // one file per day: every file single-valued in the group key
    (0L until 4L).foreach { d =>
      VersionedTable.commit(df.where($"day" === d).coalesce(1), path,
        overwrite = d == 0L,
        statsCols = if (d == 0L) Seq("day", "user", "k") else Seq.empty)
    }
    val q = spark.sql("SELECT day, approx_count_distinct(user) AS u, " +
      s"count(*) AS n FROM graft.`$path` GROUP BY day")
    assert(foldsToLocal(q),
      "per-day approx_count_distinct must fold from the manifest")
    val scan = scanFiles(path).groupBy($"day")
      .agg(approx_count_distinct($"user").as("u"), count(lit(1)).as("n"))
    assert(q.collect().map(_.toSeq).toSet ==
      scan.collect().map(_.toSeq).toSet,
      "grouped register merges must equal the scan per group")
    // a multi-day file (also carrying a boundary-ONLY new day) rides
    // the grouped HYBRID: its rows' registers accumulate per group in
    // the one-file scan (HllWordsAgg) and merge with each group's
    // metadata registers above the union — only the straddler opens,
    // and every group (including the boundary-only one) is bit-exact
    val extra = spark.range(9000, 9030).select(lit(9L).as("day"),
      ($"id" % 7).as("user"), $"id".as("k"))
    VersionedTable.commit(df.where($"k" < 10).unionByName(extra)
      .coalesce(1), path, overwrite = false)
    val mixed = spark.sql(
      "SELECT day, approx_count_distinct(user) AS u " +
        s"FROM graft.`$path` GROUP BY day")
    assert(mixed.inputFiles.length == 1,
      "the grouped NDV hybrid must open only the straddler: " +
        s"${mixed.inputFiles.length}")
    assert(mixed.collect().map(_.toSeq).toSet ==
      scanFiles(path).groupBy($"day")
        .agg(approx_count_distinct($"user").as("u"))
        .collect().map(_.toSeq).toSet,
      "grouped hybrid estimates must equal the scan per group")
  }

  test("CALL graft.ndv(...) profiles per-column cardinality from the " +
      "manifest; a DV nulls it (exact-or-decline)") {
    val tmp = Files.createTempDirectory("ndv_proc").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 3000).select($"id".as("k"),
      ($"id" % 41).as("cat"))
    VersionedTable.commit(df.repartition(3), path, overwrite = true,
      statsCols = Seq("k", "cat"))
    val rows = spark.sql(s"CALL graft.ndv(table => '$path')")
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          r.getInt(2), r.getInt(3))).toMap
    assert(rows.keySet == Set("k", "cat"))
    assert(rows("k")._2 == 3 && rows("k")._3 == 3)
    // the procedure's estimate IS the fold's (same registers)
    val fold = spark.sql("SELECT approx_count_distinct(cat) AS a " +
      s"FROM graft.`$path`").collect()(0).getLong(0)
    assert(rows("cat")._1.contains(fold),
      s"procedure ndv must equal the fold: ${rows("cat")._1} vs $fold")
    assert(rows("cat")._1.exists(v => math.abs(v - 41L) <= 11L),
      s"estimate must sit within rsd of 41: ${rows("cat")._1}")
    // a deletion vector makes the sketch unprovable: NULL, never a
    // silently-wrong estimate — sketch counts still report
    VersionedTable.deleteWhere(spark, path, col("k") < 5L,
      deletionVectors = true)
    val masked = spark.sql(s"CALL graft.ndv(table => '$path')")
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    assert(masked("k") && masked("cat"),
      "a DV'd version must decline the metadata NDV")
  }

  test("non-default write rsd: the matching query folds and " +
      "CALL graft.ndv infers the layout from the word count") {
    val tmp = Files.createTempDirectory("ndv_rsd").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 2000).select($"id".as("k"))
    spark.conf.set("spark.graft.ndvSketch.rsd", "0.01")
    try VersionedTable.commit(df.repartition(2), path,
      overwrite = true, statsCols = Seq("k"))
    finally spark.conf.unset("spark.graft.ndvSketch.rsd")
    val fine = spark.sql(
      s"SELECT approx_count_distinct(k, 0.01) AS a FROM graft.`$path`")
    assert(foldsToLocal(fine),
      "the write-time precision spelled in the query must fold")
    assert(fine.collect()(0).getLong(0) ==
      scanFiles(path).agg(approx_count_distinct($"k", 0.01))
        .collect()(0).getLong(0))
    val coarse = spark.sql(
      s"SELECT approx_count_distinct(k) AS a FROM graft.`$path`")
    assert(!foldsToLocal(coarse),
      "the default 0.05 layout must decline against 0.01 sketches")
    // the procedure has no query rsd: it recovers the layout from
    // the recorded word count
    val proc = spark.sql(s"CALL graft.ndv(table => '$path')")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(proc("k") == Some(fine.collect()(0).getLong(0)),
      s"CALL ndv must read 0.01-layout sketches: ${proc("k")}")
  }

  test("empty table and all-null column fold to zero") {
    val tmp = Files.createTempDirectory("ndv_empty").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 100).select($"id".as("k"),
      lit(null).cast("long").as("allnull"))
    VersionedTable.commit(df.coalesce(1), path, overwrite = true,
      statsCols = Seq("k", "allnull"))
    val q = spark.sql("SELECT approx_count_distinct(allnull) AS a " +
      s"FROM graft.`$path`")
    assert(foldsToLocal(q))
    assert(q.collect()(0).getLong(0) == 0L)
    val empty = s"$tmp/e"
    VersionedTable.commit(df.where(lit(false)), empty,
      overwrite = true, statsCols = Seq("k"))
    val qe = spark.sql(
      s"SELECT approx_count_distinct(k) AS a FROM graft.`$empty`")
    assert(qe.collect()(0).getLong(0) == 0L)
  }

  test("WHERE folds when files partition cleanly; a straddling " +
      "boundary opens one file via the seeded hybrid") {
    val tmp = Files.createTempDirectory("ndv_where").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 4000).select($"id".as("k"),
      ($"id" % 97).as("cat"))
    VersionedTable.commit(
      df.repartitionByRange(4, $"k").sortWithinPartitions("k"),
      path, overwrite = true, statsCols = Seq("k", "cat"))
    val entries = VersionedTable.readEntries(spark, path, 0)
    assert(entries.size == 4)
    // cut exactly at a file edge: every file is all-in or all-out
    val edge = entries.map(_.stats("k").get._1
      .asInstanceOf[Long]).sorted.apply(2)
    val aligned = spark.sql("SELECT approx_count_distinct(cat) AS a " +
      s"FROM graft.`$path` WHERE k >= $edge")
    assert(foldsToLocal(aligned),
      "a file-aligned WHERE must fold from the all-in sketches")
    val alignedScan = scanFiles(path).where($"k" >= edge)
      .agg(approx_count_distinct($"cat")).collect()(0).getLong(0)
    assert(aligned.collect()(0).getLong(0) == alignedScan,
      "the all-in merge must equal the scan of the same rows")
    // a mid-file cut leaves ONE boundary file: the SEEDED hybrid
    // merges the all-in registers into the scan aggregate's initial
    // buffer and opens only the straddled file — still bit-identical
    // to a full filtered scan (register max is idempotent)
    val straddle = spark.sql(
      "SELECT approx_count_distinct(cat) AS a " +
        s"FROM graft.`$path` WHERE k >= ${edge + 7}")
    assert(straddle.inputFiles.length == 1,
      "the seeded hybrid must open only the straddled file, " +
        s"opened ${straddle.inputFiles.length}")
    assert(straddle.collect()(0).getLong(0) ==
      scanFiles(path).where($"k" >= edge + 7)
        .agg(approx_count_distinct($"cat")).collect()(0).getLong(0),
      "the seeded hybrid must equal the full filtered scan bit-exactly")
  }
}
