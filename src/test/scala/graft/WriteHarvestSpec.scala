package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VersionedTable

/** DIFFERENTIAL lock on the in-write stats harvest: committing the
  * same frame with `spark.graft.writeHarvest=true` (stats collected by
  * the write tasks — zero post-commit reads) and `=false` (the
  * footer+scan harvest) must produce IDENTICAL manifest stats — same
  * spans in the same normalized units, same null counts, same exact
  * sums, same declines. The write-side tracker is only correct if a
  * reader can never tell which path built an entry. */
class WriteHarvestSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  /** Every manifest/segment entry line of the table, file names and
    * byte sizes stripped (they legitimately differ between two
    * separate writes), sorted — the representation-level differential
    * unit. */
  private def normalizedEntries(path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(
      spark.sessionState.newHadoopConf())
    val logp = new Path(path, "_graft_log")
    fs.listStatus(logp).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!n.endsWith(".manifest") && !n.endsWith(".segment")) Seq.empty
      else {
        val in = fs.open(st.getPath)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        // the `q` distinct-set and `h` NDV-sketch fields are
        // write-path-ONLY knowledge (a footer cannot reconstruct
        // per-file value sets or register words) — documented extra
        // information, excluded from the byte differential like the
        // file name and byte size
        s.split('\n').toSeq.filter(_.contains("\t")).map { l =>
          l.split('\t').drop(1).filterNot(f =>
            f.startsWith("z") || f.startsWith("q") || f.startsWith("h"))
            .mkString("\t")
        }
      }
    }.sorted
  }

  private def commitBoth(df: DataFrame, base: String,
      statsCols: Seq[String]): (Seq[String], Seq[String]) = {
    spark.conf.set("spark.graft.writeHarvest", "true")
    try {
      VersionedTable.commit(df, s"$base/w", overwrite = true,
        statsCols = statsCols)
      spark.conf.set("spark.graft.writeHarvest", "false")
      VersionedTable.commit(df, s"$base/f", overwrite = true,
        statsCols = statsCols)
    } finally spark.conf.set("spark.graft.writeHarvest", "true")
    (normalizedEntries(s"$base/w"), normalizedEntries(s"$base/f"))
  }

  test("type matrix: spans/nulls/sums identical across harvest paths") {
    val tmp = Files.createTempDirectory("wh_types").toString
    val df = spark.range(0, 1000).select(
      $"id".cast("int").as("i"),
      $"id".as("l"),
      ($"id" % 7).cast("byte").as("b"),
      ($"id" % 300).cast("short").as("sh"),
      concat(lit("kéy_"), lpad($"id".cast("string"), 5, "0"))
        .as("s"),
      ($"id" * 1.5 - 200.0).as("d"),
      ($"id".cast("float") / 3.0f).as("f"),
      ($"id".cast("decimal(12,2)") * -3.21).cast("decimal(14,2)")
        .as("m"),
      date_add(lit(java.sql.Date.valueOf("1995-03-15")),
        ($"id" % 900).cast("int")).as("dt"),
      to_timestamp(lit("2021-06-01 12:00:00"))
        .plus(expr("make_interval(0,0,0,0,0,0, id % 86400)")).as("ts"),
      to_timestamp_ntz(lit("2021-06-01 12:00:00")).as("tsn"),
      when($"id" % 3 === 0, $"id").as("withnulls"))
      .repartition(3)
    val (w, f) = commitBoth(df, tmp, Seq("i", "l", "b", "sh", "s", "d",
      "f", "m", "dt", "ts", "tsn", "withnulls"))
    assert(w.nonEmpty && w == f)
    // and the sums really are recorded (not two identical declines)
    assert(w.exists(_.contains("\tm")), s"no sum field in: $w")
  }

  test("hostile lanes: NaN declines, all-null, negatives, non-ASCII") {
    val tmp = Files.createTempDirectory("wh_hostile").toString
    val df = Seq(
      (1L, Option(1.5), Option.empty[String], Option("zzü")),
      (2L, Option(Double.NaN), Option.empty[String], Option("éa")),
      (-3L, Option.empty[Double], Option.empty[String],
        Option.empty[String]),
      (Long.MinValue + 5, Option(-0.0d), Option.empty[String],
        Option("aa")))
      .toDF("k", "d", "allnull", "s")
    val (w, f) = commitBoth(df.coalesce(1), tmp,
      Seq("k", "d", "allnull", "s"))
    assert(w.nonEmpty && w == f)
    // NaN present ⇒ the double span is NOT collected on either path
    assert(w.head.split('\t')(3) == "-",
      s"NaN double span must decline: ${w.head}")
  }

  test("per-file decimal-sum overflow declines to unknown on both paths") {
    val tmp = Files.createTempDirectory("wh_overflow").toString
    // two rows whose Σ needs precision 39 > DECIMAL(38,0) capacity
    val df = Seq("9" * 38, "9" * 38).toDF("raw")
      .select($"raw".cast("decimal(38,0)").as("v"))
    val (w, f) = commitBoth(df.coalesce(1), tmp, Seq("v"))
    assert(w == f)
    // span survives; sum field is `-` (unknown) — never a wrong value
    assert(w.head.endsWith("\tm-") || !w.head.contains("\tm"),
      s"overflowed Σ must be unknown: ${w.head}")
  }

  test("column-mapped table: stats stay under logical names") {
    val tmp = Files.createTempDirectory("wh_mapped").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 100).select($"id".as("a"),
      ($"id" * 2).as("b"))
    VersionedTable.commit(df, path, overwrite = true,
      statsCols = Seq("a", "b"))
    VersionedTable.renameColumn(spark, path, "a", "a2")
    // post-rename append: files stage under the PHYSICAL name `a`,
    // manifest records stats under the LOGICAL `a2`
    VersionedTable.commit(spark.range(100, 200).select($"id".as("a2"),
      ($"id" * 2).as("b")), path, overwrite = false)
    val got = VersionedTable.read(spark, path)
      .agg(sum($"a2"), min($"a2"), max($"b")).collect()(0)
    assert(got.getLong(0) == (0L until 200L).sum)
    assert(got.getLong(1) == 0L && got.getLong(2) == 398L)
    // the appended files' entries carry a2 stats (spans + sums
    // recorded under the LOGICAL name's slot)
    val entries = normalizedEntries(path)
    assert(entries.exists(l => l.contains("L175\tL199") &&
      l.contains("\tm")), s"mapped append entry missing: $entries")
  }

  test("distinct-set ledger: low-cardinality columns record exact " +
      "sets, high-cardinality ones stay unknown") {
    val tmp = Files.createTempDirectory("wh_dset").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 1000).select(
      $"id".as("k"), // 1000 distinct: past the cap, no set
      ($"id" % 3).cast("string").as("cat"), // {0,1,2}
      when($"id" % 2 === 0, lit(7L)).as("sparse")) // {7} + nulls
    spark.conf.set("spark.graft.writeHarvest", "true")
    VersionedTable.commit(df.coalesce(1), path, overwrite = true,
      statsCols = Seq("k", "cat", "sparse"))
    val e = VersionedTable.readEntries(spark, path, 0).head
    assert(!e.dsets.contains("k"),
      "a >cap column must record no set")
    assert(e.dsets.get("cat").map(_.map(_.toString)) ==
      Some(Set("0", "1", "2")))
    assert(e.dsets.get("sparse") == Some(Set(7L)))
    // checkpoint round-trip keeps the sets
    VersionedTable.checkpointEntries(spark, path, 0)
    val viaJob = VersionedTable.pruneEntriesJob(spark, path, 0,
      Seq.empty).get.head
    assert(viaJob.dsets == e.dsets,
      "the entry checkpoint must round-trip distinct sets")
  }

  test("distinct sets round-trip hostile strings (separators, tabs, " +
      "unicode) and fold count(DISTINCT) exactly") {
    val tmp = Files.createTempDirectory("wh_dsethostile").toString
    val path = s"$tmp/t"
    // the q-field uses ',' inside a column's set and ';' between
    // columns — values containing BOTH (plus tabs, newlines beyond
    // BMP-ASCII) must survive the URL-escape round trip
    val hostile = Seq("a,b;c", "tab\there", "semi;only", "ünïcodé🙂",
      "line\nbreak", "a,b;c") // one duplicate
    hostile.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("k", "s").coalesce(1) match {
      case d => VersionedTable.commit(d, path, overwrite = true,
        statsCols = Seq("k", "s"))
    }
    val e = VersionedTable.readEntries(spark, path, 0).head
    assert(e.dsets.get("s").map(_.map(_.toString)) ==
      Some(hostile.distinct.toSet),
      s"hostile strings must round-trip: ${e.dsets.get("s")}")
    val q = s"SELECT count(DISTINCT s) AS d FROM graft.`$path`"
    assert(spark.sql(q).collect()(0).getLong(0) ==
      hostile.distinct.size.toLong)
  }

  test("value-set pruning: sparse keys inside a wide span prune") {
    val tmp = Files.createTempDirectory("wh_dprune").toString
    val path = s"$tmp/t"
    // f1 spans [1, 1000] but holds only {1, 1000}; f2 holds {500}
    VersionedTable.commit(Seq(1L, 1000L).toDF("k").coalesce(1), path,
      overwrite = true, statsCols = Seq("k"))
    VersionedTable.commit(Seq(500L).toDF("k").coalesce(1), path,
      overwrite = false)
    // span-only pruning would KEEP f1 for k = 500 (500 ∈ [1,1000]);
    // its recorded value set excludes it
    val entries = VersionedTable.readEntries(spark, path, 1)
    assert(entries.size == 2)
    def kept(p: VersionedTable.ExactPred*): Seq[String] =
      VersionedTable.pruneEntriesWhere(entries, p.toSeq).map(_.name)
    assert(kept(VersionedTable.ExactIn("k", Seq(500L))).size == 1,
      "the value set must prune the wide-span file")
    assert(kept(VersionedTable.ExactRange.between("k", 2L, 400L)).isEmpty,
      "a range inside the value gap must prune everything")
    assert(kept(VersionedTable.ExactRange("k", Some((600L, true)), None))
      .size == 1,
      "one-sided bounds consult the set too")
    assert(kept(VersionedTable.ExactIn("k", Seq(1L, 500L))).size == 2,
      "present values keep their files")
    // end-to-end: answers stay exact through the pruned SQL scan
    val q = spark.sql(s"SELECT k FROM graft.`$path` WHERE k = 500")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(500L))
    val q2 = spark.sql(
      s"SELECT k FROM graft.`$path` WHERE k >= 2 AND k <= 400")
    assert(q2.collect().isEmpty)
    val q3 = spark.sql(s"SELECT k FROM graft.`$path` WHERE k IN (1, 500)")
    assert(q3.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 500L))
  }

  test("empty batch commits cleanly with zero-row entries") {
    val tmp = Files.createTempDirectory("wh_empty").toString
    val path = s"$tmp/t"
    val df = spark.range(0, 10).select($"id".as("k"))
    spark.conf.set("spark.graft.writeHarvest", "true")
    VersionedTable.commit(df.where(lit(false)), path, overwrite = true,
      statsCols = Seq("k"))
    VersionedTable.commit(df, path, overwrite = false)
    assert(VersionedTable.read(spark, path).count() == 10)
  }

  test("TIMESTAMP_MICROS writer: LTZ spans recorded identically") {
    val tmp = Files.createTempDirectory("wh_micros").toString
    val old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      val df = Seq("2021-06-01 12:00:00.123456",
        "2021-06-02 00:00:00.000001")
        .toDF("raw").select(to_timestamp($"raw").as("ts"))
      val (w, f) = commitBoth(df.coalesce(1), tmp, Seq("ts"))
      assert(w == f)
      assert(w.head.contains("T1622548800123456"), w.head)
    } finally spark.conf.set(
      "spark.sql.parquet.outputTimestampType", old)
  }

  test("TIMESTAMP_MILLIS writer: span truncates exactly like the file") {
    val tmp = Files.createTempDirectory("wh_millis").toString
    val old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MILLIS")
    try {
      val df = Seq("2021-06-01 12:00:00.123456",
        "2021-06-01 12:00:00.999999")
        .toDF("raw").select(to_timestamp($"raw").as("ts"))
      val (w, f) = commitBoth(df.coalesce(1), tmp, Seq("ts"))
      assert(w == f)
      // the recorded span is the truncated-to-millis value in micros
      assert(w.head.contains("T1622548800123000"), w.head)
    } finally spark.conf.set(
      "spark.sql.parquet.outputTimestampType", old)
  }
}
