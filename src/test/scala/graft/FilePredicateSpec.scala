package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.graftspec.JobCounter

import graft.operators.{IncrementalJoinView, VersionedTable}
import graft.sources.VtPushdown

/** One file-predicate algebra: every consumer that decides files —
  * scan pruning, job-planned pruning, merge's coarse prune, join-view
  * snapshot pruning, metadata folds — translates through
  * [[VtPushdown]] and classifies through the one
  * [[VersionedTable.ExactPred]] classifier, so the paths cannot drift
  * apart and every key type the manifest records prunes. */
class FilePredicateSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft_fpred_").toFile
    d.deleteOnExit()
    d
  }

  private def tmpTable(): String =
    new java.io.File(tmpDir(), "t").getAbsolutePath

  /** Rows read by `body` with parquet row-group skipping off, so every
    * file a scan opens reads whole: rows read then count opened files. */
  private def rowsRead(body: => Unit): Long = {
    val key = "spark.sql.parquet.filterPushdown"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try JobCounter.recordsReadIn(spark.sparkContext)(body)
    finally spark.conf.set(key, prev)
  }

  private val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def tsAt(minute: Int) =
    new java.sql.Timestamp(t0.getTime + minute * 60000L)

  /** 400 rows keyed by a TIMESTAMP one minute apart, clustered by key
    * into 4 files of ~100 rows with spans on the key. */
  private def tsTable(t: String, key: String, other: String): Unit = {
    VersionedTable.commit((0 until 400).map(i => (tsAt(i), i.toLong))
      .toDF(key, other).repartitionByRange(4, col(key))
      .sortWithinPartitions(key), t, overwrite = true,
      statsCols = Seq(key))
    assert(VersionedTable.readEntries(spark, t, 0).size == 4)
  }

  test("src/main keeps one file-predicate algebra") {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val base = new java.io.File("src/main/scala/graft")
    val gone = Seq("PrunePred", "RangePred", "GePred", "LePred",
      "InPred(", "NotNullPred", "IsNullPred", "OrPred", "mightMatch",
      "toMeta")
    // exact ranges are built by the translator, the table verbs, and
    // the callers that derive bounds from collected keys
    val builders = Set("sources/VtRelation.scala",
      "operators/VersionedTable.scala",
      "operators/IncrementalJoinView.scala", "plans/VtJoinPrune.scala",
      "ScaleProbe.scala", "queries/Ops.scala")
    val offenders = scalaFiles(base).flatMap { f =>
      val rel = base.toPath.relativize(f.toPath).toString
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.flatMap { case (line, i) =>
        val built = !builders(rel) &&
          (line.contains("ExactRange(") ||
            line.contains("ExactRange.between("))
        (gone.filter(line.contains) ++
          (if (built) Seq("ExactRange") else Nil))
          .map(tok => s"$rel:${i + 1} [$tok] ${line.trim}")
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }

  test("job-planned pruning equals driver pruning on hostile data") {
    val t = tmpTable()
    VtMetadataAggSpec.commitHostile(spark, t)
    val v = VersionedTable.latestVersion(spark, t).get
    val entries = VersionedTable.readEntries(spark, t, v)
    val prev = VersionedTable.entryCheckpointThreshold
    VersionedTable.entryCheckpointThreshold = 1
    try {
      VersionedTable.checkpointEntries(spark, t, v): Unit
      VtMetadataAggSpec.hostilePreds.foreach { p =>
        val (c, _) = VtMetadataAggSpec.optimizedCondition(spark,
          VtMetadataAggSpec.hostileSchema, p)
        val preds = VtPushdown.toRelationPreds(Seq(c))
        val driver = VersionedTable.pruneEntriesWhere(entries, preds)
          .map(_.name).toSet
        val job = VersionedTable.pruneEntriesJob(spark, t, v, preds)
          .getOrElse(fail("a completed checkpoint must be used"))
          .map(_.name).toSet
        assert(job == driver, s"pred [$p]: job kept ${job.size}, " +
          s"driver ${driver.size} of ${entries.size}")
        // the planned read routed through the job stays exact
        if (preds.nonEmpty && p.startsWith("id IS NULL"))
          assert(VersionedTable.prunedReadWhere(spark, t, preds)
            .collect().map(_.toString).sorted.toSeq ==
            VersionedTable.read(spark, t).where(p)
              .collect().map(_.toString).sorted.toSeq, p)
      }
    } finally VersionedTable.entryCheckpointThreshold = prev
  }

  test("a TIMESTAMP-keyed merge opens only the files its keys can hit") {
    val t = tmpTable()
    tsTable(t, "ts", "v")
    // ten keys inside the second file's span
    val src = (150 until 160).map(i => (tsAt(i), -i.toLong)).toDF("ts", "v")
    val read = rowsRead {
      VersionedTable.mergeInto(spark, t, src, Seq("ts")): Unit
    }
    // ~100 rows a file: under 300 rows read, some file never opened
    assert(read < 300L, s"merge read $read rows of a 400-row table")
    val got = VersionedTable.read(spark, t).as[(java.sql.Timestamp, Long)]
      .collect().map { case (ts, v) => (ts.getTime, v) }.sorted.toSeq
    val want = (0 until 400).map(i =>
      (tsAt(i).getTime, if (i >= 150 && i < 160) -i.toLong else i.toLong))
    assert(got == want)
  }

  test("a TIMESTAMP-keyed join-view sync prunes the snapshot by key") {
    val d = tmpDir()
    val Seq(l, r, view) = Seq("l", "r", "v")
      .map(n => new java.io.File(d, n).getAbsolutePath)
    tsTable(r, "r_ts", "r_id")
    // deletion vectors on every file: a masked file is read by a plain
    // scan, so only the manifest prune can keep it closed
    VersionedTable.deleteWhere(spark, r, col("r_id") % 50 === 25L,
      deletionVectors = true): Unit
    VersionedTable.commit(Seq((1L, tsAt(10)), (2L, tsAt(390)))
      .toDF("o_id", "o_ts"), l, overwrite = true)
    val on = Seq("o_ts" -> "r_ts")
    IncrementalJoinView.sync(spark, view, l, r, on, Seq("o_id"),
      Seq("r_id")): Unit
    VersionedTable.commit(Seq((3L, tsAt(250))).toDF("o_id", "o_ts"), l,
      overwrite = false): Unit
    val read = rowsRead {
      IncrementalJoinView.sync(spark, view, l, r, on, Seq("o_id"),
        Seq("r_id")): Unit
    }
    assert(read < 300L, s"sync read $read rows past a 400-row snapshot")
    val got = VersionedTable.read(spark, view).select("o_id", "r_id")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 10L), (2L, 390L), (3L, 250L)))
  }

  test("a scattered-key TIMESTAMP merge probes the footer blooms") {
    val t = tmpTable()
    // minute i lives in file i % 4: every file spans the whole range,
    // so only the key column's bloom can keep a file closed
    VersionedTable.commit((0 until 400).map(i => (tsAt(i), i.toLong, i % 4))
      .toDF("ts", "v", "f").repartitionByRange(4, col("f"))
      .drop("f"), t, overwrite = true, statsCols = Seq("ts"))
    assert(VersionedTable.readEntries(spark, t, 0).size == 4)
    // ten keys, all in the file of minutes 1, 5, 9, ...
    val keys = (0 until 10).map(j => 4 * j + 1)
    val src = keys.map(i => (tsAt(i), -i.toLong)).toDF("ts", "v")
    val read = rowsRead {
      VersionedTable.mergeInto(spark, t, src, Seq("ts")): Unit
    }
    // ~100 rows a file: under 300 rows read, some file never opened
    assert(read < 300L, s"merge read $read rows of a 400-row table")
    val got = VersionedTable.read(spark, t).as[(java.sql.Timestamp, Long)]
      .collect().map { case (ts, v) => (ts.getTime, v) }.sorted.toSeq
    val want = (0 until 400).map(i =>
      (tsAt(i).getTime, if (keys.contains(i)) -i.toLong else i.toLong))
    assert(got == want)
  }
}
