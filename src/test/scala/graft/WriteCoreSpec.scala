package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.graftspec.JobCounter

import graft.operators.VersionedTable

/** The one write core every versioned-table rewrite commits through
  * ([[VersionedTable.commitRewrite]]): a lost race retries onto the
  * winner (or, advisory, gives way) without leaving debris, every
  * checkpoint an attempt pins is released, and no verb spells the
  * commit protocol out a second time. */
class WriteCoreSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def tmpTable(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_core_").toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getAbsolutePath
  }

  private def pinned: Set[Int] = SparkFixture.pinnedIds
  private def leftPinned(start: Set[Int]): Unit = {
    val left = SparkFixture.pinnedSince(start)
    assert(left.isEmpty, left)
  }

  private def rowsOf(t: String): Seq[(Long, Long)] =
    VersionedTable.read(spark, t).as[(Long, Long)].collect().toSeq.sorted

  /** v0: ids 0..99 with x = id, in two files. */
  private def seeded(): String = {
    val t = tmpTable()
    VersionedTable.commit((0L until 100L).map(i => (i, i)).toDF("id", "x")
      .repartitionByRange(2, col("id")), t, overwrite = true)
    t
  }

  /** A deletion-vector UPDATE built from the core's own DML parts:
    * mask every row with id < 40 in one sidecar, append it with
    * x + 1000. Each attempt re-discovers against its own base; a base
    * whose hit files all die outright needs no sidecar at all. */
  private def dvUpdate(t: String)(b: VersionedTable.WriteBase)
      : Option[VersionedTable.Change] = {
    val (probe, fileC, posC) =
      VersionedTable.maskedReadWithPos(spark, b.schemaJson, t, b.entries)
    val hits = probe.where(col("id") < 40L)
    val (keep, side) = VersionedTable.kept(b,
      VersionedTable.discover(b, deletionVectors = true, hits, fileC, posC))
    Some(VersionedTable.Change(keep, side, Some(
      hits.select(col("id"), (col("x") + 1000L).as("x")).coalesce(1))))
  }

  private def append(t: String, rows: (Long, Long)*): Unit =
    VersionedTable.commit(rows.toDF("id", "x"), t, overwrite = false): Unit

  test("one lost race: the core re-discovers on the winner, no debris") {
    val t = seeded()
    val start = pinned
    var raced = false
    val v = VersionedTable.commitRewrite(spark, t, "update",
      "versioned update", onBeforeManifestCommit = () =>
        if (!raced) { raced = true; append(t, (200L, 200L), (30L, -30L)) })(
      dvUpdate(t))
    assert(raced && v == 2, v) // the racer took v1
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "append", "update"))
    // the retry saw the winner's rows: its id-30 row is updated too
    val want = (0L until 100L).map(i =>
      if (i < 40) (i, i + 1000L) else (i, i)) ++
      Seq((200L, 200L), (30L, 970L))
    assert(rowsOf(t) == want.sorted)
    // the lost attempt's sidecar and post-image file were deleted
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty)
    leftPinned(start)
  }

  test("maxRetries + 1 losses give up with the verb's text, no debris") {
    val t = seeded()
    val start = pinned
    var n = 0L
    val e = intercept[IllegalStateException](
      VersionedTable.commitRewrite(spark, t, "update", "versioned update",
        maxRetries = 2, onBeforeManifestCommit = () => {
          n += 1; append(t, (1000L + n, n))
        })(dvUpdate(t)))
    assert(e.getMessage.contains(s"versioned update at $t lost the " +
      "manifest race 2 times"), e.getMessage)
    assert(n == 3L)
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      "overwrite" +: Seq.fill(3)("append"))
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty)
    leftPinned(start)
  }

  test("advisory: one loss returns the current version, no debris") {
    val t = seeded()
    val v = VersionedTable.commitRewrite(spark, t, "optimize", "compact",
      advisory = true, onBeforeManifestCommit = () => append(t, (7L, 7L)))(
      b => Some(VersionedTable.Change(Seq.empty, stage = Some(
        VersionedTable.read(spark, t, Some(b.v)).repartition(1)))))
    assert(v == 0, v) // the base it planned on, not the racer's v1
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "append"))
    assert(rowsOf(t) == ((0L until 100L).map(i => (i, i)) :+ (7L, 7L)).sorted)
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty)
  }

  test("DML releases every checkpoint it pins: 50 DV deletes, updates, " +
      "merges and 5 replaceWheres in one session") {
    val t = tmpTable()
    VersionedTable.commit((0L until 2000L).map(i => (i, i)).toDF("id", "x")
      .repartitionByRange(2, col("id")), t, overwrite = true,
      statsCols = Seq("id"))
    val start = pinned
    (0L until 50L).foreach { i =>
      VersionedTable.deleteWhere(spark, t, col("id") === i,
        deletionVectors = true)
      VersionedTable.updateWhere(spark, t, col("id") === 100L + i,
        Map("x" -> (col("x") + 1L)), deletionVectors = true)
      VersionedTable.mergeInto(spark, t,
        Seq((200L + i, -1L), (5000L + i, i)).toDF("id", "x"), Seq("id"),
        deletionVectors = true)
    }
    (0L until 5L).foreach { k =>
      val lo = 1000L + 10L * k
      VersionedTable.replaceWhere(spark, t, col("id").between(lo, lo + 9L),
        (lo to lo + 9L).map(i => (i, 0L)).toDF("id", "x"))
    }
    leftPinned(start)
    val want = (0L until 2000L).filter(_ >= 50L).map { i =>
      if (i >= 100L && i < 150L) (i, i + 1L)
      else if (i >= 200L && i < 250L) (i, -1L)
      else if (i >= 1000L && i < 1050L) (i, 0L)
      else (i, i)
    } ++ (0L until 50L).map(i => (5000L + i, i))
    assert(rowsOf(t) == want.sorted)
  }

  test("empty read shapes run no job and match read's schema") {
    val t = tmpTable()
    VersionedTable.commit((0L until 400L).map(i => (i, i * 10L, s"s$i"))
      .toDF("id", "x", "s").repartitionByRange(2, col("id")), t,
      overwrite = true, statsCols = Seq("id"))
    assert(VersionedTable.deleteWhere(spark, t, col("id") % 7 === 0,
      deletionVectors = true) == 1)
    // an up-to-date poll (fromVersion == latest) of the DV'd table,
    // counted before any read caches the version's mask
    var shapes = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = JobCounter.jobsIn(spark.sparkContext) {
      shapes = Seq(
        VersionedTable.readAppendsSince(spark, t, 1),
        VersionedTable.readAppendsSkippingChanges(spark, t, 1),
        VersionedTable.readEntrySubset(spark, t, 1, Set("nope.parquet")),
        VersionedTable.readFileSlice(spark, t, 1, 2, 2),
        VersionedTable.prunedReadWhere(spark, t,
          Seq(VersionedTable.ExactRange.between("id", 5000L, 6000L))),
        VersionedTable.prunedReadIn(spark, t, "id", Seq(9000L)))
      shapes.foreach(_.schema)
    }
    assert(jobs == 0, s"empty shapes ran $jobs jobs")
    val full = VersionedTable.read(spark, t).schema
    shapes.foreach { df =>
      assert(df.schema == full)
      assert(df.isEmpty)
    }
    // the filtered shapes still analyze their predicate
    intercept[org.apache.spark.sql.AnalysisException](
      VersionedTable.prunedReadWhere(spark, t,
        Seq(VersionedTable.ExactRange.between("nope", 5000L, 6000L))).schema)
  }

  test("the commit protocol is written once: verbs reach manifests, " +
      "staging and retries only through the core") {
    val src = scala.io.Source.fromFile(
      "src/main/scala/graft/operators/VersionedTable.scala", "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val allowed = Map(
      "tryWriteManifest(" ->
        Set("tryWriteManifest", "commitRewrite", "commitImpl", "cloneTo"),
      "stageAndPublish(" ->
        Set("stageAndPublish", "commitRewrite", "commitImpl",
          "applyDvPositions"),
      "while (true)" -> Set("commitRewrite"))
    var owner = ""
    val offenders = lines.zipWithIndex.flatMap { case (line, i) =>
      member.findFirstMatchIn(line).foreach(m => owner = m.group(1))
      val code = line.trim
      if (code.startsWith("*") || code.startsWith("/**") ||
          code.startsWith("//")) Nil
      else allowed.collect {
        case (use, owners) if code.contains(use) && !owners(owner) =>
          s"${i + 1} ($owner): $code"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
