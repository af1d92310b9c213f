package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.VersionedTable
import graft.sources.{VtFileIndex, VtPushdown}

/** The `graft-vt` BATCH relation: reads plan from the commit log
  * (manifest-backed FileIndex), writes are versioned commits, and
  * Catalyst's own pushed filters drive manifest span pruning. */
class VtRelationSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def tmpTable(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vtrel_").toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getAbsolutePath
  }

  private def clustered(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i.toDouble / 2, s"row$i"))
      .toDF("id", "x", "s")
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
  }

  private def index(df: org.apache.spark.sql.DataFrame): VtFileIndex =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.asInstanceOf[VtFileIndex]
    }.getOrElse(fail("no HadoopFsRelation in plan"))

  test("batch read equals VersionedTable.read; write modes commit") {
    val t = tmpTable()
    clustered(100).write.format("graft-vt")
      .option("statsCols", "id").save(t)
    val viaFormat = spark.read.format("graft-vt").load(t)
    val viaApi = VersionedTable.read(spark, t)
    assert(viaFormat.collect().toSet == viaApi.collect().toSet)
    assert(viaFormat.schema == viaApi.schema)

    // append mode adds a version; overwrite replaces
    clustered(10).write.format("graft-vt").mode("append").save(t)
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "append"))
    assert(spark.read.format("graft-vt").load(t).count() == 110)
    // ErrorIfExists refuses on a live table
    intercept[IllegalStateException] {
      clustered(5).write.format("graft-vt")
        .mode("errorifexists").save(t)
    }
    // Ignore no-ops on a live table
    clustered(5).write.format("graft-vt").mode("ignore").save(t)
    assert(spark.read.format("graft-vt").load(t).count() == 110)
  }

  test("pushed filters prune files from the manifest") {
    val t = tmpTable()
    clustered(4000).write.format("graft-vt")
      .option("statsCols", "id").save(t)
    val total = VersionedTable.files(spark, t, 0).size
    assert(total >= 8, s"fixture should write >=8 clustered files: $total")

    // closed range: BETWEEN lands as >= AND <=
    val between = spark.read.format("graft-vt").load(t)
      .where(col("id").between(100, 300))
    val idx1 = index(between)
    val got = between.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (100L to 300L))
    assert(idx1.lastPlannedFiles > 0 && idx1.lastPlannedFiles < total,
      s"range must prune: ${idx1.lastPlannedFiles} of $total")

    // strict one-sided bound
    val gt = spark.read.format("graft-vt").load(t)
      .where(col("id") > 3900)
    val idx2 = index(gt)
    assert(gt.count() == 99)
    assert(idx2.lastPlannedFiles < total,
      s"> must prune: ${idx2.lastPlannedFiles} of $total")

    // IN-list prunes to the buckets holding the members
    val in = spark.read.format("graft-vt").load(t)
      .where(col("id").isin(5L, 3999L))
    val idx3 = index(in)
    assert(in.count() == 2)
    assert(idx3.lastPlannedFiles <= 2,
      s"IN must open at most 2 files: ${idx3.lastPlannedFiles}")

    // a filter on a column with no recorded stats keeps everything
    val noStats = spark.read.format("graft-vt").load(t)
      .where(col("x") <= 1.0)
    val idx4 = index(noStats)
    assert(noStats.count() == 3)
    assert(idx4.lastPlannedFiles == total,
      "no stats on x: pruning must be conservative")
  }

  test("the Scala read surface prunes through the manifest index too") {
    val t = tmpTable()
    clustered(4000).write.format("graft-vt")
      .option("statsCols", "id").save(t)
    val total = VersionedTable.files(spark, t, 0).size
    def scanned(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value.toInt
      }.sum
    }
    // read(...).where(...) auto-prunes — no explicit prunedReadWhere
    val q = VersionedTable.read(spark, t).where(col("id") < 100)
    assert(scanned(q) == 1, s"read().where must prune to 1 of $total")
    assert(q.count() == 100)
    // a DV'd version still prunes its CLEAN files (the masked subset
    // rides the anti-join path; the plain subset rides the index)
    VersionedTable.deleteWhere(spark, t, col("id") === 0L,
      deletionVectors = true)
    val q2 = VersionedTable.read(spark, t).where(col("id") >= 3900)
    assert(q2.count() == 100)
    assert(scanned(q2) < total,
      "the clean subset of a DV'd version must still prune")
  }

  test("OR predicates prune to the union of their sides' files") {
    val t = tmpTable()
    clustered(4000).write.format("graft-vt")
      .option("statsCols", "id").save(t)
    val total = VersionedTable.files(spark, t, 0).size
    val orq = spark.read.format("graft-vt").load(t)
      .where(col("id").between(0, 100) || col("id") > 3900)
    val idx = index(orq)
    assert(orq.count() == 200)
    assert(idx.lastPlannedFiles > 0 && idx.lastPlannedFiles < total,
      s"OR must prune: ${idx.lastPlannedFiles} of $total")
    // an untranslatable disjunct (no stats on x) poisons the whole
    // OR — returning the other side alone would narrow the keep-set
    val orx = spark.read.format("graft-vt").load(t)
      .where(col("id") < 5 || col("x") <= 1.0)
    val idx2 = index(orx)
    orx.collect()
    assert(idx2.lastPlannedFiles == total,
      "an un-prunable OR side keeps every file")
  }

  test("time travel options and schema evolution through the relation") {
    val t = tmpTable()
    import spark.implicits._
    VersionedTable.commit(
      Seq((1L, "a")).toDF("id", "s"), t, overwrite = true)
    val tsAfterV0 = System.currentTimeMillis()
    Thread.sleep(5)
    // evolution: v1 adds a column; v0 files back-fill null
    VersionedTable.commit(
      Seq((2L, "b", 9.9)).toDF("id", "s", "score"), t, overwrite = false)

    val v0 = spark.read.format("graft-vt").option("versionAsOf", 0).load(t)
    assert(v0.columns.toSeq == Seq("id", "s") && v0.count() == 1)
    val v1 = spark.read.format("graft-vt").load(t)
    assert(v1.columns.toSeq == Seq("id", "s", "score"))
    assert(v1.where(col("id") === 1).select("score")
      .collect()(0).isNullAt(0), "pre-evolution file back-fills null")
    val byTs = spark.read.format("graft-vt")
      .option("timestampAsOf", tsAfterV0.toString).load(t)
    assert(byTs.count() == 1, "timestampAsOf must resolve v0")
    intercept[IllegalArgumentException] {
      spark.read.format("graft-vt").load(t)
        .where(col("id") === 1) // force nothing; option conflict below
      spark.read.format("graft-vt").option("versionAsOf", 0)
        .option("timestampAsOf", "123").load(t)
    }
  }

  test("sizeInBytes comes from the manifest (accurate broadcast stats)") {
    val t = tmpTable()
    clustered(1000).write.format("graft-vt")
      .option("statsCols", "id").save(t)
    val df = spark.read.format("graft-vt").load(t)
    val idx = index(df)
    val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
      spark.sessionState.newHadoopConf())
    val trueBytes = VersionedTable.files(spark, t, 0)
      .map(f => fs.getFileStatus(
        new org.apache.hadoop.fs.Path(t, f)).getLen).sum
    assert(idx.sizeInBytes == trueBytes,
      s"manifest sizes must equal the filesystem: ${idx.sizeInBytes} " +
        s"vs $trueBytes")
  }

  test("pushdown translation is conservative on odd shapes") {
    def preds(c: org.apache.spark.sql.Column) = {
      import spark.implicits._
      val df = Seq((1L, "a", BigDecimal(1))).toDF("id", "s", "d")
      df.where(c).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          VtPushdown.toRelationPreds(Seq(f.condition))
      }.flatten
    }
    // decimals are not span-comparable -> no value pred (the implied
    // IsNotNull conjunct may still translate; that one is always sound)
    assert(!preds(col("d") === lit(BigDecimal(3)))
      .exists(_.isInstanceOf[VersionedTable.ExactRange]))
    // a resolved equality on a long DOES translate
    assert(preds(col("id") === 7L)
      .contains(VersionedTable.ExactRange.between("id", 7L, 7L)))
    // strings translate through UTF8String
    assert(preds(col("s") >= "m")
      .contains(VersionedTable.ExactRange("s", Some(("m", true)), None)))
  }
}
