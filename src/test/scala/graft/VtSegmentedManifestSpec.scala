package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VersionedTable

/** The SEGMENTED manifest layout (manifest feature `segments`): entry lists live in immutable
  * `_graft_log/s-<uuid>.segment` files referenced by tiny per-version
  * manifests, so an append's metadata write is O(delta) instead of
  * O(live files) — the commit-cost story a 100 TB table (≈800k files,
  * hundreds of MB of entry lines) needs at streaming cadence. */
class VtSegmentedManifestSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def tmpTable(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vtseg_").toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getAbsolutePath
  }

  private def df(ids: Range, parts: Int = 2) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row$i")).toDF("id", "s").repartition(parts)
  }

  /** Run `body` with the segmented layout active from `n` files up. */
  private def withThreshold[A](n: Int)(body: => A): A = {
    val prev = VersionedTable.segmentThreshold
    VersionedTable.setSegmentThreshold(n)
    try body finally VersionedTable.setSegmentThreshold(prev)
  }

  private def manifestBytes(t: String, v: Int): Long =
    java.nio.file.Files.size(
      java.nio.file.Paths.get(t, "_graft_log", f"v$v%05d.manifest"))

  private def ids(t: String, v: Option[Int] = None): Seq[Long] =
    VersionedTable.read(spark, t, v)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("segmented layout round-trips; values and stats identical") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      assert(VersionedTable.segmentNames(spark, t, 0).nonEmpty)
      assert(ids(t) == (0L until 100L))
      // span pruning still plans from the (segmented) manifest alone
      val pruned = VersionedTable.prunedRead(spark, t, "id", 0L, 10L)
      assert(pruned.select("id").collect().map(_.getLong(0)).toSet
        == (0L to 10L).toSet)
    }
  }

  test("append reuses previous segments: metadata write is O(delta)") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 1000, 16), t, overwrite = true,
        statsCols = Seq("id"))
      val segs0 = VersionedTable.segmentNames(spark, t, 0)
      VersionedTable.commit(df(1000 until 1010, 1), t, overwrite = false)
      val segs1 = VersionedTable.segmentNames(spark, t, 1)
      assert(segs0.toSet.subsetOf(segs1.toSet),
        "an append must carry every previous segment by reference")
      assert((segs1.toSet -- segs0.toSet).size == 1,
        "an append writes exactly one fresh segment for its new files")
      // the per-version manifest itself stays tiny (refs, not entries)
      assert(manifestBytes(t, 1) < 2048,
        s"v1 manifest should be ref lines only: ${manifestBytes(t, 1)}B")
      assert(ids(t) == (0L until 1010L))
    }
  }

  test("delete rewrites only the segments it touches") {
    withThreshold(2) {
      val t = tmpTable()
      // two appends → at least two segments with disjoint id ranges
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      VersionedTable.commit(df(100 until 200, 4), t, overwrite = false)
      val segsBefore = VersionedTable.segmentNames(spark, t, 1).toSet
      // hits only files in the second append's segment (ids >= 100)
      VersionedTable.deleteWhere(spark, t, col("id") >= 150)
      val segsAfter = VersionedTable.segmentNames(spark, t, 2).toSet
      val v0Segs = VersionedTable.segmentNames(spark, t, 0).toSet
      assert(v0Segs.subsetOf(segsAfter),
        "untouched segments must carry by reference through a delete")
      assert((segsBefore -- segsAfter).nonEmpty,
        "the touched segment must be replaced")
      assert(ids(t) == (0L until 150L))
    }
  }

  test("segment-count bound compacts refs; entries survive verbatim") {
    withThreshold(1) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 10, 1), t, overwrite = true,
        statsCols = Seq("id"))
      // 60 one-file appends would accrete 60 one-entry segments; the
      // MaxSegments bound must compact the ref list along the way
      (1 to 60).foreach { i =>
        VersionedTable.commit(
          df(10 * i until 10 * (i + 1), 1), t, overwrite = false)
      }
      val v = VersionedTable.latestVersion(spark, t).get
      val segs = VersionedTable.segmentNames(spark, t, v)
      assert(segs.size <= 48, s"ref list must stay bounded: ${segs.size}")
      assert(ids(t) == (0L until 610L))
    }
  }

  test("expire deletes only segments no retained version references") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      val v0Segs = VersionedTable.segmentNames(spark, t, 0).toSet
      VersionedTable.commit(df(100 until 200, 4), t, overwrite = false)
      // v2 overwrite: drops every reference to v0/v1's entries —
      // fresh segments only
      VersionedTable.commit(df(500 until 600, 4), t, overwrite = true)
      val v2Segs = VersionedTable.segmentNames(spark, t, 2).toSet
      assert((v0Segs & v2Segs).isEmpty)
      VersionedTable.expire(spark, t, keepLast = 1)
      val log = new java.io.File(t, "_graft_log")
      val onDisk = log.listFiles().map(_.getName)
        .filter(_.endsWith(".segment")).toSet
      assert(v2Segs.subsetOf(onDisk),
        "retained version's segments must survive expire")
      assert((v0Segs & onDisk).isEmpty,
        "segments only expired versions referenced must be deleted")
      assert(ids(t) == (500L until 600L))
    }
  }

  test("vacuum sweeps orphaned segments past the TTL, never live ones") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      val live = VersionedTable.segmentNames(spark, t, 0).toSet
      // a crashed commit's stranded segment: uuid-named, unreferenced
      val orphan = new java.io.File(t,
        "_graft_log/s-00000000-dead-dead-dead-000000000000.segment")
      java.nio.file.Files.write(orphan.toPath,
        "graft-vt-seg-v9\nstats:-\n".getBytes("UTF-8"))
      orphan.setLastModified(System.currentTimeMillis() - 100000)
      val swept = VersionedTable.vacuumUnreferenced(spark, t, ttlMs = 50000)
      assert(swept.contains(orphan.getName))
      assert(!orphan.exists())
      val onDisk = new java.io.File(t, "_graft_log").listFiles()
        .map(_.getName).filter(_.endsWith(".segment")).toSet
      assert(live.subsetOf(onDisk), "live segments must never be swept")
      assert(ids(t) == (0L until 100L))
    }
  }

  test("downgrade: shrinking below the threshold goes back inline") {
    withThreshold(4) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 8), t, overwrite = true,
        statsCols = Seq("id"))
      assert(VersionedTable.segmentNames(spark, t, 0).nonEmpty)
      VersionedTable.commit(df(0 until 10, 1), t, overwrite = true)
      assert(VersionedTable.segmentNames(spark, t, 1).isEmpty,
        "a small overwrite must downgrade to the inline layout")
      assert(ids(t) == (0L until 10L))
    }
  }

  test("stats re-declaration blocks reuse; spans stay exact") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      val segs0 = VersionedTable.segmentNames(spark, t, 0).toSet
      // appending under DIFFERENT stats cols re-declares: reuse must
      // not carry segments formatted under the old column set
      VersionedTable.commit(df(100 until 200, 4), t, overwrite = false,
        statsCols = Seq("id", "s"))
      val segs1 = VersionedTable.segmentNames(spark, t, 1).toSet
      assert((segs0 & segs1).isEmpty,
        "segments written under old stats cols must not be reused")
      assert(ids(t) == (0L until 200L))
      val pruned = VersionedTable.prunedRead(spark, t, "id", 150L, 160L)
      assert(pruned.select("id").collect().map(_.getLong(0)).toSet
        == (150L to 160L).toSet)
    }
  }

  test("deletion vectors and the change feed ride segmented manifests") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      val v = VersionedTable.deleteWhere(spark, t, col("id") % 10 === 0,
        deletionVectors = true)
      assert(VersionedTable.segmentNames(spark, t, v).nonEmpty)
      assert(ids(t) == (0L until 100L).filter(_ % 10 != 0))
      val feed = VersionedTable.readChanges(spark, t, v)
      val deleted = feed.where(col("_change_type") === "delete")
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(deleted == (0L until 100L).filter(_ % 10 == 0))
    }
  }

  test("SQL reads and catalog scans ride segmented manifests") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      assert(VersionedTable.segmentNames(spark, t, 0).nonEmpty)
      // the graft-vt relation path plans from the same entries
      val rel = spark.read.format("graft-vt").load(t)
      assert(rel.where(col("id") < 10).count() == 10)
    }
  }

  test("concurrent writers race the reuse diff: content stays exact") {
    withThreshold(1) {
      import spark.implicits._
      val t = tmpTable()
      VersionedTable.commit(df(0 until 0, 1), t, overwrite = true)
      val nThreads = 3
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      // every commit is segmented; retries re-diff against a v-1 that
      // a racing winner keeps moving — reuse must never resurrect a
      // loser's pre-retry entry list
      val models = (0 until nThreads).map { tid =>
        pool.submit(new java.util.concurrent.Callable[Map[Long, String]] {
          def call(): Map[Long, String] = {
            val base = 10000L * (tid + 1)
            var model = Map.empty[Long, String]
            for (op <- 0 until 4) {
              if (op % 2 == 0) {
                val rows = (0 until 3).map(i =>
                  (base + 10L * op + i, s"t${tid}_$op$i"))
                VersionedTable.commit(rows.toDF("id", "s"), t,
                  overwrite = false, maxRetries = 30)
                model ++= rows
              } else model.keys.toSeq.sorted.headOption.foreach { k =>
                VersionedTable.deleteWhere(spark, t, col("id") === k,
                  maxRetries = 30)
                model -= k
              }
            }
            model
          }
        })
      }
      val expect = models.map(
        _.get(300, java.util.concurrent.TimeUnit.SECONDS))
        .reduce(_ ++ _)
      pool.shutdown()
      val got = VersionedTable.read(spark, t)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expect, "content diverged under the segment storm")
      // every surviving version still resolves its segments
      val vs = VersionedTable.versions(spark, t).map(_.version)
      vs.foreach(v => VersionedTable.read(spark, t, Some(v)).count())
    }
  }

  test("parallel segment fetch: many-segment manifests read identically") {
    withThreshold(2) {
      val t = tmpTable()
      // each append writes its own delta segment: 8 commits → a
      // multi-segment manifest; dropping the parallel threshold to 1
      // then forces the bounded-pool fetch path on every read
      VersionedTable.commit(df(0 until 32, 2), t, overwrite = true,
        statsCols = Seq("id"))
      (1 until 8).foreach(k => VersionedTable.commit(
        df(k * 32 until (k + 1) * 32, 2), t, overwrite = false))
      val v = VersionedTable.latestVersion(spark, t).get
      assert(VersionedTable.segmentNames(spark, t, v).size > 1)
      val prev = VersionedTable.parallelSegmentThreshold
      val sequential =
        try { VersionedTable.parallelSegmentThreshold = 1000; ids(t) }
        finally VersionedTable.parallelSegmentThreshold = prev
      val seqNames =
        try { VersionedTable.parallelSegmentThreshold = 1000
          VersionedTable.readEntries(spark, t, v).map(_.name) }
        finally VersionedTable.parallelSegmentThreshold = prev
      VersionedTable.parallelSegmentThreshold = 1
      try {
        assert(ids(t) == sequential,
          "parallel fetch must read the same entries")
        assert(VersionedTable.readEntries(spark, t, v).map(_.name) ==
          seqNames, "entry ORDER must be ref-order either way")
      } finally VersionedTable.parallelSegmentThreshold = prev
    }
  }

  test("segment cache serves immutable re-reads") {
    withThreshold(2) {
      val t = tmpTable()
      VersionedTable.commit(df(0 until 100, 4), t, overwrite = true,
        statsCols = Seq("id"))
      ids(t) // populate
      val before = VersionedTable.segmentCacheHits
      // the parsed-manifest cache sits above the segment cache; drop
      // it so the re-read actually reaches the segment layer
      VersionedTable.clearEntriesCache()
      ids(t)
      assert(VersionedTable.segmentCacheHits > before,
        "a re-read of the same version must hit the segment cache")
    }
  }
}
