package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VersionedTable

class VersionedTableSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def tmpTable(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_vt_spec_").toFile
    d.deleteOnExit()
    new java.io.File(d, "t").getAbsolutePath
  }

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row$i")).toDF("id", "s")
  }

  test("commit/append/overwrite versioning and time travel") {
    val t = tmpTable()
    assert(VersionedTable.commit(df(0 until 10), t, overwrite = true) == 0)
    assert(VersionedTable.commit(df(10 until 15), t, overwrite = false) == 1)
    assert(VersionedTable.commit(df(100 until 103), t, overwrite = true) == 2)
    def ids(v: Int) = VersionedTable.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(0) == (0L until 10L))
    assert(ids(1) == (0L until 15L))
    assert(ids(2) == (100L until 103L))
    // latest == explicit last version
    assert(VersionedTable.read(spark, t).count() == 3)
    assert(VersionedTable.versions(spark, t).map(v => (v.version, v.mode)) ==
      Seq((0, "overwrite"), (1, "append"), (2, "overwrite")))
  }

  test("append carries history by reference: no data file rewritten") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    val v0Files = VersionedTable.files(spark, t, 0).toSet
    VersionedTable.commit(df(10 until 20), t, overwrite = false)
    val v1Files = VersionedTable.files(spark, t, 1).toSet
    assert(v0Files.subsetOf(v1Files),
      "append manifest must reference v0's files unchanged")
    assert((v1Files -- v0Files).nonEmpty)
  }

  test("uncommitted data files are invisible and TTL-vacuumable") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    // simulate a crash between PUBLISH and COMMIT: a version-prefixed
    // data file with no manifest
    val stage = t + "_orphan_stage"
    df(90 until 95).coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(t, "v00007-part-crashed.parquet")
    require(part.renameTo(orphan))
    assert(VersionedTable.read(spark, t).count() == 5,
      "unmanifested files must be invisible to reads")
    assert(VersionedTable.vacuumUnreferenced(spark, t, 3600 * 1000L).isEmpty,
      "fresh orphan kept (writer may still commit)")
    require(orphan.setLastModified(System.currentTimeMillis() - 7200000L))
    // dry run: same listing, same TTL test, nothing touched
    assert(VersionedTable.vacuumUnreferenced(spark, t, 3600 * 1000L,
      dryRun = true) == Seq("v00007-part-crashed.parquet"))
    assert(orphan.exists(), "a dry run must delete nothing")
    assert(VersionedTable.vacuumUnreferenced(spark, t, 3600 * 1000L) ==
      Seq("v00007-part-crashed.parquet"))
    assert(!orphan.exists())
  }

  test("expire keeps the tail, deletes only exclusively-dead files") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    VersionedTable.commit(df(10 until 20), t, overwrite = false)
    VersionedTable.commit(df(20 until 25), t, overwrite = true)
    val v0Files = VersionedTable.files(spark, t, 0)
    VersionedTable.expire(spark, t, keepLast = 2)
    // v0's files are still referenced by v1 (append) — must survive
    assert(v0Files.forall(n => new java.io.File(t, n).exists()),
      "files shared with a retained version must survive expire")
    assert(VersionedTable.versions(spark, t).map(_.version) == Seq(1, 2))
    intercept[IllegalArgumentException](VersionedTable.read(spark, t, Some(0)))
    // reads of retained versions unharmed
    assert(VersionedTable.read(spark, t, Some(1)).count() == 20)
    VersionedTable.expire(spark, t, keepLast = 1)
    assert(VersionedTable.versions(spark, t).map(_.version) == Seq(2))
    // now v0/v1's exclusive files are gone from disk
    assert(v0Files.forall(n => !new java.io.File(t, n).exists()))
    assert(VersionedTable.read(spark, t).count() == 5)
  }

  test("a foreign manifest advances the counter and is never clobbered") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    // another writer committed version 1 between our reads: the next
    // commit must allocate 2, leaving the foreign manifest untouched
    val log = new java.io.File(t, "_graft_log")
    val schemaLine = java.nio.file.Files.readAllLines(
      new java.io.File(log, "v00000.manifest").toPath).get(5)
    val foreign = Seq("graft-vt-v9", "overwrite", "txn:-", "stats:-",
      "nfiles:0", schemaLine, s"ts:${System.currentTimeMillis()}",
      "pending:-", "features:-").mkString("", "\n", "\n")
    val racing = new java.io.File(log, "v00001.manifest")
    java.nio.file.Files.write(racing.toPath, foreign.getBytes)
    assert(VersionedTable.commit(df(5 until 9), t, overwrite = false) == 2)
    assert(new String(java.nio.file.Files.readAllBytes(racing.toPath))
      == foreign)
    // the append at v2 carried v1's (empty) file list + its own files
    assert(VersionedTable.read(spark, t, Some(2)).count() == 4)
  }

  test("empty table read fails loudly") {
    val t = tmpTable()
    intercept[IllegalStateException](VersionedTable.read(spark, t))
  }

  test("txnId commits are idempotent: a replayed batch is a no-op") {
    val t = tmpTable()
    assert(VersionedTable.commit(df(0 until 5), t, overwrite = true,
      txnId = Some("b0")) == 0)
    assert(VersionedTable.commit(df(5 until 9), t, overwrite = false,
      txnId = Some("b1")) == 1)
    // the crash-replay: same batch id offered again -> same version
    // returned, no new version, no duplicated rows, no new files
    val filesBefore = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).length
    assert(VersionedTable.commit(df(5 until 9), t, overwrite = false,
      txnId = Some("b1")) == 1)
    assert(VersionedTable.versions(spark, t).map(_.version) == Seq(0, 1))
    assert(VersionedTable.read(spark, t).count() == 9)
    assert(new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet")).length == filesBefore,
      "a replayed txn must not even stage data")
    // a NEW id commits normally; history records the ids
    assert(VersionedTable.commit(df(9 until 10), t, overwrite = false,
      txnId = Some("b2")) == 2)
    assert(VersionedTable.versions(spark, t).flatMap(_.txnId) ==
      Seq("b0", "b1", "b2"))
    intercept[IllegalArgumentException](VersionedTable.commit(
      df(0 until 1), t, overwrite = false, txnId = Some("bad\nid")))
  }

  test("compact: fewer files as a new version; rollback intact") {
    val t = tmpTable()
    // 6 tiny per-batch files via 3 appends of 2 partitions each
    (0 until 3).foreach(i => VersionedTable.commit(
      df(i * 10 until (i + 1) * 10).repartition(2), t, overwrite = false))
    assert(VersionedTable.files(spark, t, 2).size == 6)
    val cv = VersionedTable.compact(spark, t, targetFileBytes = 1L << 30)
    assert(cv == 3)
    assert(VersionedTable.files(spark, t, 3).size == 1,
      "30 rows must compact to one target-size file")
    def ids(v: Int) = VersionedTable.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(3) == (0L until 30L), "compaction is content-invisible")
    assert(ids(2) == (0L until 30L), "pre-compaction version intact")
    VersionedTable.expire(spark, t, keepLast = 1)
    assert(ids(3) == (0L until 30L))
  }

  test("randomized op-sequence model check (seeded, deterministic)") {
    // a table driven by a random mix of operations must always agree
    // with a trivial in-memory model of "content per live version"
    val rnd = new scala.util.Random(4242)
    val t = tmpTable()
    var model = Map.empty[Int, Seq[Long]] // version -> ids
    var nextBase = 0L
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    model += 0 -> (0L until 5L)
    nextBase = 100
    (1 to 26).foreach { _ =>
      val live = model.keys.toSeq.sorted
      rnd.nextInt(8) match {
        case 0 | 1 => // append a fresh chunk
          val ids = nextBase until nextBase + 3 + rnd.nextInt(5)
          nextBase = ids.end + 100
          val v = VersionedTable.commit(
            df(ids.head.toInt until ids.end.toInt), t, overwrite = false)
          model += v -> (model(live.last) ++ ids.map(_.toLong))
        case 2 => // overwrite
          val ids = nextBase until nextBase + 2 + rnd.nextInt(4)
          nextBase = ids.end + 100
          val v = VersionedTable.commit(
            df(ids.head.toInt until ids.end.toInt), t, overwrite = true)
          model += v -> ids.map(_.toLong)
        case 3 => // compact = new version, same content
          val v = VersionedTable.compact(spark, t, 1L << 30)
          model += v -> model(live.last)
        case 4 if live.size > 2 => // expire the oldest
          val keep = 1 + rnd.nextInt(live.size - 1)
          VersionedTable.expire(spark, t, keepLast = keep)
          model = model.filter(kv => live.takeRight(keep).contains(kv._1))
        case 5 => // delete a random id-threshold slice
          val cur = model(live.last)
          if (cur.nonEmpty) {
            val cut = cur(rnd.nextInt(cur.size))
            val v = VersionedTable.deleteWhere(spark, t, col("id") < cut)
            model += v -> cur.filterNot(_ < cut)
          }
        case 6 => // RESTORE to a random live version (maybe current)
          val target = live(rnd.nextInt(live.size))
          val v = VersionedTable.restoreTo(spark, t, target)
          model += v -> model(target)
        case 7 => // replaceWhere a random id window with fresh rows
          val cur = model(live.last)
          val lo = if (cur.isEmpty) 0L else cur(rnd.nextInt(cur.size))
          val hi = lo + 30 + rnd.nextInt(120)
          val repl = (lo until math.min(lo + rnd.nextInt(4), hi))
          val v = VersionedTable.replaceWhere(spark, t,
            col("id") >= lo && col("id") < hi,
            df(repl.start.toInt until repl.end.toInt))
          model += v ->
            (cur.filterNot(i => i >= lo && i < hi) ++ repl)
        case _ => ()
      }
      // invariant: every live version reads back exactly its model
      model.keys.toSeq.sorted.foreach { v =>
        val got = VersionedTable.read(spark, t, Some(v))
          .select("id").collect().map(_.getLong(0)).sorted.toSeq
        assert(got == model(v).sorted,
          s"version $v diverged: got ${got.size} want ${model(v).size}")
      }
      // invariant: vacuum never touches referenced files
      VersionedTable.vacuumUnreferenced(spark, t, 0L)
      val latest = model.keys.max
      assert(VersionedTable.read(spark, t).count() == model(latest).size)
    }
  }

  test("optimistic concurrency: two interleaved committers both land") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    // writer B commits in A's window between PUBLISH and COMMIT (the
    // fault-injection seam) — A must lose the manifest race for v1,
    // re-prefix its already-published files to v2, recompute its
    // carried list against B's manifest, and land.
    var interleaved = false
    val vA = VersionedTable.commitImpl(df(100 until 104), t,
      overwrite = false, txnId = Some("A"), statsCols = Seq.empty,
      maxRetries = 5, onBeforeManifestCommit = () => {
        if (!interleaved) {
          interleaved = true
          assert(VersionedTable.commit(df(200 until 203), t,
            overwrite = false, txnId = Some("B")) == 1)
        }
      })
    assert(vA == 2, "loser retries and lands at the next version")
    def ids(v: Int) = VersionedTable.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // no lost update: A's append carries B's rows (serializable append)
    assert(ids(1) == ((0L until 5L) ++ (200L until 203L)))
    assert(ids(2) ==
      ((0L until 5L) ++ (100L until 104L) ++ (200L until 203L)).sorted)
    assert(VersionedTable.versions(spark, t).flatMap(_.txnId) ==
      Seq("B", "A"))
    // every on-disk data file is referenced by some manifest: the
    // retry's reprefix left no debris for vacuum
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty)
  }

  test("optimistic concurrency: retries are bounded, then loud") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 3), t, overwrite = true)
    var n = 0
    val e = intercept[IllegalStateException] {
      VersionedTable.commitImpl(df(10 until 12), t, overwrite = false,
        txnId = None, statsCols = Seq.empty, maxRetries = 2,
        onBeforeManifestCommit = () => {
          n += 1
          VersionedTable.commit(df(100 + n until 102 + n), t,
            overwrite = false): Unit
        })
    }
    assert(e.getMessage.contains("lost the manifest race"))
    // the winners' commits are all intact; the loser published no
    // manifest and its files are unreferenced debris for vacuum
    assert(VersionedTable.versions(spark, t).size == 4) // v0 + 3 winners
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).nonEmpty)
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty)
  }

  test("manifest stats: prunedRead opens only overlapping files") {
    import spark.implicits._
    val t = tmpTable()
    // three single-file commits with disjoint id ranges -> tight spans
    VersionedTable.commit(df(0 until 100).coalesce(1), t,
      overwrite = true, statsCols = Seq("id", "s"))
    VersionedTable.commit(df(100 until 200).coalesce(1), t,
      overwrite = false)
    VersionedTable.commit(df(200 until 300).coalesce(1), t,
      overwrite = false)
    val entries = VersionedTable.readEntries(spark, t, 2)
    assert(entries.size == 3)
    assert(entries.map(_.nRows).sum == 300, "footer row counts recorded")
    // long + string spans roundtrip through the manifest encoding
    val spans = entries.flatMap(_.stats.get("id")).flatten
    assert(spans.contains((100L, 199L)))
    assert(entries.forall(_.stats.get("s").exists(_.isDefined)))
    // the manifest-side decision: one file overlaps [120, 130]
    val keep = VersionedTable.pruneEntries(entries, "id", 120, 130)
    assert(keep.map(_.stats("id")) == Seq(Some((100L, 199L))))
    // result-invisible vs the plain filter
    val got = VersionedTable.prunedRead(spark, t, "id", 120, 130)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (120L to 130L))
    // composes with time travel: version 0 has no file covering 250
    assert(VersionedTable.prunedRead(spark, t, "id", 250, 260, Some(0))
      .count() == 0)
    assert(VersionedTable.prunedRead(spark, t, "id", 250, 260)
      .count() == 11)
    // an all-null column is provably excluded from any range
    val t2 = tmpTable()
    val withNull = df(0 until 10).withColumn("v",
      lit(null).cast("double"))
    VersionedTable.commit(withNull, t2, overwrite = true,
      statsCols = Seq("v"))
    assert(VersionedTable.pruneEntries(
      VersionedTable.readEntries(spark, t2, 0), "v", 0.0, 1.0).isEmpty)
    // a column never indexed is conservatively kept
    assert(VersionedTable.pruneEntries(
      VersionedTable.readEntries(spark, t2, 0), "id", 999, 999).nonEmpty)
  }

  test("manifest stats: inherited across append/compact") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 50), t, overwrite = true,
      statsCols = Seq("id"))
    VersionedTable.commit(df(50 until 100), t, overwrite = false)
    val e1 = VersionedTable.readEntries(spark, t, 1)
    assert(e1.forall(_.stats.get("id").exists(_.isDefined)),
      "appends inherit the stats columns without re-declaration")
    VersionedTable.compact(spark, t, 1L << 30)
    assert(VersionedTable.readEntries(spark, t, 2)
      .forall(_.stats.get("id").exists(_.isDefined)),
      "compaction re-harvests stats for its rewritten files")
  }

  test("deleteWhere: a new version, carried files, intact history") {
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 100).repartitionByRange(4, col("id"))
        .sortWithinPartitions(col("id")),
      t, overwrite = true, statsCols = Seq("id"))
    val preFiles = VersionedTable.files(spark, t, 0).toSet
    assert(preFiles.size == 4)
    val v = VersionedTable.deleteWhere(spark, t, col("id") < 30,
      txnId = Some("d1"))
    assert(v == 1)
    def ids(v: Int) = VersionedTable.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(1) == (30L until 100L), "delete equals the anti-filter")
    assert(ids(0) == (0L until 100L), "prior version still reads whole")
    // only span-touched files rewritten; the rest carried by reference
    val carried = VersionedTable.files(spark, t, 1).toSet & preFiles
    assert(carried.nonEmpty, "range delete must carry untouched files")
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "delete"))
    // replay (same txnId) and no-op (nothing matches) commit nothing
    assert(VersionedTable.deleteWhere(spark, t, col("id") < 30,
      txnId = Some("d1")) == 1)
    assert(VersionedTable.deleteWhere(spark, t, col("id") < 0) == 1)
    assert(VersionedTable.versions(spark, t).size == 2)
    // a NULL predicate keeps the row (SQL WHERE-delete semantics)
    val t2 = tmpTable()
    import spark.implicits._
    Seq((Some(1L), "a"), (None, "b"), (Some(5L), "c"))
      .toDF("id", "s").write.mode("overwrite").parquet(t2 + "_src")
    VersionedTable.commit(spark.read.parquet(t2 + "_src"), t2,
      overwrite = true)
    VersionedTable.deleteWhere(spark, t2, col("id") <= 1)
    assert(VersionedTable.read(spark, t2).select("s").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("b", "c"),
      "null-id row survives the delete")
    // expire + vacuum: only the latest version's files remain on disk
    VersionedTable.expire(spark, t, keepLast = 1)
    VersionedTable.vacuumUnreferenced(spark, t, 0L)
    val onDisk = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk == VersionedTable.files(spark, t, 1).toSet)
    assert(ids(1) == (30L until 100L))
  }

  test("clustered compact: content-invisible, spans earn pruning") {
    import spark.implicits._
    val t = tmpTable()
    // scattered layout: every file spans ~the whole id range
    val rows = (0 until 512).map(i => ((i * 37) % 512).toLong)
      .map(id => (id, id * 31 % 512, s"v$id")).toDF("id", "id2", "s")
    VersionedTable.commit(rows.repartition(8), t, overwrite = true,
      statsCols = Seq("id"))
    val e0 = VersionedTable.readEntries(spark, t, 0)
    val keep0 = VersionedTable.pruneEntries(e0, "id", 100, 150)
    assert(keep0.size == e0.size, "scattered layout cannot prune")
    // multi-column (numeric) clusterBy exercises the z-order path
    val cv = VersionedTable.compact(spark, t, targetFileBytes = 2048,
      clusterBy = Seq("id", "id2"))
    val e1 = VersionedTable.readEntries(spark, t, cv)
    assert(e1.size > 2, s"fixture should compact to several files")
    val keep1 = VersionedTable.pruneEntries(e1, "id", 100, 150)
    assert(keep1.size < e1.size,
      s"z-clustered spans must prune: ${keep1.size}/${e1.size}")
    // content-invisible, old version intact
    def ids(v: Int) = VersionedTable.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(cv) == ids(0))
    // and the pruned read equals the plain filter
    assert(VersionedTable.prunedRead(spark, t, "id", 100, 150)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L to 150L))
  }

  test("randomized merge/delete/append model check (seeded)") {
    // a table driven by a random mix of upserts, tombstone merges,
    // predicate deletes, appends, and packings must always agree with
    // a trivial in-memory Map model — per live version (time travel
    // included), not just the latest
    import spark.implicits._
    val rnd = new scala.util.Random(1337)
    val t = tmpTable()
    def kv(m: Map[Long, String]) = m.toSeq.toDF("id", "s")
    var next = 0L
    def freshKeys(n: Int): Seq[Long] = {
      val ks = (next until next + n); next += n + rnd.nextInt(3); ks
    }
    var m = freshKeys(8).map(k => k -> s"v$k").toMap
    VersionedTable.commit(kv(m), t, overwrite = true,
      statsCols = Seq("id"))
    var history = Map(0 -> m)
    (1 to 15).foreach { i =>
      val live = history.keys.toSeq.sorted
      rnd.nextInt(5) match {
        case 0 => // append fresh keys
          val add = freshKeys(2 + rnd.nextInt(4)).map(k => k -> s"v$k")
          val v = VersionedTable.commit(kv(add.toMap), t,
            overwrite = false)
          m = m ++ add; history += v -> m
        case 1 => // plain upsert merge: some existing, some new
          val upd = rnd.shuffle(m.keys.toSeq).take(rnd.nextInt(4))
            .map(k => k -> s"u$i-$k")
          val ins = freshKeys(1 + rnd.nextInt(2)).map(k => k -> s"n$i-$k")
          val src = (upd ++ ins).toMap
          if (src.nonEmpty) {
            val v = VersionedTable.mergeInto(spark, t, kv(src), Seq("id"))
            m = m ++ src; history += v -> m
          }
        case 2 => // tombstone merge: all three verbs in one feed
          val upd = rnd.shuffle(m.keys.toSeq).take(rnd.nextInt(3))
            .map(k => (k, s"u$i-$k", false))
          val del = rnd.shuffle(m.keys.toSeq.diff(upd.map(_._1)))
            .take(rnd.nextInt(3)).map(k => (k, "x", true))
          val ghost = Seq((990000L + i, "x", true)) // matches nothing
          val ins = freshKeys(1).map(k => (k, s"n$i-$k", false))
          val feed = (upd ++ del ++ ghost ++ ins)
            .toDF("id", "s", "_deleted")
          val v = VersionedTable.mergeInto(spark, t, feed, Seq("id"),
            tombstoneCol = Some("_deleted"))
          m = m ++ upd.map(u => u._1 -> u._2) -- del.map(_._1) ++
            ins.map(x => x._1 -> x._2)
          history += v -> m
        case 3 => // predicate delete on a key range
          if (m.nonEmpty) {
            val cut = m.keys.toSeq(rnd.nextInt(m.size))
            val v = VersionedTable.deleteWhere(spark, t, col("id") <= cut)
            val m2 = m.filter(_._1 > cut)
            if (m2 != m || v > live.last) { m = m2; history += v -> m }
          }
        case 4 => // pack the small files (content-invisible new version)
          val v = VersionedTable.compactSmall(spark, t, 1L << 30)
          if (v > live.last) history += v -> m
      }
      // every live version reads back exactly its model snapshot
      history.foreach { case (v, snap) =>
        val got = VersionedTable.read(spark, t, Some(v))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == snap, s"iter $i version $v diverged: " +
          s"${got.size} vs ${snap.size}")
      }
      // occasionally expire the head and keep checking the tail
      if (rnd.nextInt(4) == 0 && history.size > 3) {
        val keep = 2 + rnd.nextInt(2)
        VersionedTable.expire(spark, t, keepLast = keep)
        history = history.toSeq.sortBy(_._1).takeRight(keep).toMap
      }
      VersionedTable.vacuumUnreferenced(spark, t, 0L): Unit
    }
  }

  // Both writers fully stage, publish, and WRITE THEIR TEMP MANIFEST
  // for the same version, then hit the promote point simultaneously
  // (CyclicBarrier inside the commit point, after the exists
  // fast-path) — the exact interleave where exists-then-rename
  // silently clobbers the first winner on POSIX. Exactly one must win;
  // the loser observes the loss and retries to the next version. No
  // seam serializes the race. Run through BOTH shipped coordinators:
  // the fs-native default (link(2) EEXIST here) and the conditional-
  // put model (reservation CAS is the atomic point) — the
  // CommitCoordinator contract, not one implementation, is what the
  // engine relies on.
  private def trueRace(): Unit = {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def task(ids: Range, txn: String) =
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          val first = new java.util.concurrent.atomic.AtomicBoolean(true)
          VersionedTable.commitImpl(df(ids), t, overwrite = false,
            txnId = Some(txn), statsCols = Seq.empty, maxRetries = 5,
            onBeforeManifestCommit = () => (),
            onBeforePromote = () =>
              if (first.getAndSet(false))
                barrier.await(30, java.util.concurrent.TimeUnit.SECONDS): Unit)
        }
      })
    val fa = task(100 until 104, "race_a")
    val fb = task(200 until 203, "race_b")
    val va = fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
    val vb = fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    val coord = VersionedTable.commitCoordinator.name
    assert(Set(va, vb) == Set(1, 2),
      s"[$coord] exactly one winner at v1, loser lands at v2: got $va, $vb")
    def ids(v: Int) = VersionedTable.read(spark, t, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // serializable appends: v2 = v0 rows + BOTH writers' rows, and the
    // v1 winner's manifest was never clobbered (its rows are in v1)
    assert(ids(2) ==
      ((0L until 5L) ++ (100L until 104L) ++ (200L until 203L)).sorted)
    val v1Ids = ids(1)
    assert(v1Ids.size == 5 + (if (va == 1) 4 else 3),
      s"[$coord] v1 holds the winner's rows intact: $v1Ids")
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty,
      s"[$coord] the retry reprefixed, never abandoned, its files")
  }

  test("commit point is atomic under a TRUE race (no serialized window)") {
    trueRace()
  }

  test("updateWhere: row-level SET, carried files, contracts") {
    import spark.implicits._
    val t = tmpTable()
    val src = (0L until 400L).map(i => (i, s"s$i", i * 10.0))
      .toDF("id", "s", "price")
    VersionedTable.commit(
      src.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // update the low band: expressions compose against the row
    val v1 = VersionedTable.updateWhere(spark, t,
      col("id") < 100L,
      Map("price" -> (col("price") * 2 + 1),
          "s" -> concat(lit("u_"), col("s"))),
      txnId = Some("upd1"))
    assert(v1 == 1)
    val got = VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet
    val expect = (0L until 400L).map { i =>
      if (i < 100) (i, s"u_s$i", i * 20.0 + 1) else (i, s"s$i", i * 10.0)
    }.toSet
    assert(got == expect)
    // only the touched file(s) were rewritten
    val carried = VersionedTable.files(spark, t, 1).toSet
      .intersect(VersionedTable.files(spark, t, 0).toSet)
    assert(carried.nonEmpty, "untouched files must carry by reference")
    // replayed txn no-ops; no-match update commits nothing
    assert(VersionedTable.updateWhere(spark, t, col("id") < 100L,
      Map("price" -> lit(0.0)), txnId = Some("upd1")) == 1)
    assert(VersionedTable.updateWhere(spark, t, col("id") < 0L,
      Map("price" -> lit(0.0))) == 1)
    // contracts: unknown column and type change refuse
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, col("id") === 1L,
        Map("nope" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, col("id") === 1L,
        Map("price" -> lit("oops")))
    }
    // constraints gate the POST-image
    VersionedTable.setConstraint(spark, t, "pos", "price >= 0")
    intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, col("id") === 1L,
        Map("price" -> lit(-5.0)))
    }
    // the change feed derives delete/insert pairs across the update
    val feed = VersionedTable.readChanges(spark, t, 1)
    val ups = feed.where(col("_change_type") === "insert" &&
      col("id") < 100L).count()
    assert(ups == 100L, s"100 post-image inserts in the feed: $ups")
    // time travel still shows the pre-update state
    assert(VersionedTable.read(spark, t, Some(0))
      .where(col("id") === 1L).select("price")
      .collect()(0).getDouble(0) == 10.0)
  }

  test("entry checkpoint: job-pruned planning equals the driver parse") {
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 400).repartitionByRange(8, col("id"))
        .sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // first call creates it, second observes it
    assert(VersionedTable.checkpointEntries(spark, t, 0))
    assert(!VersionedTable.checkpointEntries(spark, t, 0))
    val preds = Seq(VersionedTable.ExactRange.between("id", 50L, 120L))
    val driver = VersionedTable.pruneEntriesWhere(
      VersionedTable.readEntries(spark, t, 0), preds)
    val job = VersionedTable.pruneEntriesJob(spark, t, 0, preds)
    assert(job.nonEmpty, "a completed checkpoint must be used")
    assert(job.get.toSet == driver.toSet,
      "job-side and driver-side pruning must select identical entries")
    assert(driver.nonEmpty && driver.size < 8,
      "the fixture must actually prune")
    // end-to-end: prunedReadWhere routed through the checkpoint (the
    // threshold var exists exactly for this spec) is value-identical
    val expect = VersionedTable.prunedReadWhere(spark, t, preds)
      .collect().map(_.toString).sorted.toSeq
    val prev = VersionedTable.entryCheckpointThreshold
    VersionedTable.entryCheckpointThreshold = 1
    try {
      val got = VersionedTable.prunedReadWhere(spark, t, preds)
        .collect().map(_.toString).sorted.toSeq
      assert(got == expect)
    } finally VersionedTable.entryCheckpointThreshold = prev
    // a version without a checkpoint routes through the fallback even
    // when past the threshold (append -> v1, no checkpoint written)
    VersionedTable.commit(df(400 until 420), t, overwrite = false)
    assert(VersionedTable.pruneEntriesJob(spark, t, 1, preds).isEmpty)
    // expire drops the expired version's checkpoint dir with it
    VersionedTable.expire(spark, t, keepLast = 1)
    val ckptDir = new java.io.File(t, "_graft_log/v00000.entries.parquet")
    assert(!ckptDir.exists, "expired version's entry checkpoint swept")
  }

  test("randomized CONCURRENT writers: mixed verbs serialize (seeded)") {
    // Three writers race unsynchronized mixed-verb sequences (append /
    // mergeInto / deleteWhere) against ONE table, each confined to its
    // own key space so cross-thread operations COMMUTE — the final
    // content is then the deterministic union of each thread's local
    // model, whatever serial order the optimistic machinery settled
    // on. Every verb's retry path (blind re-slot for appends, full
    // discovery restart for delete/merge) gets exercised under real
    // contention; any lost update, phantom row, or torn carried list
    // diverges the model. Invariants checked after the storm: content
    // == union of models, version numbers contiguous from 0, every
    // live version time-travel readable.
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(df(0 until 0), t, overwrite = true)
    val nThreads = 3
    val opsPerThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val models = (0 until nThreads).map { tid =>
      pool.submit(new java.util.concurrent.Callable[Map[Long, String]] {
        def call(): Map[Long, String] = {
          val rnd = new scala.util.Random(0xC0 + tid)
          val base = 10000L * (tid + 1)
          var model = Map.empty[Long, String]
          var nextId = 0L
          for (op <- 0 until opsPerThread) rnd.nextInt(4) match {
            case 0 => // append a fresh range
              val ids = (nextId until nextId + 3).map(base + _)
              nextId += 3
              val rows = ids.map(i => (i, s"t${tid}_a$op$i"))
              VersionedTable.commit(rows.toDF("id", "s"), t,
                overwrite = false, maxRetries = 30)
              model ++= rows
            case 1 => // merge: upsert half my live keys + one insert —
              // randomly through the REWRITE or the DELETION-VECTOR
              // lane (same model either way; the DV lane's lost-race
              // sidecar cleanup races for real here)
              val touch = model.keys.toSeq.sorted.take(2) :+
                (base + 9000L + op)
              val rows = touch.map(i => (i, s"t${tid}_m$op$i"))
              VersionedTable.mergeInto(spark, t,
                rows.toDF("id", "s"), Seq("id"), maxRetries = 30,
                deletionVectors = rnd.nextBoolean())
              model ++= rows
            case 2 => // delete one of my live keys (if any), either lane
              model.keys.toSeq.sorted.headOption.foreach { k =>
                VersionedTable.deleteWhere(spark, t, col("id") === k,
                  maxRetries = 30, deletionVectors = rnd.nextBoolean())
                model -= k
              }
            case 3 => // MAINTENANCE racing the DML: the decay rewrite
              // is content-invisible (the model is untouched) and
              // advisory — a lost slot race must clean its debris and
              // no-op, never corrupt a racer's carried list
              VersionedTable.materializeDvAbove(spark, t,
                maxMaskedFraction = 0.01): Unit
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
    assert(got == expect,
      s"content diverged from the union of thread models: " +
        s"extra=${(got.keySet -- expect.keySet).toSeq.sorted.take(5)} " +
        s"missing=${(expect.keySet -- got.keySet).toSeq.sorted.take(5)}")
    val vs = VersionedTable.versions(spark, t).map(_.version)
    assert(vs == (0 to vs.max), s"contiguous versions: $vs")
    vs.foreach(v => VersionedTable.read(spark, t, Some(v)).count())
  }

  test("the same TRUE race through the conditional-put coordinator") {
    val prev = VersionedTable.commitCoordinator
    VersionedTable.setCommitCoordinator(
      new graft.operators.ConditionalPutCoordinator)
    try trueRace()
    finally VersionedTable.setCommitCoordinator(prev)
  }

  test("conditional-put honors durable state and reserves exactly once") {
    val c = new graft.operators.ConditionalPutCoordinator
    val dir = java.nio.file.Files.createTempDirectory("graft_cpc_").toFile
    dir.deleteOnExit()
    val fs = new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stage(n: String, content: String) = {
      val p = new org.apache.hadoop.fs.Path(dir.getAbsolutePath, n)
      val out = fs.create(p, true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      p
    }
    val dest = new org.apache.hadoop.fs.Path(dir.getAbsolutePath, "v1")
    // first publish wins and consumes its temp
    val t1 = stage("t1", "winner")
    assert(c.tryPublish(fs, t1, dest))
    assert(!fs.exists(t1) && fs.exists(dest))
    // a second publish to the same key loses (reservation held)
    val t2 = stage("t2", "loser")
    assert(!c.tryPublish(fs, t2, dest))
    assert(fs.exists(t2), "loser's temp is left for the caller")
    // a FRESH coordinator (new process) still loses: durable state
    // outranks its empty reservation table
    val c2 = new graft.operators.ConditionalPutCoordinator
    assert(!c2.tryPublish(fs, t2, dest))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dest.toUri.getPath)), "UTF-8") == "winner",
      "the winner's bytes were never clobbered")
  }

  test("clusterBy on merge keeps the rewritten files' spans tight") {
    import spark.implicits._
    def build(clusterBy: Seq[String]): (String, Int) = {
      val t = tmpTable()
      VersionedTable.commit(
        df(0 until 400).repartitionByRange(4, col("id"))
          .sortWithinPartitions("id"),
        t, overwrite = true, statsCols = Seq("id"))
      // CDC updates across the LOW HALF: touches 2 of the 4 files
      val cdc = (0 until 200 by 2).map(i => (i.toLong, s"upd$i"))
        .toDF("id", "s")
      VersionedTable.mergeInto(spark, t, cdc, Seq("id"),
        clusterBy = clusterBy)
      // how many files does a narrow query open post-merge?
      val kept = VersionedTable.pruneEntries(
        VersionedTable.readEntries(spark, t, 1), "id", 0L, 40L)
      (t, kept.size)
    }
    val (tc, keptClustered) = build(Seq("id"))
    val (tu, keptUnclustered) = build(Seq.empty)
    assert(keptClustered < keptUnclustered,
      s"a clustered rewrite must keep narrow queries narrow: " +
        s"$keptClustered vs $keptUnclustered files for id<=40")
    // clustering is layout-only: both tables read identically
    def rows(t: String) = VersionedTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(tc) == rows(tu), "clusterBy must be result-invisible")
    // and replaceWhere takes the same option
    val v = VersionedTable.replaceWhere(spark, tc,
      col("id") < 100,
      (0 until 100 by 4).map(i => (i.toLong, s"rw$i")).toDF("id", "s"),
      clusterBy = Seq("id"))
    assert(v == 2)
    assert(VersionedTable.read(spark, tc).count() ==
      300 + 25, "scoped replace applied under clustering")
  }

  test("compactWhere: predicate-scoped OPTIMIZE rewrites only the span") {
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 80).repartitionByRange(8, col("id"))
        .sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val pre = VersionedTable.files(spark, t, 0)
    assert(pre.size == 8)
    val pred = Seq(VersionedTable.ExactRange.between("id", 0L, 19L))
    val sel = VersionedTable.pruneEntriesWhere(
      VersionedTable.readEntries(spark, t, 0), pred)
    assert(sel.size >= 2 && sel.size < 8,
      s"the span must select a strict file subset: ${sel.size}")
    val v = VersionedTable.compactWhere(spark, t, pred,
      targetFileBytes = 1L << 30)
    assert(v == 1)
    val post = VersionedTable.files(spark, t, 1)
    assert(post.toSet.intersect(pre.toSet).size == 8 - sel.size,
      "files outside the span must carry by reference")
    assert(post.size == 8 - sel.size + 1,
      "the selected span packs into one right-sized file")
    // content-invisible, mode optimize, prior version whole
    assert(VersionedTable.read(spark, t)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 80L))
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "optimize"))
    assert(VersionedTable.read(spark, t, Some(0)).count() == 80)
    // re-harvested spans still prune the re-clustered region
    val kept = VersionedTable.pruneEntriesWhere(
      VersionedTable.readEntries(spark, t, 1), pred)
    assert(kept.size < post.size, "the packed span must stay prunable")
    // a span selecting < 2 files is a no-op; empty predicates refuse
    assert(VersionedTable.compactWhere(spark, t,
      Seq(VersionedTable.ExactRange.between("id", 5000L, 6000L))) == 1)
    intercept[IllegalArgumentException](
      VersionedTable.compactWhere(spark, t, Seq.empty))
  }

  test("racing replaceWhere writers on disjoint slices both land") {
    // No seams: two real threads released together. Whoever loses the
    // manifest race must RESTART DISCOVERY against the winner's
    // version (its touched-file set may have changed), so the final
    // table carries BOTH backfills — the serializable outcome — and
    // no staged debris survives.
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 100).repartitionByRange(4, col("id"))
        .sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def task(lo: Int, hi: Int, txn: String) =
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          VersionedTable.replaceWhere(spark, t,
            col("id") >= lo && col("id") < hi,
            df(lo until lo + 2), txnId = Some(txn))
        }
      })
    val fa = task(10, 25, "rw_race_a")
    val fb = task(50, 75, "rw_race_b")
    start.countDown()
    val va = fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
    val vb = fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    assert(Set(va, vb) == Set(1, 2), s"both must land: $va, $vb")
    val got = VersionedTable.read(spark, t)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = ((0L until 10L) ++ Seq(10L, 11L) ++ (25L until 50L) ++
      Seq(50L, 51L) ++ (75L until 100L)).sorted
    assert(got == want,
      s"both disjoint backfills must survive the race: got ${got.size}")
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "replace", "replace"))
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty,
      "the race loser must clean its abandoned staged files")
  }

  test("schema evolution: added column back-fills null; types refuse") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(df(0 until 4), t, overwrite = true)
    // append a batch CARRYING A NEW COLUMN
    val withLang = (4 until 8).map(i => (i.toLong, s"row$i", s"lang$i"))
      .toDF("id", "s", "lang")
    VersionedTable.commit(withLang, t, overwrite = false)
    val latest = VersionedTable.read(spark, t)
    assert(latest.columns.toSeq == Seq("id", "s", "lang"),
      "the recorded schema gains the new column (old cols first)")
    val rows = latest.select("id", "lang").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert((0L until 4L).forall(rows(_).isEmpty),
      "pre-evolution files back-fill null")
    assert((4L until 8L).forall(i => rows(i).contains(s"lang$i")))
    // time travel to v0 returns the PRE-evolution shape
    assert(VersionedTable.read(spark, t, Some(0)).columns.toSeq ==
      Seq("id", "s"))
    assert(VersionedTable.schemaOf(spark, t, 0).fieldNames.toSeq ==
      Seq("id", "s"))
    // a batch MISSING an old column still reads whole (nulls)
    VersionedTable.commit(
      (8 until 10).map(i => (i.toLong, s"lang$i")).toDF("id", "lang"),
      t, overwrite = false)
    val v2 = VersionedTable.read(spark, t, Some(2))
    assert(v2.count() == 10 &&
      v2.where(col("s").isNull).count() == 2)
    // incremental reads plan with the TO version's schema
    assert(VersionedTable.readAppendsSince(spark, t, 0)
      .columns.toSeq == Seq("id", "s", "lang"))
    // a TYPE CHANGE refuses loudly
    val bad = (10 until 11).map(i => (i.toLong, i.toDouble, "x"))
      .toDF("id", "s", "lang")
    val e = intercept[IllegalArgumentException](
      VersionedTable.commit(bad, t, overwrite = false))
    assert(e.getMessage.contains("changes column types"))
    // ... but an OVERWRITE may reshape freely
    val ov = VersionedTable.commit(bad, t, overwrite = true)
    assert(VersionedTable.read(spark, t, Some(ov))
      .schema("s").dataType.typeName == "double")
    // deletes and merges carry the evolved schema forward
    assert(VersionedTable.schemaOf(spark, t, 2).fieldNames.length == 3)
    // the change feed crosses the evolution point: per-version feeds
    // align by name, pre-evolution rows null-fill the added column
    val feed = VersionedTable.readChangesRange(spark, t, -1, Some(2))
    assert(feed.count() == 10 &&
      feed.where(col("lang").isNull).count() == 4,
      "evolved change windows must union by name, not crash")
  }

  test("mergeInto: upsert as a versioned commit, touched files only") {
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 100).repartitionByRange(4, col("id"))
        .sortWithinPartitions(col("id")),
      t, overwrite = true, statsCols = Seq("id"))
    val preFiles = VersionedTable.files(spark, t, 0).toSet
    import spark.implicits._
    // updates hit only the TOP quarter of the clustered key space;
    // inserts are brand-new keys beyond every file's span
    val source = ((80 until 100).map(i => (i.toLong, s"upd$i")) ++
      (200 until 205).map(i => (i.toLong, s"new$i"))).toDF("id", "s")
    val v = VersionedTable.mergeInto(spark, t, source, Seq("id"),
      txnId = Some("m1"))
    assert(v == 1)
    val got = VersionedTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 105)
    assert((0 until 80).forall(i => got(i.toLong) == s"row$i"),
      "unmatched target rows survive")
    assert((80 until 100).forall(i => got(i.toLong) == s"upd$i"),
      "matched rows are replaced")
    assert((200 until 205).forall(i => got(i.toLong) == s"new$i"),
      "unmatched source rows are inserted")
    // only span-touched files rewritten; the low-key files carried
    val carried = VersionedTable.files(spark, t, 1).toSet & preFiles
    assert(carried.nonEmpty, "coarse span prune must carry files")
    assert(VersionedTable.read(spark, t, Some(0)).count() == 100,
      "prior version still reads whole")
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "merge"))
    // replay (same txnId) no-ops; duplicate source keys refuse
    assert(VersionedTable.mergeInto(spark, t, source, Seq("id"),
      txnId = Some("m1")) == 1)
    assert(VersionedTable.versions(spark, t).size == 2)
    intercept[IllegalArgumentException](VersionedTable.mergeInto(spark, t,
      source.union(source.limit(1)), Seq("id")))
    // empty source is a no-op at the current version
    assert(VersionedTable.mergeInto(spark, t, source.limit(0),
      Seq("id")) == 1)
    // null-keyed source rows match nothing: pure inserts — and TWO of
    // them are not a key conflict (uniqueness is over matchable keys)
    val withNull = Seq((Option.empty[Long], "nullrow"),
      (Option.empty[Long], "nullrow2")).toDF("id", "s")
    val v2 = VersionedTable.mergeInto(spark, t, withNull, Seq("id"))
    assert(VersionedTable.read(spark, t, Some(v2))
      .where(col("id").isNull).count() == 2)
    // a type-mismatched source refuses BEFORE committing anything —
    // even insert-only batches, which bypass the rewrite path and
    // would otherwise land files contradicting the recorded schema
    val badType = Seq((9999L, 1.5)).toDF("id", "s")
    val e2 = intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, t, badType, Seq("id")))
    assert(e2.getMessage.contains("types differ"))
  }

  test("merge discovery: footer blooms prune what spans cannot") {
    val t = tmpTable()
    import spark.implicits._
    // two single-file commits with INTERLEAVED ids: both files span
    // ~[0,199], so the manifest span prune keeps both — the footer
    // blooms (written for every stats column) tell evens from odds
    val evens = (0 until 200 by 2).map(i => (i.toLong, s"row$i"))
      .toDF("id", "s")
    val odds = (1 until 200 by 2).map(i => (i.toLong, s"row$i"))
      .toDF("id", "s")
    VersionedTable.commit(evens.coalesce(1), t, overwrite = true,
      statsCols = Seq("id"))
    VersionedTable.commit(odds.coalesce(1), t, overwrite = false)
    val entries = VersionedTable.readEntries(spark, t, 1)
    assert(entries.size == 2)
    assert(VersionedTable.pruneEntries(entries, "id", 2L, 5L).size == 2,
      "interleaved spans: the range prune is blind here")
    val kept = VersionedTable.bloomPrune(spark, t, entries, "id",
      Seq(2L, 4L))
    assert(kept.size == 1, s"blooms must single out the even file: $kept")
    assert(VersionedTable.bloomPrune(spark, t, entries, "id",
      Seq(100000L)).isEmpty,
      "a key in no file prunes every candidate")
    assert(VersionedTable.bloomPrune(spark, t, entries, "s",
      Seq("zzz")).size == 2,
      "no bloom for an unindexed column: conservative keep")
    // end-to-end: an even-keys-only merge carries the odd file
    val source = Seq((2L, "UPD2"), (4L, "UPD4")).toDF("id", "s")
    val preFiles = VersionedTable.files(spark, t, 1).toSet
    val v = VersionedTable.mergeInto(spark, t, source, Seq("id"))
    assert((VersionedTable.files(spark, t, v).toSet & preFiles).size == 1,
      "the odd file must carry by reference")
    val got = VersionedTable.read(spark, t, Some(v)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 200 && got(2L) == "UPD2" && got(4L) == "UPD4" &&
      got(3L) == "row3")
  }

  test("mergeInto tombstones: one CDC feed carries all three verbs") {
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 20).repartitionByRange(2, col("id"))
        .sortWithinPartitions(col("id")),
      t, overwrite = true, statsCols = Seq("id"))
    import spark.implicits._
    // one Debezium-shaped batch: update 3, delete 7, insert 100,
    // plus a tombstone for a key that never existed (replay no-op)
    val feed = Seq(
      (3L, "upd3", false),
      (7L, "whatever", true),
      (100L, "new100", false),
      (999L, "ghost", true)).toDF("id", "s", "_deleted")
    val v = VersionedTable.mergeInto(spark, t, feed, Seq("id"),
      txnId = Some("cdc1"), tombstoneCol = Some("_deleted"))
    val got = VersionedTable.read(spark, t, Some(v)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 20, "20 - 1 delete + 1 insert")
    assert(got(3L) == "upd3", "matched row updated")
    assert(!got.contains(7L), "tombstoned key removed")
    assert(got(100L) == "new100", "unmatched upsert inserted")
    assert(!got.contains(999L), "unmatched tombstone is a no-op")
    assert((0 until 20).filterNot(i => i == 3 || i == 7)
      .forall(i => got(i.toLong) == s"row$i"), "the rest untouched")
    // the schema never gains the tombstone column
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("id", "s"))
    // a tombstone column that's missing, or named as a key, refuses
    intercept[IllegalArgumentException](VersionedTable.mergeInto(spark,
      t, feed.drop("_deleted"), Seq("id"), tombstoneCol = Some("_deleted")))
    intercept[IllegalArgumentException](VersionedTable.mergeInto(spark,
      t, feed, Seq("_deleted"), tombstoneCol = Some("_deleted")))
  }

  test("pruning: IN-lists and multi-column conjunctions compose") {
    import spark.implicits._
    val t = tmpTable()
    // 4 files clustered on id; id2 scatters differently so the
    // conjunction prunes strictly more than either column alone
    val rows = (0 until 400).map(i => (i.toLong, (i % 100).toLong, s"v$i"))
      .toDF("id", "id2", "s")
    VersionedTable.commit(
      rows.repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id", "id2"))
    val entries = VersionedTable.readEntries(spark, t, 0)
    assert(entries.size == 4)
    import VersionedTable.{ExactIn, ExactRange}
    // IN-list: values in one file's span keep only that file
    val inKeep = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactIn("id", Seq(120L, 130L))))
    assert(inKeep.size == 1, s"IN-list must prune: ${inKeep.size}/4")
    // conjunction: each pred alone keeps >= what both together keep
    val a = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactRange.between("id", 0L, 399L)))
    val b = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactRange.between("id2", 1000L, 2000L))) // empty span on id2
    val both = VersionedTable.pruneEntriesWhere(entries,
      Seq(ExactRange.between("id", 0L, 399L),
        ExactRange.between("id2", 1000L, 2000L)))
    assert(a.size == 4 && b.isEmpty && both.isEmpty,
      "conjunction is the intersection of the single-column keeps")
    // result-invisible: pruned multi-pred read equals the plain filter
    val got = VersionedTable.prunedReadWhere(spark, t,
      Seq(ExactRange.between("id", 100L, 199L), ExactIn("id2", Seq(5L, 7L))))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = (100 until 200).filter(i => i % 100 == 5 || i % 100 == 7)
      .map(_.toLong)
    assert(got == want)
    // empty IN-list refuses (ambiguous SQL semantics — be loud)
    intercept[IllegalArgumentException](VersionedTable.prunedReadWhere(
      spark, t, Seq(ExactIn("id", Seq.empty))))
  }

  test("readChanges derives the row-level feed from manifest diffs") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      df(0 until 10).repartitionByRange(2, col("id"))
        .sortWithinPartitions(col("id")),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.commit(df(10 until 14), t, overwrite = false)
    VersionedTable.deleteWhere(spark, t, col("id") < 3)
    VersionedTable.mergeInto(spark, t,
      Seq((5L, "UPD5"), (100L, "NEW100")).toDF("id", "s"), Seq("id"))
    val cv = VersionedTable.compactSmall(spark, t, 1L << 30)
    def ch(v: Int) = VersionedTable.readChanges(spark, t, v)
      .select("_change_type", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // v0: the whole first commit is the insert set
    assert(ch(0) == (0 until 10).map(i => ("insert", i.toLong)))
    // v1 append: only the added rows, as inserts (no diff executed)
    assert(ch(1) == (10 until 14).map(i => ("insert", i.toLong)))
    // v2 delete: exactly the removed rows — the co-located survivors
    // in the rewritten file must NOT appear
    assert(ch(2) == (0 until 3).map(i => ("delete", i.toLong)))
    // v3 merge: the update as its delete/insert pair + the new key
    assert(ch(3) == Seq(("delete", 5L), ("insert", 5L),
      ("insert", 100L)))
    // the update's postimage (not preimage) is what the insert carries
    assert(VersionedTable.readChanges(spark, t, 3)
      .where(col("_change_type") === "insert" && col("id") === 5L)
      .select("s").collect().map(_.getString(0)).toSeq == Seq("UPD5"))
    // v4 optimize: content-invisible -> empty feed
    assert(ch(cv).isEmpty)
    // the windowed feed is the per-version union, tagged by version
    val range = VersionedTable.readChangesRange(spark, t, 1)
      .select("_commit_version", "_change_type", "id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sorted
    assert(range == Seq((2, "delete", 0L), (2, "delete", 1L),
      (2, "delete", 2L), (3, "delete", 5L), (3, "insert", 5L),
      (3, "insert", 100L)))
    // the defining diff invariant: old snapshot + inserts − deletes
    // (multiset algebra) reconstructs the new snapshot exactly
    val changes = VersionedTable.readChangesRange(spark, t, 0, Some(cv))
      .drop("_commit_version")
    val rebuilt = VersionedTable.read(spark, t, Some(0))
      .unionByName(changes.where(col("_change_type") === "insert")
        .drop("_change_type"))
      .exceptAll(changes.where(col("_change_type") === "delete")
        .drop("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val actual = VersionedTable.read(spark, t, Some(cv))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(rebuilt == actual,
      "applying the feed to v0 must reconstruct the latest snapshot")
    // an overwrite's feed is the full replacement, honestly priced
    VersionedTable.commit(df(500 until 502), t, overwrite = true)
    val ov = ch(cv + 1)
    assert(ov.count(_._1 == "delete") == 12 &&
      ov.filter(_._1 == "insert").map(_._2) == Seq(500L, 501L))
    // expiring the predecessor makes the feed unrecoverable, loudly
    VersionedTable.expire(spark, t, keepLast = 1)
    intercept[VersionedTable.VersionExpiredException](
      VersionedTable.readChanges(spark, t, cv + 1))
    intercept[VersionedTable.VersionExpiredException](
      VersionedTable.readChangesRange(spark, t, 0))
    // ... but an UP-TO-DATE poller (empty window at the latest
    // version) gets a schema-shaped empty feed, never a probe of the
    // expired predecessor
    assert(VersionedTable.readChangesRange(spark, t, cv + 1).count() == 0)
  }

  test("compactSmall packs only the small files; big ones carry") {
    import spark.implicits._
    val t = tmpTable()
    // one BIG file (5k rows) + four tiny per-batch files
    VersionedTable.commit(
      (0 until 5000).map(i => (i.toLong, s"row$i")).toDF("id", "s")
        .coalesce(1), t, overwrite = true, statsCols = Seq("id"))
    (0 until 4).foreach(i => VersionedTable.commit(
      df(5000 + i * 3 until 5000 + (i + 1) * 3).coalesce(1),
      t, overwrite = false))
    val v = 4
    val sizes = VersionedTable.files(spark, t, v)
      .map(n => n -> new java.io.File(t, n).length()).toMap
    val bigName = sizes.maxBy(_._2)._1
    val cv = VersionedTable.compactSmall(spark, t,
      targetFileBytes = 1L << 30,
      smallFileBytes = sizes(bigName)) // everything below the big one
    assert(cv == v + 1)
    val after = VersionedTable.files(spark, t, cv)
    assert(after.contains(bigName),
      "the right-sized file must carry BY REFERENCE")
    assert(after.size == 2, s"4 small files pack into 1: $after")
    // content-invisible, history intact, incremental readers see a
    // non-append mode
    assert(VersionedTable.read(spark, t, Some(cv)).count() == 5012)
    assert(VersionedTable.read(spark, t, Some(v)).count() == 5012)
    assert(VersionedTable.versions(spark, t).last.mode == "optimize")
    intercept[IllegalArgumentException](
      VersionedTable.readAppendsSince(spark, t, 0))
    assert(VersionedTable.readAppendsSkippingChanges(spark, t, 0)
      .count() == 12, "skip-change readers ride over the OPTIMIZE")
    // nothing worth packing -> current version untouched
    assert(VersionedTable.compactSmall(spark, t, 1L << 30,
      smallFileBytes = 1L) == cv)
  }

  test("expireOlderThan drops an aged prefix, never the tail") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    VersionedTable.commit(df(5 until 10), t, overwrite = false)
    VersionedTable.commit(df(10 until 15), t, overwrite = false)
    // nothing is older than an hour: no-op
    VersionedTable.expireOlderThan(spark, t, ttlMs = 3600 * 1000L)
    assert(VersionedTable.versions(spark, t).size == 3)
    // age the first two manifests artificially (header ts is what
    // the policy reads — rewrite it)
    (0 until 2).foreach { v =>
      val mf = new java.io.File(t, f"_graft_log/v$v%05d.manifest")
      val lines = new String(java.nio.file.Files.readAllBytes(mf.toPath))
        .split('\n')
      lines(6) = s"ts:${System.currentTimeMillis() - 7200 * 1000L}"
      java.nio.file.Files.write(mf.toPath,
        lines.mkString("", "\n", "\n").getBytes)
    }
    VersionedTable.expireOlderThan(spark, t, ttlMs = 3600 * 1000L)
    assert(VersionedTable.versions(spark, t).map(_.version) == Seq(2),
      "both aged versions expire; the latest survives at any age")
    assert(VersionedTable.read(spark, t).count() == 15)
    // keepLast floors the drop even when everything is ancient
    val t2 = tmpTable()
    VersionedTable.commit(df(0 until 3), t2, overwrite = true)
    VersionedTable.expireOlderThan(spark, t2, ttlMs = 0L, keepLast = 1)
    assert(VersionedTable.versions(spark, t2).size == 1)
  }

  test("readAppendsSkippingChanges rides over non-append commits") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    VersionedTable.commit(df(10 until 20), t, overwrite = false) // append A
    VersionedTable.deleteWhere(spark, t, col("id") < 3) // rewrites files
    VersionedTable.commit(df(20 until 25), t, overwrite = false) // append B
    VersionedTable.compact(spark, t, 1L << 30) // overwrite commit
    VersionedTable.commit(df(25 until 28), t, overwrite = false) // append C
    // the strict variant refuses; the skipping one emits A ∪ B ∪ C —
    // the delete's rewritten files and the compaction's output are
    // never mistaken for new rows (per-step diff, append steps only)
    intercept[IllegalArgumentException](
      VersionedTable.readAppendsSince(spark, t, 0))
    val got = VersionedTable.readAppendsSkippingChanges(spark, t, 0)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (10L until 28L))
    // windows and empty results behave like the strict variant
    assert(VersionedTable.readAppendsSkippingChanges(spark, t, 0, Some(2))
      .count() == 10)
    assert(VersionedTable
      .readAppendsSkippingChanges(spark, t, 5).count() == 0)
    VersionedTable.expire(spark, t, keepLast = 1)
    intercept[VersionedTable.VersionExpiredException](
      VersionedTable.readAppendsSkippingChanges(spark, t, 0))
  }

  test("vacuum sweeps orphaned manifest tmp files past the TTL") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    val tmp = new java.io.File(t,
      "_graft_log/.v00009.manifest.deadbeef.tmp")
    java.nio.file.Files.write(tmp.toPath, "partial".getBytes)
    assert(!VersionedTable.vacuumUnreferenced(spark, t, 3600 * 1000L)
      .contains(tmp.getName), "a fresh tmp is a writer mid-commit")
    require(tmp.setLastModified(System.currentTimeMillis() - 7200000L))
    assert(VersionedTable.vacuumUnreferenced(spark, t, 3600 * 1000L)
      .contains(tmp.getName))
    assert(!tmp.exists())
    assert(VersionedTable.read(spark, t).count() == 5)
  }

  test("expired watermark raises the re-baseline signal, not a crash") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    VersionedTable.commit(df(5 until 10), t, overwrite = false)
    VersionedTable.commit(df(10 until 15), t, overwrite = false)
    VersionedTable.expire(spark, t, keepLast = 1)
    val e = intercept[VersionedTable.VersionExpiredException](
      VersionedTable.readAppendsSince(spark, t, 0))
    assert(e.getMessage.contains("re-baseline"))
    // a never-committed FUTURE version is still the plain loud error
    intercept[IllegalArgumentException](
      VersionedTable.readAppendsSince(spark, t, 3, Some(99)))
  }

  test("txn checkpoint: O(1) idempotence probe over a long history") {
    val t = tmpTable()
    // 12 commits crosses the checkpoint interval (10)
    (0 until 12).foreach(i => VersionedTable.commit(
      df(i * 5 until (i + 1) * 5).coalesce(1), t, overwrite = false,
      txnId = Some(s"b$i")))
    val ckpt = new java.io.File(t, "_graft_log/_checkpoint")
    assert(ckpt.exists(), "the 10th commit must write the checkpoint")
    val lines = new String(
      java.nio.file.Files.readAllBytes(ckpt.toPath)).split('\n')
    assert(lines(0) == "graft-vt-ckpt-v1" && lines(1) == "latest:10")
    // replays resolve through the checkpoint (old id) and the header
    // scan (recent id) alike
    assert(VersionedTable.commit(df(0 until 5), t, overwrite = false,
      txnId = Some("b3")) == 3)
    assert(VersionedTable.commit(df(0 until 5), t, overwrite = false,
      txnId = Some("b11")) == 11)
    assert(VersionedTable.versions(spark, t).size == 12)
    // a corrupt/absent checkpoint falls back to the header scan
    java.nio.file.Files.write(ckpt.toPath, "garbage\n".getBytes)
    assert(VersionedTable.commit(df(0 until 5), t, overwrite = false,
      txnId = Some("b3")) == 3)
  }

  test("randomized pruning equivalence and bloom soundness (seeded)") {
    import spark.implicits._
    import VersionedTable.{ExactIn, ExactRange}
    val rnd = new scala.util.Random(99)
    (0 until 3).foreach { round =>
      val t = tmpTable()
      // random layout: clustered, scattered, or interleaved commits
      val n = 300 + rnd.nextInt(200)
      val rows = (0 until n).map { i =>
        val id = rnd.nextInt(1000).toLong
        (id, (id * 31 % 97).toLong, s"s${id % 13}")
      }
      val df0 = rows.toDF("id", "k", "s")
      val laidOut = rnd.nextInt(3) match {
        case 0 => df0.repartitionByRange(4, col("id"))
          .sortWithinPartitions("id")
        case 1 => df0.repartition(4)
        case _ => df0.repartition(4, col("k"))
      }
      VersionedTable.commit(laidOut, t, overwrite = true,
        statsCols = Seq("id", "k", "s"))
      VersionedTable.commit(df0.limit(40).coalesce(1), t,
        overwrite = false)
      val entries = VersionedTable.readEntries(spark, t, 1)
      (0 until 6).foreach { _ =>
        // random conjunction of ranges and IN-lists, in- and out-of-
        // domain; pruning must be invisible vs the plain filter
        val preds = Seq.newBuilder[VersionedTable.ExactPred]
        if (rnd.nextBoolean()) {
          val lo = rnd.nextInt(1200) - 100
          preds += ExactRange.between("id", lo.toLong,
            (lo + rnd.nextInt(300)).toLong)
        }
        if (rnd.nextBoolean())
          preds += ExactIn("k",
            Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(120).toLong))
        preds += ExactIn("s",
          Seq.fill(1 + rnd.nextInt(3))(s"s${rnd.nextInt(16)}"))
        val ps = preds.result()
        val exact = ps.map {
          case ExactRange(c, Some((lo, _)), Some((hi, _))) =>
            col(c).isNotNull && col(c) >= lit(lo) && col(c) <= lit(hi)
          case ExactIn(c, vs) => col(c).isin(vs: _*)
        }.reduce(_ && _)
        def key(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1), r.getString(2))
        val pruned = VersionedTable.prunedReadWhere(spark, t, ps)
          .collect().map(key).sorted.toSeq
        val plain = VersionedTable.read(spark, t).where(exact)
          .collect().map(key).sorted.toSeq
        assert(pruned == plain,
          s"round $round: pruning changed the result for $ps")
      }
      // bloom soundness: for a random key set, every file that truly
      // holds one of the keys must survive the bloom prune
      val keys = Seq.fill(5 + rnd.nextInt(10))(rnd.nextInt(1200).toLong)
        .distinct
      val kept = VersionedTable.bloomPrune(spark, t, entries, "id", keys)
        .map(_.name).toSet
      entries.foreach { e =>
        val holds = spark.read.parquet(s"$t/${e.name}")
          .where(col("id").isin(keys: _*)).limit(1).count() > 0
        assert(!holds || kept(e.name),
          s"round $round: bloom dropped ${e.name} which holds a key")
      }
    }
  }

  test("timestamp time travel: versionAsOf resolves the wall clock") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    Thread.sleep(5) // commit timestamps are ms-resolution
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    VersionedTable.commit(df(5 until 9), t, overwrite = false)
    val hist = VersionedTable.versions(spark, t)
    assert(hist.map(_.timestampMs).forall(_ > 0))
    assert(hist(0).timestampMs <= hist(1).timestampMs)
    assert(VersionedTable.versionAsOf(spark, t, mid) == 0,
      "mid-window timestamp resolves to the earlier commit")
    assert(VersionedTable.versionAsOf(spark, t,
      System.currentTimeMillis()) == 1)
    assert(VersionedTable.read(spark, t,
      Some(VersionedTable.versionAsOf(spark, t, mid))).count() == 5)
    // a timestamp before the oldest live commit fails loudly
    val e = intercept[IllegalArgumentException](
      VersionedTable.versionAsOf(spark, t, 1000L))
    assert(e.getMessage.contains("expired or never existed"))
  }

  test("readAppendsSince: file-diff delta; loud across rewrites") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    VersionedTable.commit(df(10 until 25), t, overwrite = false)
    VersionedTable.commit(df(25 until 30), t, overwrite = false)
    def got(from: Int, to: Option[Int] = None) =
      VersionedTable.readAppendsSince(spark, t, from, to)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got(0) == (10L until 30L))
    assert(got(1) == (25L until 30L))
    assert(got(0, Some(1)) == (10L until 25L))
    assert(got(2).isEmpty, "nothing since the latest version")
    // schema survives an empty delta
    assert(VersionedTable.readAppendsSince(spark, t, 2)
      .columns.toSeq == Seq("id", "s"))
    // the delta read must open ONLY the added files
    val before = VersionedTable.files(spark, t, 0).toSet
    val added = VersionedTable.files(spark, t, 2).filterNot(before)
    assert(VersionedTable.readAppendsSince(spark, t, 0)
      .inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet ==
      added.toSet)
    // a delete in the window is not row-level adds: refuse loudly
    VersionedTable.deleteWhere(spark, t, col("id") < 5)
    intercept[IllegalArgumentException](
      VersionedTable.readAppendsSince(spark, t, 0))
    // but a window that stops before the delete still works
    assert(got(0, Some(2)) == (10L until 30L))
  }

  test("metadata-only count and span fold from the manifest") {
    val t = tmpTable()
    import spark.implicits._
    VersionedTable.commit(df(0 until 50).repartition(4), t,
      overwrite = true, statsCols = Seq("id"))
    VersionedTable.commit(df(50 until 60), t, overwrite = false)
    assert(VersionedTable.countRows(spark, t) == 60L)
    assert(VersionedTable.statsSpan(spark, t, "id") ==
      Some(Some((0L, 59L))))
    // time travel reads the older manifest
    assert(VersionedTable.countRows(spark, t, Some(0)) == 50L)
    // a delete re-harvests the rewritten files: still exact
    VersionedTable.deleteWhere(spark, t, col("id") < 10)
    assert(VersionedTable.countRows(spark, t) == 50L)
    assert(VersionedTable.statsSpan(spark, t, "id") ==
      Some(Some((10L, 59L))))
    // a column stats were never collected for: outer None (rescan),
    // never a guess
    assert(VersionedTable.statsSpan(spark, t, "s").isEmpty)
    // all-null column: provably SQL NULL, distinct from "don't know"
    val t2 = tmpTable()
    VersionedTable.commit(
      Seq((1L, Option.empty[Long]), (2L, None)).toDF("id", "v"),
      t2, overwrite = true, statsCols = Seq("id", "v"))
    assert(VersionedTable.statsSpan(spark, t2, "v") == Some(None))
    // string stats columns: present ⇒ exact (parquet drops, never
    // truncates, oversized binary chunk stats)
    val ts = tmpTable()
    VersionedTable.commit(df(0 until 10), ts, overwrite = true,
      statsCols = Seq("s"))
    assert(VersionedTable.statsSpan(spark, ts, "s") ==
      Some(Some(("row0", "row9"))))
    // empty table: zero rows, NULL extrema
    val t3 = tmpTable()
    VersionedTable.commit(df(0 until 0), t3, overwrite = true,
      statsCols = Seq("id"))
    assert(VersionedTable.countRows(spark, t3) == 0L)
    assert(VersionedTable.statsSpan(spark, t3, "id") == Some(None))
  }

  test("cloneTo: deep clone carries content, stats, and constraints") {
    val t = tmpTable()
    import spark.implicits._
    // clustered commit so the stats-carry gate below is meaningful
    VersionedTable.commit(
      df(0 until 100).repartitionByRange(4, col("id"))
        .sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.commit(df(100 until 120), t, overwrite = false) // v1
    VersionedTable.setConstraint(spark, t, "id_pos", "id >= 0")
    VersionedTable.deleteWhere(spark, t, col("id") >= 100) // v2
    val c = tmpTable()
    // clone the MIDDLE version: time-traveled fork
    assert(VersionedTable.cloneTo(spark, t, c, Some(1)) == 0)
    def ids(p: String) = VersionedTable.read(spark, p, None)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(c) == (0L until 120L), "clone content == source v1")
    // entries carry verbatim: same names, rows, spans — pruning works
    // on the clone without any re-harvest
    val se = VersionedTable.readEntries(spark, t, 1)
    val ce = VersionedTable.readEntries(spark, c, 0)
    assert(ce == se, "manifest entries must carry byte-identical")
    assert(VersionedTable.pruneEntries(ce, "id", 10L, 20L).size <
      ce.size, "carried spans must still prune")
    // constraints carried: the clone's gate refuses violating rows
    intercept[IllegalArgumentException](
      VersionedTable.commit(Seq((-1L, "neg")).toDF("id", "s"), c,
        overwrite = false))
    // independent evolution: append to the clone, source untouched
    VersionedTable.commit(df(500 until 510), c, overwrite = false)
    assert(ids(c).size == 130 &&
      VersionedTable.read(spark, t).count() == 100)
    assert(VersionedTable.versions(spark, c).map(_.mode) ==
      Seq("clone", "append"))
    // the clone's v0 change feed is its whole snapshot
    assert(VersionedTable.readChanges(spark, c, 0).count() == 120)
    // a populated destination refuses
    intercept[IllegalArgumentException](
      VersionedTable.cloneTo(spark, t, c))
  }

  test("check constraints: gate every write path, tombstones exempt") {
    val t = tmpTable()
    import spark.implicits._
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    VersionedTable.setConstraint(spark, t, "id_pos", "id >= 0")
    assert(VersionedTable.constraints(spark, t) ==
      Seq("id_pos" -> "id >= 0"))
    // valid append passes
    assert(VersionedTable.commit(df(10 until 12), t, overwrite = false) == 1)
    // violating append refuses with the name and count, nothing lands
    val filesBefore = new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val bad = Seq((-1L, "neg"), (-2L, "neg2"), (50L, "ok"))
      .toDF("id", "s")
    val ex = intercept[IllegalArgumentException](
      VersionedTable.commit(bad, t, overwrite = false))
    assert(ex.getMessage.contains("id_pos") &&
      ex.getMessage.contains("2 row(s)"))
    assert(VersionedTable.latestVersion(spark, t) == Some(1))
    assert(new java.io.File(t).listFiles()
      .count(_.getName.endsWith(".parquet")) == filesBefore,
      "enforcement precedes staging: a refused batch leaves no debris")
    // mergeInto: violating upsert refuses; tombstone deletes exempt
    intercept[IllegalArgumentException](
      VersionedTable.mergeInto(spark, t, bad, Seq("id")))
    val feed = Seq((5L, "whatever", true)).toDF("id", "s", "_del")
    assert(VersionedTable.mergeInto(spark, t, feed, Seq("id"),
      tombstoneCol = Some("_del")) == 2,
      "a delete record carries no new data — constraints must not block it")
    // replaceWhere: violating replacement refuses
    intercept[IllegalArgumentException](
      VersionedTable.replaceWhere(spark, t, col("id") < 0,
        Seq((-9L, "x")).toDF("id", "s")))
    // drop re-allows (and is idempotent)
    VersionedTable.dropConstraint(spark, t, "id_pos")
    VersionedTable.dropConstraint(spark, t, "id_pos")
    assert(VersionedTable.constraints(spark, t).isEmpty)
    assert(VersionedTable.commit(Seq((-1L, "neg")).toDF("id", "s"),
      t, overwrite = false) == 3)
  }

  test("check constraints: ADD validates current content; NULL passes") {
    val t = tmpTable()
    import spark.implicits._
    VersionedTable.commit(
      Seq((Some(1L), "a"), (None, "b")).toDF("id", "s"),
      t, overwrite = true)
    // SQL CHECK: the null-id row passes `id >= 0` (NULL is not FALSE)
    VersionedTable.setConstraint(spark, t, "id_pos", "id >= 0")
    // but existing violating rows refuse the ADD itself
    val ex = intercept[IllegalArgumentException](
      VersionedTable.setConstraint(spark, t, "id_big", "id >= 100"))
    assert(ex.getMessage.contains("id_big"))
    assert(VersionedTable.constraints(spark, t).map(_._1) == Seq("id_pos"))
    // non-boolean expression refuses; unknown column refuses
    intercept[IllegalArgumentException](
      VersionedTable.setConstraint(spark, t, "not_bool", "s"))
    intercept[IllegalArgumentException](
      VersionedTable.setConstraint(spark, t, "ghost", "nope > 0"))
    // a NULL-evaluating row still passes enforcement on new data
    assert(VersionedTable.commit(
      Seq((Option.empty[Long], "c")).toDF("id", "s"),
      t, overwrite = false) == 1)
    // re-setting the same name replaces, not duplicates
    VersionedTable.setConstraint(spark, t, "id_pos", "id >= -5")
    assert(VersionedTable.constraints(spark, t) ==
      Seq("id_pos" -> "id >= -5"))
  }

  test("check constraints: txn replay no-ops instead of refusing") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 5), t, overwrite = true)
    val v = VersionedTable.commit(df(5 until 8), t, overwrite = false,
      txnId = Some("cx_1"))
    // the batch lands, its rows get deleted, THEN the constraint
    // arrives (current content satisfies it). A replay of the old
    // batch must return its version, not refuse — idempotence outranks
    // enforcement, the txn is already in the log
    val dv = VersionedTable.deleteWhere(spark, t, col("id") >= 5)
    VersionedTable.setConstraint(spark, t, "id_small", "id < 5")
    assert(VersionedTable.commit(df(5 until 8), t, overwrite = false,
      txnId = Some("cx_1")) == v)
    assert(VersionedTable.latestVersion(spark, t) == Some(dv),
      "the replay must not have committed anything new")
  }

  test("restoreTo: metadata-only rollback as a new commit") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    VersionedTable.commit(df(10 until 20), t, overwrite = false)
    VersionedTable.deleteWhere(spark, t, col("id") < 5) // v2
    val v1Files = VersionedTable.files(spark, t, 1).toSet
    val r = VersionedTable.restoreTo(spark, t, 1)
    assert(r == 3)
    // zero data movement: the restore manifest IS v1's file list
    assert(VersionedTable.files(spark, t, 3).toSet == v1Files)
    def ids(v: Option[Int]) = VersionedTable.read(spark, t, v)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(None) == (0L until 20L), "restored content == v1")
    assert(ids(Some(2)) == (5L until 20L),
      "the rolled-back version stays time-travelable")
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "append", "delete", "restore"))
    // restore to the current state is a no-op commit
    assert(VersionedTable.restoreTo(spark, t, 3) == 3)
    assert(VersionedTable.latestVersion(spark, t) == Some(3))
    // replay idempotence via txnId
    VersionedTable.deleteWhere(spark, t, col("id") >= 15) // v4
    assert(VersionedTable.restoreTo(spark, t, 3, Some("rb_1")) == 5)
    assert(VersionedTable.restoreTo(spark, t, 3, Some("rb_1")) == 5,
      "a replayed restore (same txnId) must no-op")
    // future version refuses
    intercept[IllegalArgumentException](
      VersionedTable.restoreTo(spark, t, 99))
    // the change feed of the restore commit is the exact undo-diff
    val feed = VersionedTable.readChanges(spark, t, 5)
      .groupBy("_change_type").agg(count(lit(1)).as("n"))
      .collect().map(r2 => r2.getString(0) -> r2.getLong(1)).toMap
    assert(feed == Map("insert" -> 5L), "restoring the v4 delete of " +
      "ids 15..19 re-inserts exactly those 5 rows")
  }

  test("restoreTo: expired target refuses; expire keeps restored files") {
    val t = tmpTable()
    VersionedTable.commit(df(0 until 10), t, overwrite = true)
    VersionedTable.commit(df(100 until 103), t, overwrite = true) // v1
    VersionedTable.commit(df(103 until 105), t, overwrite = false) // v2
    VersionedTable.restoreTo(spark, t, 0) // v3: references v0's files
    VersionedTable.expire(spark, t, keepLast = 1) // drops v0..v2
    // restored content survives the expire of the version it came from
    assert(VersionedTable.read(spark, t).count() == 10)
    intercept[IllegalArgumentException](
      VersionedTable.restoreTo(spark, t, 1)) // manifest gone: loud
  }

  test("replaceWhere: scoped atomic overwrite, untouched files carried") {
    val t = tmpTable()
    import spark.implicits._
    // cluster by id so the replaced slice touches a file subset
    VersionedTable.commit(
      df(0 until 100).repartitionByRange(4, col("id"))
        .sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val pre = VersionedTable.files(spark, t, 0).toSet
    val repl = Seq((10L, "new10"), (11L, "new11")).toDF("id", "s")
    val v = VersionedTable.replaceWhere(spark, t,
      col("id") >= 10 && col("id") < 25, repl, txnId = Some("rw_1"))
    assert(v == 1)
    assert((VersionedTable.files(spark, t, 1).toSet & pre).nonEmpty,
      "files outside the replaced slice must carry by reference")
    val rows = VersionedTable.read(spark, t)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == ((0L until 10L) ++ (25L until 100L)).toSet
      + 10L + 11L)
    assert(rows(10L) == "new10" && rows(11L) == "new11")
    assert(rows(5L) == "row5" && rows(50L) == "row50")
    // prior version whole; replay no-ops
    assert(VersionedTable.read(spark, t, Some(0)).count() == 100)
    assert(VersionedTable.replaceWhere(spark, t,
      col("id") >= 10 && col("id") < 25, repl, txnId = Some("rw_1")) == 1)
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "replace"))
  }

  test("replaceWhere: contract refusals and edge shapes") {
    val t = tmpTable()
    import spark.implicits._
    VersionedTable.commit(df(0 until 20), t, overwrite = true)
    // a replacement row OUTSIDE the predicate scope refuses
    val bad = Seq((99L, "out")).toDF("id", "s")
    intercept[IllegalArgumentException](
      VersionedTable.replaceWhere(spark, t, col("id") < 50, bad))
    // wrong columns refuse
    val cols = Seq((1L, 2L)).toDF("id", "other")
    intercept[IllegalArgumentException](
      VersionedTable.replaceWhere(spark, t, col("id") < 5, cols))
    // wrong type refuses
    val typed = Seq((1, "x")).toDF("id", "s") // id: int, table: long
    intercept[IllegalArgumentException](
      VersionedTable.replaceWhere(spark, t, col("id") < 5, typed))
    // empty data = pure scoped delete
    val empty = spark.createDataFrame(new java.util.ArrayList[
      org.apache.spark.sql.Row](), df(0 until 1).schema)
    val v = VersionedTable.replaceWhere(spark, t, col("id") < 5, empty)
    assert(v == 1)
    assert(VersionedTable.read(spark, t).count() == 15)
    // scope touching nothing + empty data = no-op, no commit
    assert(VersionedTable.replaceWhere(spark, t,
      col("id") > 1000, empty) == 1)
    assert(VersionedTable.latestVersion(spark, t) == Some(1))
    // NULL predicate keeps the row (SQL WHERE-delete semantics)
    val withNull = Seq((Some(100L), "a"), (None, "b"))
      .toDF("id", "s")
    VersionedTable.commit(withNull, t, overwrite = false) // v2
    VersionedTable.replaceWhere(spark, t, col("id") >= 100,
      Seq((200L, "c")).toDF("id", "s")) // v3
    val ids = VersionedTable.read(spark, t).select("s")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ids.contains("b"), "null-predicate row must survive")
    assert(ids.contains("c") && !ids.contains("a"))
  }

  test("updateWhere: multi-SET and the predicate see the PRE-image") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
        .toDF("id", "a", "b"),
      t, overwrite = true)
    // SET a=b+1, b=a+1 WHERE a+b < 250: every expression — including
    // the predicate — must evaluate against the row's pre-image. A
    // chained evaluation would compute b from a's POST-image (torn
    // swap), or skip/include rows based on half-updated values.
    VersionedTable.updateWhere(spark, t,
      col("a") + col("b") < 250L,
      Map("a" -> (col("b") + 1L), "b" -> (col("a") + 1L)))
    val rows = VersionedTable.read(spark, t)
      .select("id", "a", "b").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      (1L, 101L, 11L),  // swapped from pre-image (10, 100)
      (2L, 201L, 21L),  // swapped from pre-image (20, 200)
      (3L, 30L, 300L))) // 330 >= 250: untouched
  }

  test("updateWhere CHECK gates the rows the PRE-image predicate touched") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      Seq((1L, 5.0), (2L, 8.0), (3L, 40.0)).toDF("id", "price"),
      t, overwrite = true)
    VersionedTable.setConstraint(spark, t, "price_cap", "price <= 50")
    // SET price=price*10 WHERE price<10: row 2's post-image (80) moves
    // OUT of the predicate — re-evaluating the predicate on the
    // post-image would exempt it from the CHECK and commit a violation
    val e = intercept[IllegalArgumentException] {
      VersionedTable.updateWhere(spark, t, col("price") < 10.0,
        Map("price" -> (col("price") * 10.0)))
    }
    assert(e.getMessage.contains("price_cap"), e.getMessage)
    // nothing landed — the table is unchanged at version 0
    assert(VersionedTable.latestVersion(spark, t).contains(0))
    assert(VersionedTable.read(spark, t).agg(sum("price"))
      .collect()(0).getDouble(0) == 53.0)
  }

  test("updateWhere works on a table that uses the flag column's name") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      Seq((1L, 10L, true), (2L, 20L, false))
        .toDF("id", "a", "__graft_preimage_touched"),
      t, overwrite = true)
    VersionedTable.updateWhere(spark, t, col("id") === 1L,
      Map("a" -> (col("a") + 1L)))
    val rows = VersionedTable.read(spark, t)
      .select("id", "a", "__graft_preimage_touched")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, 11L, true), (2L, 20L, false)),
      "the internal flag name must never shadow a real column")
  }

  test("explicit-version metadata paths refuse pending manifests") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_vtvis_").toFile
    d.deleteOnExit()
    val t = s"$d/t"
    VersionedTable.commit(Seq((1L, 2L)).toDF("id", "x"), t,
      overwrite = true, statsCols = Seq("x"))
    // stage an UNDECIDED multi-table pending at v1 holding secret data
    val uri = s"$d/txns/vis.decision"
    VersionedTable.commitImpl(
      Seq((99L, 999L)).toDF("id", "x"), t, overwrite = false,
      txnId = Some("vis_0"), statsCols = Seq.empty, maxRetries = 5,
      onBeforeManifestCommit = () => (), pendingTxn = Some(uri))
    // countRows/statsSpan at the pending version would leak the
    // uncommitted row count and extrema; cloneTo would fork the data
    intercept[VersionedTable.TxnInDoubtException] {
      VersionedTable.countRows(spark, t, asOfVersion = Some(1))
    }
    intercept[VersionedTable.TxnInDoubtException] {
      VersionedTable.statsSpan(spark, t, "x", asOfVersion = Some(1))
    }
    intercept[VersionedTable.TxnInDoubtException] {
      VersionedTable.cloneTo(spark, t, s"$d/leak", asOfVersion = Some(1))
    }
    assert(!new java.io.File(s"$d/leak").exists,
      "a refused clone must not leave a table behind")
    // after an ABORT the same calls refuse as 'aborted', still no leak
    graft.operators.MultiTableTxn.abort(spark, s"$d/txns", "vis")
    intercept[IllegalStateException] {
      VersionedTable.countRows(spark, t, asOfVersion = Some(1))
    }
    intercept[IllegalStateException] {
      VersionedTable.cloneTo(spark, t, s"$d/leak2", asOfVersion = Some(1))
    }
    // the latest-version paths still answer from v0
    assert(VersionedTable.countRows(spark, t) == 1L)
    assert(VersionedTable.statsSpan(spark, t, "x") == Some(Some((2L, 2L))))
  }

  test("deletion vectors: off-cluster delete writes a sidecar, not files") {
    import spark.implicits._
    val t = tmpTable()
    // 4 range-clustered files; id % 3 == 0 is OFF-cluster — every file
    // holds matches, so a rewrite delete would rewrite the whole table
    VersionedTable.commit(
      (0L until 400L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val v0Files = VersionedTable.files(spark, t, 0).toSet
    val v = VersionedTable.deleteWhere(spark, t, col("id") % 3 === 0,
      txnId = Some("dv1"), deletionVectors = true)
    assert(v == 1)
    // every data file carried BY NAME — zero data bytes rewritten
    assert(VersionedTable.files(spark, t, 1).toSet == v0Files,
      "a DV delete must not rewrite or drop any data file")
    val e1 = VersionedTable.readEntries(spark, t, 1)
    assert(e1.forall(_.dv.nonEmpty), "every touched file carries a DV")
    val sidecars = e1.flatMap(_.dv.map(_._1)).distinct
    assert(sidecars.size == 1, s"one sidecar per commit: $sidecars")
    // reads mask exactly; time travel to v0 is whole
    val ids = VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids == (0L until 400L).filter(_ % 3 != 0))
    assert(VersionedTable.read(spark, t, Some(0)).count() == 400)
    // metadata-only count stays exact; spans turn conservative
    assert(VersionedTable.countRows(spark, t) ==
      (0L until 400L).count(_ % 3 != 0).toLong)
    assert(VersionedTable.statsSpan(spark, t, "id").isEmpty,
      "a DV'd version must not answer exact extrema from stale spans")
    // replay no-ops; a SECOND DV delete unions into the mask
    assert(VersionedTable.deleteWhere(spark, t, col("id") % 3 === 0,
      txnId = Some("dv1"), deletionVectors = true) == 1)
    val v2 = VersionedTable.deleteWhere(spark, t, col("id") % 5 === 0,
      deletionVectors = true)
    assert(v2 == 2)
    val ids2 = VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids2 == (0L until 400L).filter(i => i % 3 != 0 && i % 5 != 0))
    // change feed: the second commit's feed is exactly the %5 rows
    // that were still live (not the %15 ones the first delete took)
    val feed = VersionedTable.readChanges(spark, t, 2)
    assert(feed.where(col("_change_type") === "insert").isEmpty)
    assert(feed.where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 400L).filter(i => i % 5 == 0 && i % 3 != 0))
    // pruned reads mask too
    assert(VersionedTable.prunedRead(spark, t, "id", 0L, 30L)
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L to 30L).filter(i => i % 3 != 0 && i % 5 != 0))
    // the relation/SQL scan surfaces refuse rather than resurrect
    val err = intercept[Exception] {
      spark.read.format("graft-vt").load(t).count()
    }
    assert(err.getMessage.contains("deletion vectors"), err.getMessage)
    // compact MATERIALIZES: vectors gone, content identical, SQL back
    val cv = VersionedTable.compact(spark, t)
    assert(VersionedTable.readEntries(spark, t, cv).forall(_.dv.isEmpty))
    assert(spark.read.format("graft-vt").load(t)
      .select("id").as[Long].collect().sorted.toSeq == ids2)
    // retention: after expire+vacuum the old sidecars die with their
    // manifests, and only the compacted version's files remain
    VersionedTable.expire(spark, t, keepLast = 1)
    VersionedTable.vacuumUnreferenced(spark, t, 0L)
    val live = VersionedTable.files(spark, t, cv).toSet
    val onDisk = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(onDisk == live, s"sidecars must vacuum: $onDisk vs $live")
  }

  test("deletion vectors: fully-dead files drop; rewrites never resurrect") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 300L).map(i => (i, i * 2L)).toDF("id", "x")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // kill one whole file's range with a DV: its entry must DROP
    val nFiles0 = VersionedTable.files(spark, t, 0).size
    val v1 = VersionedTable.deleteWhere(spark, t, col("id") < 100L,
      deletionVectors = true)
    val e1 = VersionedTable.readEntries(spark, t, v1)
    assert(e1.size < nFiles0 || e1.exists(_.dv.nonEmpty))
    assert(VersionedTable.read(spark, t).count() == 200)
    // a vector only dropped files would point at is never written, so
    // the delete leaves no sidecar for vacuum to sweep
    assert(VersionedTable.vacuumUnreferenced(spark, t, 0L).isEmpty)
    // sprinkle a second, off-cluster DV
    VersionedTable.deleteWhere(spark, t, col("id") % 10 === 7L,
      deletionVectors = true)
    val expectLive = (100L until 300L).filterNot(_ % 10 == 7)
    // a REWRITE delete on a DV-carrying table must not resurrect the
    // masked rows of the files it rewrites
    val v3 = VersionedTable.deleteWhere(spark, t,
      col("id").between(150L, 160L))
    assert(VersionedTable.read(spark, t, Some(v3))
      .select("id").as[Long].collect().sorted.toSeq ==
      expectLive.filterNot(i => i >= 150L && i <= 160L))
    // updateWhere on the remaining DV files: masked rows stay gone
    VersionedTable.updateWhere(spark, t, col("id") >= 290L,
      Map("x" -> (col("x") + 1L)))
    val got = VersionedTable.read(spark, t)
      .select("id", "x").as[(Long, Long)].collect().toMap
    assert(!got.contains(107L) && !got.contains(155L))
    assert(got(290L) == 581L && got(149L) == 298L)
    // mergeInto with keys hitting DV'd files: no resurrection either
    val src = Seq((292L, 0L), (999L, 1L)).toDF("id", "x")
    VersionedTable.mergeInto(spark, t, src, Seq("id"))
    val got2 = VersionedTable.read(spark, t)
      .select("id", "x").as[(Long, Long)].collect().toMap
    assert(got2(292L) == 0L && got2(999L) == 1L && !got2.contains(157L))
  }

  test("deletion vectors: restore across a DV delete; clone carries them") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") % 4 === 1L,
      deletionVectors = true)
    // clone of the DV version: sidecars copy, mask holds independently
    val c = tmpTable()
    VersionedTable.cloneTo(spark, t, c, asOfVersion = Some(1))
    assert(VersionedTable.read(spark, c).select("id").as[Long]
      .collect().sorted.toSeq == (0L until 100L).filterNot(_ % 4 == 1))
    // restore to v0: the change feed of the restore is pure inserts of
    // the masked rows (DV shrink = resurrection, coordinate-exact)
    val rv = VersionedTable.restoreTo(spark, t, 0)
    assert(VersionedTable.read(spark, t).count() == 100)
    val feed = VersionedTable.readChanges(spark, t, rv)
    assert(feed.where(col("_change_type") === "delete").isEmpty)
    assert(feed.where(col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 100L).filter(_ % 4 == 1))
  }

  test("deletion vectors: UPDATE and MERGE mask pre-images, append post") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 300L).map(i => (i, i * 10L)).toDF("id", "x")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val v0Files = VersionedTable.files(spark, t, 0).toSet
    // OFF-cluster DV update: every file holds matches; no data file
    // may be rewritten or dropped — post-images arrive as NEW files
    val v1 = VersionedTable.updateWhere(spark, t, col("id") % 10 === 3,
      Map("x" -> (col("x") + 1L)), deletionVectors = true)
    assert(v1 == 1)
    val f1 = VersionedTable.files(spark, t, 1).toSet
    assert(v0Files.subsetOf(f1), "DV update must keep every data file")
    assert((f1 -- v0Files).nonEmpty, "post-images land as new files")
    val got = VersionedTable.read(spark, t)
      .select("id", "x").as[(Long, Long)].collect().toMap
    assert(got.size == 300)
    assert(got(13L) == 131L && got(12L) == 120L)
    // pre-image discipline under DV too: a swap-with-predicate update
    VersionedTable.commit(
      (0L until 10L).map(i => (i, i + 100L, i + 200L)).toDF("id", "a", "b"),
      s"${t}_swap", overwrite = true)
    VersionedTable.updateWhere(spark, s"${t}_swap",
      col("a") + col("b") < 305L,
      Map("a" -> (col("b") + 1L), "b" -> (col("a") + 1L)),
      deletionVectors = true)
    val sw = VersionedTable.read(spark, s"${t}_swap")
      .select("id", "a", "b").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(sw.take(3) == Seq((0L, 201L, 101L), (1L, 202L, 102L),
      (2L, 203L, 103L)))
    assert(sw.last == (9L, 109L, 209L), "row 9 (sum 318) untouched")
    // DV MERGE: scattered CDC keys mask their pre-images; upserts +
    // inserts append; tombstones just mask
    val cdc = Seq((13L, 0L, false), (250L, 1L, false), (900L, 2L, false),
      (20L, -1L, true)).toDF("id", "x", "del")
    val v2 = VersionedTable.mergeInto(spark, t, cdc, Seq("id"),
      tombstoneCol = Some("del"), deletionVectors = true)
    val f2 = VersionedTable.files(spark, t, v2).toSet
    assert(f1.subsetOf(f2), "DV merge must keep every data file")
    val got2 = VersionedTable.read(spark, t)
      .select("id", "x").as[(Long, Long)].collect().toMap
    assert(got2(13L) == 0L && got2(250L) == 1L && got2(900L) == 2L)
    assert(!got2.contains(20L), "tombstone must mask its key")
    assert(got2.size == 300) // -1 tombstone +1 insert
    // change feed of the DV merge: deletes = the matched pre-images,
    // inserts = the upsert rows (coordinate-derived, no content diff)
    val feed = VersionedTable.readChanges(spark, t, v2)
    assert(feed.where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(13L, 20L, 250L))
    assert(feed.where(col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(13L, 250L, 900L))
    // replay no-ops (txn idempotence carries to the DV paths)
    val v3 = VersionedTable.mergeInto(spark, t, cdc, Seq("id"),
      tombstoneCol = Some("del"), txnId = Some("dvm1"),
      deletionVectors = true)
    assert(VersionedTable.mergeInto(spark, t, cdc, Seq("id"),
      tombstoneCol = Some("del"), txnId = Some("dvm1"),
      deletionVectors = true) == v3)
  }

  test("column mapping: rename is metadata-only; every surface follows") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 200L).map(i => (i, i * 2L, s"s$i")).toDF("id", "qty", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id", "qty"))
    val v0Files = VersionedTable.files(spark, t, 0)
    val rv = VersionedTable.renameColumn(spark, t, "qty", "quantity")
    assert(rv == 1)
    // ZERO data movement: identical file list, mode `alter`
    assert(VersionedTable.files(spark, t, 1) == v0Files)
    assert(VersionedTable.versions(spark, t).map(_.mode) ==
      Seq("overwrite", "alter"))
    // reads alias to the new logical name; values intact
    val cur = VersionedTable.read(spark, t)
    assert(cur.columns.toSeq == Seq("id", "quantity", "s"))
    assert(cur.where(col("id") === 7L).select("quantity")
      .as[Long].collect().head == 14L)
    // time travel returns each version's OWN names
    assert(VersionedTable.read(spark, t, Some(0)).columns.toSeq ==
      Seq("id", "qty", "s"))
    // manifest span stats re-keyed: pruning on the NEW name still cuts
    val e1 = VersionedTable.readEntries(spark, t, 1)
    assert(VersionedTable.pruneEntries(e1, "quantity", 0L, 50L).size <
      e1.size, "re-keyed spans must prune on the new name")
    assert(VersionedTable.prunedRead(spark, t, "quantity", 0L, 50L)
      .count() == 26)
    // appends keep staging under the PHYSICAL name: the new file's
    // parquet schema carries `qty`, and reads still alias
    VersionedTable.commit(
      Seq((500L, 1000L, "s500")).toDF("id", "quantity", "s"),
      t, overwrite = false)
    val newFile = (VersionedTable.files(spark, t, 2).toSet --
      VersionedTable.files(spark, t, 1).toSet).head
    assert(spark.read.parquet(s"$t/$newFile").columns.contains("qty"),
      "appended files must carry the physical column name")
    assert(VersionedTable.read(spark, t).where(col("id") === 500L)
      .select("quantity").as[Long].collect().head == 1000L)
    // membership probe (footer blooms under the physical name) works
    assert(VersionedTable.prunedReadIn(spark, t, "quantity",
      Seq(14L, 1000L)).select("id").as[Long].collect().sorted.toSeq ==
      Seq(7L, 500L))
    // mutation verbs speak logical names
    VersionedTable.updateWhere(spark, t, col("id") === 7L,
      Map("quantity" -> (col("quantity") + 1L)))
    assert(VersionedTable.read(spark, t).where(col("id") === 7L)
      .select("quantity").as[Long].collect().head == 15L)
    // the plain-scan surfaces refuse a mapped version loudly...
    val err = intercept[Exception] {
      spark.read.format("graft-vt").load(t).count()
    }
    assert(err.getMessage.contains("renamed columns"), err.getMessage)
    // ...and an overwrite commit materializes the mapping away
    VersionedTable.commit(VersionedTable.read(spark, t), t,
      overwrite = true, statsCols = Seq("id", "quantity"))
    assert(spark.read.format("graft-vt").load(t)
      .where(col("id") === 7L).select("quantity")
      .as[Long].collect().head == 15L)
  }

  test("column mapping: drop retires the physical name; re-add refuses") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 50L).map(i => (i, i * 3L, s"x$i")).toDF("id", "v", "s"),
      t, overwrite = true, statsCols = Seq("id"))
    val dv = VersionedTable.dropColumn(spark, t, "v")
    assert(VersionedTable.read(spark, t).columns.toSeq == Seq("id", "s"))
    assert(VersionedTable.read(spark, t, Some(0)).columns.toSeq ==
      Seq("id", "v", "s"), "time travel keeps the dropped column")
    assert(VersionedTable.files(spark, t, dv) ==
      VersionedTable.files(spark, t, 0), "drop moves no data")
    // re-adding `v` would resurrect the stale physical bytes — refuse
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        Seq((100L, 9L, "y")).toDF("id", "v", "s"), t, overwrite = false)
    }
    assert(e.getMessage.contains("physical history"), e.getMessage)
    // rename freeing a logical name has the same protection
    VersionedTable.renameColumn(spark, t, "s", "s2")
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.commit(
        Seq((100L, "y", "z")).toDF("id", "s", "s2"), t, overwrite = false)
    }
    assert(e2.getMessage.contains("physical history"), e2.getMessage)
    // appends of genuinely new names still evolve fine
    VersionedTable.commit(
      Seq((100L, "z", 1.5)).toDF("id", "s2", "w"), t, overwrite = false)
    val got = VersionedTable.read(spark, t)
    assert(got.columns.toSeq == Seq("id", "s2", "w"))
    assert(got.where(col("id") === 3L).select("s2")
      .as[String].collect().head == "x3")
    // a CHECK constraint naming a column blocks its rename/drop
    VersionedTable.setConstraint(spark, t, "w_pos",
      "w IS NULL OR w > 0")
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.renameColumn(spark, t, "w", "weight")
    }
    assert(e3.getMessage.contains("w_pos"), e3.getMessage)
    VersionedTable.dropConstraint(spark, t, "w_pos")
    assert(VersionedTable.renameColumn(spark, t, "w", "weight") > 0)
  }

  test("column mapping composes with deletion vectors and the feed") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 100L).map(i => (i, i * 2L)).toDF("id", "a")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") % 4 === 0,
      deletionVectors = true)
    VersionedTable.renameColumn(spark, t, "a", "b")
    // masked + aliased read
    val rows = VersionedTable.read(spark, t).select("id", "b")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) == (0L until 100L).filter(_ % 4 != 0))
    assert(rows.forall { case (i, b) => b == i * 2 })
    // the rename's change feed is empty; the DV delete's is exact
    assert(VersionedTable.readChanges(spark, t, 2).isEmpty)
    assert(VersionedTable.readChanges(spark, t, 1)
      .where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 100L).filter(_ % 4 == 0))
    // a DV delete AFTER the rename speaks the new name end-to-end
    VersionedTable.deleteWhere(spark, t, col("b") > 150L,
      deletionVectors = true)
    assert(VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq ==
      (0L until 100L).filter(i => i % 4 != 0 && i * 2 <= 150))
    // ...and its change feed resolves positions over the MAPPED schema
    // (metadata columns ride the raw physical scan, logical names on
    // top — a feed built over the logicalized projection cannot
    // resolve _metadata and fails loudly)
    val feed3 = VersionedTable.readChanges(spark, t, 3)
    assert(feed3.where(col("_change_type") === "insert").isEmpty)
    assert(feed3.where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 100L).filter(i => i % 4 != 0 && i * 2 > 150),
      "the DV-transition feed must speak logical names over a mapped schema")
  }

  test("deletion vectors: a shared sidecar absorbs forward without dups") {
    import spark.implicits._
    val t = tmpTable()
    // two files D (ids 0-99) and F (ids 100-199)
    VersionedTable.commit(
      (0L until 200L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // v1 touches BOTH files → ONE sidecar carries D's and F's positions
    VersionedTable.deleteWhere(spark, t, col("id").isin(10L, 110L),
      deletionVectors = true)
    // v2 touches F only → F re-points at a sidecar that absorbed its
    // v1 positions; D still references the SHARED v1 sidecar, which
    // carries F's v1 positions too
    VersionedTable.deleteWhere(spark, t, col("id") === 120L,
      deletionVectors = true)
    // v3 touches both again: the write-side union reads D's prior from
    // the shared sidecar and F's from its own — F's v1 positions must
    // come in exactly ONCE (a name-filtered union over both sidecars
    // would absorb them twice)
    VersionedTable.deleteWhere(spark, t, col("id").isin(20L, 130L),
      deletionVectors = true)
    val e3 = VersionedTable.readEntries(spark, t, 3)
    val sidecars3 = e3.flatMap(_.dv.map(_._1)).distinct
    assert(sidecars3.size == 1, s"one sidecar per commit: $sidecars3")
    val coords = spark.read.parquet(s"$t/${sidecars3.head}")
      .select("file", "pos").as[(String, Long)].collect().toSeq
    assert(coords.size == coords.distinct.size,
      s"a sidecar must be an exact SET of (file, pos): $coords")
    // nDeleted bookkeeping stays exact under the absorb
    assert(e3.map(_.dv.map(_._2).getOrElse(0L)).sum == 5L,
      "five rows are dead in total across both files")
    // the v2→v3 feed is exactly v3's rows — a duplicated coordinate
    // would diverge the multiset diff and re-emit v1's deletes as
    // phantom CDC events
    val feed = VersionedTable.readChanges(spark, t, 3)
    assert(feed.where(col("_change_type") === "insert").isEmpty)
    assert(feed.where(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.toSeq == Seq(20L, 130L),
      "the feed must emit ONLY v3's deletes, never absorbed history")
    // reads stay exact throughout
    assert(VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq ==
      (0L until 200L).filterNot(Set(10L, 110L, 120L, 20L, 130L)))
  }

  test("deletion vectors: broadcast mask lane equals the anti-join lane") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 300L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.deleteWhere(spark, t, col("id") % 3 === 0,
      deletionVectors = true)
    VersionedTable.deleteWhere(spark, t, col("id") === 7L,
      deletionVectors = true)
    val want = (0L until 300L).filter(i => i % 3 != 0 && i != 7L)
    def ids() = VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq
    // default: the broadcast map-side filter — NO join operator in
    // the plan, the mask test rides inside the scan's codegen stage
    val plan = VersionedTable.read(spark, t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dv_survives"),
      s"the mask must be the map-side filter expression:\n$plan")
    assert(!plan.toLowerCase.contains("join"),
      s"the broadcast lane must not plan a join:\n$plan")
    assert(ids() == want)
    // the oversized-mask fallback: force the anti-join lane and
    // compare — same rows, join present
    spark.conf.set("spark.graft.dv.broadcastMaxPositions", "0")
    try {
      val plan2 = VersionedTable.read(spark, t)
        .queryExecution.executedPlan.toString
      assert(plan2.toLowerCase.contains("join"),
        s"past the cap the mask must anti-join:\n$plan2")
      assert(ids() == want, "both lanes must answer identically")
    } finally spark.conf.unset("spark.graft.dv.broadcastMaxPositions")
    // DML discovery rides the same lane: a further DV delete over the
    // broadcast-masked base must not re-discover masked rows
    VersionedTable.deleteWhere(spark, t, col("id") % 5 === 0,
      deletionVectors = true)
    assert(ids() == want.filter(_ % 5 != 0))
  }

  test("materializeDvAbove: partial repair keeps shared-sidecar masks") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 200L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    // ONE delete, ONE sidecar shared by both files: D masked 60%,
    // F masked 2% — only D is past the bound
    VersionedTable.deleteWhere(spark, t,
      col("id") < 60 || col("id").isin(110L, 111L),
      deletionVectors = true)
    val want = (0L until 200L)
      .filterNot(i => i < 60 || i == 110L || i == 111L)
    def ids() = VersionedTable.read(spark, t).select("id").as[Long]
      .collect().sorted.toSeq
    val v = VersionedTable.materializeDvAbove(spark, t, 0.3)
    assert(v.nonEmpty, "60% masked must trigger at bound 0.3")
    val after = VersionedTable.readEntries(spark, t, v.get)
    // F carries BY REFERENCE with its vector intact (2% is healthy);
    // the rewritten replacement of D is vector-free
    assert(after.count(_.dv.nonEmpty) == 1,
      s"only the healthy file keeps its delta-sized mask: $after")
    assert(after.exists(e => e.dv.exists(_._2 == 2L)))
    assert(ids() == want, "the partial repair is value-invisible")
    // retention: the shared sidecar survives while F references it
    VersionedTable.expire(spark, t, keepLast = 1)
    VersionedTable.vacuumUnreferenced(spark, t, 0L)
    assert(ids() == want,
      "vacuum must keep a sidecar any live entry references")
    // under the bound everywhere: the policy no-ops
    assert(VersionedTable.materializeDvAbove(spark, t, 0.3).isEmpty)
  }

  /** Line `i` of table `t`'s version-`v` manifest. */
  private def manifestLine(t: String, v: Int, i: Int): String = {
    val src = scala.io.Source.fromFile(f"$t/_graft_log/v$v%05d.manifest")
    try src.getLines().drop(i).next() finally src.close()
  }

  /** The reader features version `v` declares (its `features:` line). */
  private def featuresOf(t: String, v: Int): Set[String] =
    manifestLine(t, v, 8).stripPrefix("features:") match {
      case "-" => Set.empty
      case f => f.split(',').toSet
    }

  // The name is kept from the retired `graft-vt-v6` header, which once
  // marked the two reader features checked here (deletion vectors and
  // column mapping); the mark is now the `features:` line under the one
  // header, and a hand-written v6 manifest is refused outright.
  test("manifest protocol: feature-bearing versions commit the v6 header") {
    import spark.implicits._
    val t = tmpTable()
    VersionedTable.commit(
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "s"),
      t, overwrite = true, statsCols = Seq("id"))
    assert(featuresOf(t, 0).isEmpty, "a feature-free version names none")
    // a deletion-vector entry is reader-affecting: a reader without DV
    // support would parse the entries cleanly and resurrect the
    // deleted rows — the feature name makes it refuse instead
    VersionedTable.deleteWhere(spark, t, col("id") === 3L,
      deletionVectors = true)
    assert(featuresOf(t, 1) == Set("deletionVectors"))
    // column mapping likewise (logical names over physical files)
    VersionedTable.renameColumn(spark, t, "s", "txt")
    assert(featuresOf(t, 2) == Set("deletionVectors", "columnMapping"))
    assert(VersionedTable.read(spark, t).count() == 39)
    assert(VersionedTable.versions(spark, t).size == 3)
    // compaction materializes the vectors but the mapping persists
    val cv = VersionedTable.compact(spark, t)
    assert(featuresOf(t, cv) == Set("columnMapping"))
    // an overwrite resets schema and vectors: no features again
    VersionedTable.commit((0L to 5L).toDF("id"), t, overwrite = true)
    assert(featuresOf(t, cv + 1).isEmpty)
    assert((0 to cv + 1).map(manifestLine(t, _, 0)).distinct ==
      Seq("graft-vt-v9"), "every version writes the one header")
    // the DV version re-tagged in the retired v6 layout (no features:
    // line) is refused by name rather than read as feature-free
    val dv = java.nio.file.Paths.get(f"$t/_graft_log/v00001.manifest")
    val lines = java.nio.file.Files.readAllLines(dv)
    lines.set(0, "graft-vt-v6")
    lines.remove(8)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(f"$t/_graft_log/v${cv + 2}%05d.manifest"),
      lines)
    val e = intercept[Exception](VersionedTable.versions(spark, t))
    assert(e.getMessage.contains("graft-vt-v6"), e.getMessage)
  }

  test("unit-tagged timestamp spans are named by the taggedSpans " +
      "feature") {
    import spark.implicits._
    val t = tmpTable()
    // a timestamp stats column records `T`-tagged span values — a
    // span-field alphabet a reader without tag support would crash
    // decoding ("bad span field") on ANY query; the feature name makes
    // it refuse up front instead
    // INT96 (the parquet default) carries no harvestable span — write
    // int64 micros so the ts column actually records tagged spans
    val prevTs = spark.conf.getOption(
      "spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val rows = (0L until 40L).map(i => (i,
      java.sql.Timestamp.valueOf(java.time.LocalDateTime
        .of(1995, 1, 1, 0, 0).plusHours(i))))
    try {
    VersionedTable.commit(rows.toDF("id", "ts"), t,
      overwrite = true, statsCols = Seq("id", "ts"))
    assert(featuresOf(t, 0) == Set("taggedSpans"))
    // current readers parse the tagged spans (and fold/prune on them)
    assert(VersionedTable.read(spark, t).count() == 40)
    VersionedTable.commit(rows.map(_._1).toDF("id"), t,
      overwrite = true, statsCols = Seq("id"))
    assert(featuresOf(t, 1).isEmpty, "a tag-free version names none")
    // segmented layout: the manifest's features cover the entries its
    // segments hold
    val t2 = tmpTable()
    val prev = VersionedTable.segmentThreshold
    VersionedTable.setSegmentThreshold(2)
    try {
      VersionedTable.commit(
        rows.toDF("id", "ts").repartitionByRange(3, col("id")),
        t2, overwrite = true, statsCols = Seq("id", "ts"))
      assert(featuresOf(t2, 0) == Set("taggedSpans", "segments"))
      assert(VersionedTable.segmentNames(spark, t2, 0).nonEmpty)
      assert(VersionedTable.read(spark, t2).count() == 40)
    } finally VersionedTable.setSegmentThreshold(prev)
    } finally prevTs match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  test("manifest reader refuses an unknown feature, a retired header, " +
      "a missing schema and a negative row count, by name") {
    import scala.jdk.CollectionConverters._
    // (case, v1 manifest from v0's lines, offender the refusal must
    // name, whether the fault sits in the header)
    val cases: Seq[(String, Vector[String] => Vector[String],
        Vector[String] => String, Boolean)] = Seq(
      ("unknown feature", _.updated(8, "features:fancyFeature"),
        _ => "fancyFeature", true),
      ("retired v2 header", m => Vector("graft-vt-v2", "overwrite",
        "txn:-") ++ m.drop(9).map(_.split('\t')(0)),
        _ => "graft-vt-v2", true),
      // the v4 layout: seven header lines, no pending:/features:
      ("retired v4 header", _.updated(0, "graft-vt-v4").patch(7, Nil, 2),
        _ => "graft-vt-v4", true),
      ("retired v7 header", _.updated(0, "graft-vt-v7").patch(8, Nil, 1),
        _ => "graft-vt-v7", true),
      ("missing schema", _.updated(5, "schema:-"), _ => "schema:-", true),
      ("negative row count",
        m => m.updated(9, m(9).split('\t').updated(1, "-1").mkString("\t")),
        m => m(9).split('\t')(0), false))
    cases.foreach { case (name, corrupt, offenderOf, inHeader) =>
      val t = tmpTable()
      VersionedTable.commit(df(0 until 10), t, overwrite = true,
        statsCols = Seq("id"))
      val log = new java.io.File(t, "_graft_log")
      val good = java.nio.file.Files.readAllLines(
        new java.io.File(log, "v00000.manifest").toPath).asScala.toVector
      val offender = offenderOf(good)
      java.nio.file.Files.write(
        new java.io.File(log, "v00001.manifest").toPath,
        corrupt(good).mkString("", "\n", "\n").getBytes("UTF-8"))
      def refuses(verb: String)(body: => Any): Unit = {
        val e = intercept[Exception](body)
        assert(e.getMessage.contains(offender),
          s"$name: $verb must refuse naming $offender: ${e.getMessage}")
      }
      refuses("read")(VersionedTable.read(spark, t))
      // `versions` reads headers only: an entry-line fault is the
      // body's, refused by every verb that reads the entries
      if (inHeader) refuses("versions")(VersionedTable.versions(spark, t))
      else assert(VersionedTable.versions(spark, t).size == 2)
      refuses("commit")(
        VersionedTable.commit(df(10 until 12), t, overwrite = false))
    }
  }

  test("recluster policy: manifest-only decay metric drives the repair") {
    import spark.implicits._
    val t = tmpTable()
    // clustered start: decay ~1 per the metric, policy leaves it alone
    VersionedTable.commit(
      (0L until 4000L).map(i => (i, s"r$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      t, overwrite = true, statsCols = Seq("id"))
    val d0 = VersionedTable.clusteringDecay(spark, t, "id").get
    assert(d0 < 1.5, s"clustered layout must score ~1 file: $d0")
    assert(VersionedTable.maintainClustering(spark, t, "id").isEmpty,
      "a healthy layout must not trigger a rewrite")
    // CDC-style decay: append whole-range slices (each new file spans
    // everything — the silent skew steady merge traffic produces)
    for (k <- 0 until 4)
      VersionedTable.commit(
        (0L until 4000L by 4L).map(i => (i + k, s"u$i")).toDF("id", "s")
          .coalesce(1),
        t, overwrite = false)
    val nFiles = VersionedTable.readEntries(spark, t,
      VersionedTable.latestVersion(spark, t).get).size
    val d1 = VersionedTable.clusteringDecay(spark, t, "id").get
    assert(d1 > d0 + 3.0,
      s"whole-range appends must show as decay: $d0 -> $d1")
    // the policy measures, decides, and repairs in one call
    val rv = VersionedTable.maintainClustering(spark, t, "id",
      targetFileBytes = 16L * 1024)
    assert(rv.nonEmpty, s"decay $d1 over $nFiles files must trigger")
    val d2 = VersionedTable.clusteringDecay(spark, t, "id").get
    assert(d2 < 1.5, s"repair must restore ~1-file point cost: $d2")
    // content invisible + pruning restored
    assert(VersionedTable.read(spark, t).count() == 8000)
    val e2 = VersionedTable.readEntries(spark, t, rv.get)
    assert(VersionedTable.pruneEntries(e2, "id", 0L, 100L).size <
      e2.size || e2.size < 2)
    // repeated maintenance is a no-op until decay returns
    assert(VersionedTable.maintainClustering(spark, t, "id").isEmpty)
  }

  test("conditional-put releases its reservation when the upload fails") {
    import graft.operators.{CommitCoordinator, ConditionalPutCoordinator}
    import org.apache.hadoop.fs.{FileSystem, Path}
    val d = java.nio.file.Files.createTempDirectory("graft_cpc_").toFile
    d.deleteOnExit()
    val fs = new Path(d.getAbsolutePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val coord = new ConditionalPutCoordinator
    val dest = new Path(s"$d/m.manifest")
    // attempt 1: the tmp file does not exist, so the rename fails AFTER
    // the reservation is taken — the key must be released, not wedged
    intercept[java.io.IOException] {
      coord.tryPublish(fs, new Path(s"$d/.nope.tmp"), dest)
    }
    // attempt 2 (the retry): a real tmp file now publishes cleanly —
    // with a leaked reservation this would return false forever
    val tmp = new Path(s"$d/.real.tmp")
    val out = fs.create(tmp, true)
    try out.write("graft-vt-v4\n".getBytes("UTF-8")) finally out.close()
    assert(coord.tryPublish(fs, tmp, dest),
      "a failed upload must not permanently wedge the destination key")
    assert(fs.exists(dest))
  }

  test("entries cache: immutable manifests cached, recreate never stale") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val d = java.nio.file.Files.createTempDirectory("graft_ecache_").toFile
    d.deleteOnExit()
    val t = new java.io.File(d, "t").getAbsolutePath
    VersionedTable.commit(
      (0L until 10L).map(i => (i, s"a$i")).toDF("id", "s").coalesce(1),
      t, overwrite = true, statsCols = Seq("id"))
    VersionedTable.readEntries(spark, t, 0) // populate
    val before = VersionedTable.entriesCacheHits
    VersionedTable.readEntries(spark, t, 0)
    assert(VersionedTable.entriesCacheHits > before,
      "a re-read of an immutable manifest must hit the entries cache")
    // DROP + re-CREATE at the SAME path mints a new v0 manifest: the
    // (mtime, length)-keyed cache must never serve the old entries
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    VersionedTable.commit(
      (100L until 103L).map(i => (i, s"bbbb$i")).toDF("id", "s")
        .coalesce(1), t, overwrite = true, statsCols = Seq("id"))
    assert(VersionedTable.read(spark, t)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(100L, 101L, 102L),
      "recreated tables must read their own files, never cached ones")
    assert(VersionedTable.readEntries(spark, t, 0).size == 1)
  }
}
