package graft

import org.apache.spark.sql.functions._

/** Opt-in scale probe: synthesizes a larger corpus from the sf0.1
  * documents table (re-id'd copies with per-copy token mutation, so
  * near-dup structure survives without exact-dup explosion) and times
  * the dedup pipeline on it. Validates the SCALE.md claims at 10× the
  * bench scale factor on local hardware.
  *
  * Usage: runMain graft.ScaleProbe [copies] [stages]
  * (inputs from `SPARK_GRAFT_SF_DIR`, as for Bench; default sf0.1)
  * (stages: comma-separated from lsh,pipeline,pack,rank,winnow,range,
  * contam,bm25,profile,quant,surprisal,curriculum,asofskew,ivfups,
  * bpe,zorder,tdelete,asofnative,asofnativeskew,fuzzy,fuzzycap,
  * zonemap,incragg,triangles,vtstats,vtlog,vtmerge,vtplan,vttxn,
  * ivjoin,ivjoinprof; default = the r11 set — pass a filter so a
  * 100x run can probe one operator without paying the full suite.
  * Round-12 lanes (opt-in): fuzzycap (composite df-cap candidate
  * growth), vtplan (manifest planning at 100k/1M entries + entry
  * checkpoint), vttxn (multi-table txn overhead), ivjoin/ivjoinprof
  * (join-IVM economics + layout sweep).)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 10
    val stages: Set[String] =
      if (args.length > 1) args(1).split(',').toSet
      else Set("lsh", "pipeline", "pack", "rank", "winnow", "range",
        "contam", "bm25", "profile", "quant", "surprisal", "curriculum",
        "asofskew", "ivfups", "bpe", "zorder", "tdelete", "asofnative", "fuzzy", "vtstats", "vtlog", "vtmerge", "dv", "vtseg", "vtmeta", "vtanalyze", "dfp", "topk", "ndv")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-scaleprobe")
    // The corpus is built on first use: manifest-only stages read no
    // documents at all.
    lazy val docs =
      spark.read.parquet(s"$sfDir/documents.parquet")
    lazy val n = docs.count()
    // copy c: ids shifted by c*1e6; texts prefixed with a copy marker so
    // copies are near-dups of their original (high jaccard) rather than
    // exact dups — the worst case for the pair join.
    lazy val big = {
      val b = (0 until copies).map { c =>
        docs.select(
          (col("doc_id") + c * 1000000L).as("doc_id"),
          concat(lit(s"copymark$c "), col("text")).as("text"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] corpus: ${b.count()} docs (${n} x $copies)")
      b
    }
    // Replace the entry lines of table `t`'s inline v0 manifest with
    // synthetic `entries` (real codec), keeping the committed header —
    // the manifest format itself stays VersionedTable's alone.
    def spliceEntries(t: String, entries: Seq[String]): Unit = {
      val mf = new java.io.File(s"$t/_graft_log/v00000.manifest")
      val lines = {
        val src = scala.io.Source.fromFile(mf, "UTF-8")
        try src.getLines().toList finally src.close()
      }
      val nOld = lines.find(_.startsWith("nfiles:")).get
        .stripPrefix("nfiles:").toInt
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(mf), "UTF-8"), 1 << 20)
      try {
        lines.dropRight(nOld).foreach { l =>
          out.write(if (l.startsWith("nfiles:")) s"nfiles:${entries.size}"
            else l)
          out.write('\n')
        }
        entries.foreach { e => out.write(e); out.write('\n') }
      } finally out.close()
    }
    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    if (stages("lsh")) {
      val nPairs = time("minhashLshPairs")(
        graft.ext.Dedup.minhashLshPairs(big, "doc_id", "text", 0.5).count())
      println(s"[probe] pairs: $nPairs")
    }
    if (stages("pipeline")) {
      val keep = time("pipelineKeep (exact->lsh->clusters)")(
        graft.ext.Dedup.pipelineKeep(big, "doc_id", "text", 0.5).count())
      println(s"[probe] keep-set: $keep of ${n * copies}")
    }

    // Prefix-sum family at the same 10x corpus: one range exchange, no
    // window (SCALE.md GlobalRank row).
    lazy val withTokens = big.select(col("doc_id"),
      graft.ext.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      .localCheckpoint()
    if (stages("pack")) time("TokenPacker (concat-and-chunk, 2048)")(
      graft.operators.TokenPacker(withTokens, "n_tokens", 2048,
        Seq(col("doc_id"))).count())
    if (stages("rank")) time("GlobalRank.withRowNumber (global shuffle rank)")(
      graft.operators.GlobalRank.withRowNumber(withTokens, "pos",
        Seq(col("n_tokens"), col("doc_id"))).count())

    // Winnowing at the same corpus: fingerprinting is row-local (cost
    // linear in chars), and the candidate join is fp-bucketed — output
    // tracks planted near-dup pairs, never corpus². The copy marker
    // keeps copies NEAR-dups, so every shared >=40-char run across
    // copies surfaces pairs (quadratic in copies by construction, the
    // LSH-probe regime).
    if (stages("winnow")) {
    val fps = time("winnowFingerprints (k=25,w=16, row-local)")(
      big.select(col("doc_id"),
        explode(graft.ext.TextFunctions.winnowFingerprints(
          col("text"), 25, 16)).as("fp"))
        .localCheckpoint())
    println(s"[probe] fingerprints: ${fps.count()}")
    val nw = time("winnow candidate pairs (fp equi-join, >=3 shared)") {
      val l = fps.as("l"); val r = fps.as("r")
      l.join(r, col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
        .groupBy(col("l.doc_id"), col("r.doc_id"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 3).count()
    }
    println(s"[probe] winnow pairs: $nw")
    }

    // Contamination at copies×: bench slice = 250 docs of copy 0; every
    // other copy of those docs is a planted leak, so output grows
    // linearly in copies while the corpus side streams map-only against
    // the broadcast bench shingles.
    if (stages("contam")) {
      val nc = time("contaminationPairs (8-gram, 250-doc bench)")(
        graft.ext.Retrieval.contaminationPairs(big, "doc_id", "text",
          benchFlag = col("doc_id") < 250, n = 8).count())
      println(s"[probe] contamination pairs: $nc")
    }

    // BM25 at copies×: stats aggregates + one scoring scan + TakeOrdered.
    if (stages("bm25")) {
      val nb = time("bm25TopK (5 terms, k=100)")(
        graft.ext.Retrieval.bm25TopK(big, "doc_id", "text",
          Seq("spark", "query", "join", "vector", "hash"), k = 100).count())
      println(s"[probe] bm25 rows: $nb")
    }

    // Profiler at copies×: the melt-dedup distinct path (the Expand-free
    // plan) over a corpus whose distinct count grows with copies.
    if (stages("profile")) {
      val prof = time("ColumnProfiler (exact distinct, melt-dedup)")(
        graft.operators.ColumnProfiler.profile(big).collect())
      println(s"[probe] profile rows: ${prof.length}")
    }

    // Surprisal at copies×: one wordcount (vocab is FIXED as the corpus
    // replicates — the bounded-vocab premise) + one scoring scan.
    if (stages("surprisal")) {
      val ns = time("surprisal (unigram LM quality filter)")(
        graft.ext.Retrieval.surprisal(big, "doc_id", "text").count())
      println(s"[probe] surprisal rows: $ns")
    }

    // Curriculum at copies×: quality scan → bucketize → counts +
    // threshold filter (two actions over the checkpointed 3-col frame).
    if (stages("curriculum")) {
      val nc2 = time("curriculum (quality-stratified sample)") {
        val scored = big.select(col("doc_id"),
          graft.ext.TextFunctions.qualityScore(col("text")).as("q"))
        val bucketed = scored.withColumn("bucket",
          graft.operators.Bucketize(col("q"),
            Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0)))
          .localCheckpoint()
        graft.operators.BalancedSample(bucketed, "bucket",
          nPerCategory = Some(1000), idCols = Seq("doc_id")).count()
      }
      println(s"[probe] curriculum sample: $nc2")
    }

    // Quantized ANN at copies×: candidates grow linearly; 20 broadcast
    // queries; integer dot products.
    if (stages("quant")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val bigEmb = (0 until copies).map { c =>
        emb.select((col("vec_id") + c * 1000000L).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] embeddings: ${bigEmb.count()}")
      val q = bigEmb.where(col("vec_id") < 20)
      val nq = time("quantizedTopK (int8, k=10, 20 queries)")(
        graft.ext.SimilaritySearch.quantizedTopK(
          bigEmb, q, "vec_id", "embedding", k = 10).count())
      println(s"[probe] quantized top-k rows: $nq")
    }

    // Incremental index maintenance at copies×: the cost claim is that
    // an upsert tracks the CHANGE SET (touched cells × cell size), not
    // the index — measured against the full rebuild on the same corpus.
    if (stages("ivfups")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val bigEmb = (0 until copies).map { c =>
        emb.select((col("vec_id") + c * 1000000L).as("vec_id"),
          col("embedding"))
      }.reduce(_ union _).localCheckpoint()
      val n = bigEmb.count()
      val dir = java.nio.file.Files
        .createTempDirectory("probe_ivfups_").toString
      val nCells = 256
      val (scale, cs) = time(s"writeQuantizedIndex FULL BUILD ($n vecs)")(
        graft.ext.SimilaritySearch.writeQuantizedIndex(
          bigEmb, "vec_id", "embedding", dir, nCentroids = nCells,
          iters = 3))
      // FIXED-size change-set (~60 ops) however big the index grows —
      // the claim under test is that upsert cost tracks touched cells
      // (≤ |changes| of them), not index size. Random keys scatter, so
      // touched ≈ min(|changes|, nCells); keeping |changes| ≪ nCells
      // keeps the partition pruning visible at every scale.
      val mod = math.max(300L, n / 20)
      val changes = bigEmb.where(pmod(col("vec_id"), lit(mod)) === 0)
        .select(col("vec_id"), col("embedding"), lit("D").as("op"))
        .unionByName(bigEmb.where(pmod(col("vec_id"), lit(mod)) === 1)
          .select(col("vec_id"), reverse(col("embedding")).as("embedding"),
            lit("U").as("op")))
        .unionByName(bigEmb.where(pmod(col("vec_id"), lit(mod)) === 2)
          .select((col("vec_id") + copies * 1000000L).as("vec_id"),
            col("embedding"), lit("I").as("op")))
        .localCheckpoint()
      println(s"[probe] change set: ${changes.count()} ops")
      time("upsertQuantizedIndex (touched cells only)")(
        graft.ext.SimilaritySearch.upsertQuantizedIndex(
          changes, "vec_id", "embedding", "op", dir, scale, cs))
      println(s"[probe] post-upsert index rows: " +
        s"${spark.read.parquet(dir).count()}")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // Z-order layout at copies×: the claim is SCAN reduction — a
    // selective 2-dim predicate over the Morton-clustered layout reads
    // a fraction of the row groups the unsorted layout must, in any
    // parquet reader, with identical results.
    if (stages("zorder")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val bigLi = (0 until copies).map { c =>
        li.withColumn("l_orderkey", col("l_orderkey") + c * 100000000L)
      }.reduce(_ union _).localCheckpoint()
      val n = bigLi.count()
      val zDir = java.nio.file.Files
        .createTempDirectory("probe_zorder_z_").toString
      val pDir = java.nio.file.Files
        .createTempDirectory("probe_zorder_p_").toString
      time(s"ZOrder.write ($n rows, 64 files)")(
        graft.operators.ZOrder.write(
          bigLi, Seq("l_partkey", "l_suppkey"), zDir, numFiles = 64))
      time("plain write (unsorted baseline, 64 files)")(
        bigLi.repartition(64).write.mode("overwrite").parquet(pDir))
      val bounds = bigLi.agg(max("l_partkey"), max("l_suppkey")).collect()(0)
      val (pk, sk) = (bounds.getLong(0) / 20, bounds.getLong(1) / 10)
      def scan(dir: String): (Long, Double) = {
        val r = spark.read.parquet(dir)
          .where(col("l_partkey") <= pk && col("l_suppkey") <= sk)
          .agg(count(lit(1)), sum("l_quantity")).collect()(0)
        (r.getLong(0), r.getDouble(1))
      }
      scan(zDir); scan(pDir) // warm file listings + code paths
      val rz = time("2-dim selective scan over Z-ORDERED layout")(scan(zDir))
      val rp = time("same scan over UNSORTED layout")(scan(pDir))
      require(rz == rp, s"layouts must be value-invisible: $rz vs $rp")
      println(s"[probe] selected ${rz._1} of $n rows " +
        f"(${100.0 * rz._1 / n}%.2f%%); identical results")
      // The reader-agnostic scan-volume contract: a file must be read
      // iff its per-file [min,max] box on the clustered dims overlaps
      // the predicate box (exactly what parquet stats pruning does).
      def mustRead(dir: String): (Long, Long) = {
        val f = spark.read.parquet(dir)
          .groupBy(input_file_name())
          .agg(min("l_partkey").as("pmin"), min("l_suppkey").as("smin"))
        (f.where(col("pmin") <= pk && col("smin") <= sk).count(), f.count())
      }
      val (zHit, zAll) = mustRead(zDir)
      val (pHit, pAll) = mustRead(pDir)
      println(s"[probe] files whose stats overlap the predicate box: " +
        s"z-ordered $zHit/$zAll vs unsorted $pHit/$pAll " +
        "(scan volume at 100 TB tracks this ratio)")
      Seq(zDir, pDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }

    // Targeted delete at copies×: the claim is that the REWRITE cost
    // tracks the affected files, and the layout decides how many those
    // are — a key-clustered layout (range-sorted) localizes a
    // contiguous key band into few files; the unsorted layout smears it
    // across all of them. Parquet column bloom filters are the
    // unclustered fallback for POINT deletes: row groups that can't
    // contain a key skip at discovery time without any clustering.
    if (stages("tdelete")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val bigLi = (0 until copies).map { c =>
        li.withColumn("l_orderkey", col("l_orderkey") + c * 100000000L)
      }.reduce(_ union _)
        .select("l_orderkey", "l_partkey", "l_quantity")
        .localCheckpoint()
      val n = bigLi.count()
      val sDir = java.nio.file.Files
        .createTempDirectory("probe_tdel_sorted_").toString
      val uDir = java.nio.file.Files
        .createTempDirectory("probe_tdel_unsorted_").toString
      val bDir = java.nio.file.Files
        .createTempDirectory("probe_tdel_bloom_").toString
      bigLi.repartitionByRange(64, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(sDir)
      bigLi.repartition(64).write.mode("overwrite").parquet(uDir)
      bigLi.repartition(64).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .parquet(bDir)
      // a contiguous band of ~200 keys (the clustered win) …
      val band: Seq[Any] = (500L to 699L).map(identity)
      val rs = time("TargetedDelete on RANGE-SORTED layout")(
        graft.operators.TargetedDelete(spark, sDir, "l_orderkey", band))
      val ru = time("TargetedDelete on UNSORTED layout")(
        graft.operators.TargetedDelete(spark, uDir, "l_orderkey", band))
      println(s"[probe] band delete files touched: " +
        s"sorted ${rs.filesTouched}/${rs.totalFiles} vs " +
        s"unsorted ${ru.filesTouched}/${ru.totalFiles} " +
        s"(${rs.rowsDeleted} rows) — rewrite volume tracks this ratio")
      // … and a POINT lookup on the unclustered layouts: bloom filters
      // vs plain stats (stats can't help — every file's [min,max]
      // spans the domain). Timing the discovery scan isolates the
      // row-group skip.
      def discover(dir: String, key: Long): Long =
        spark.read.parquet(dir).where(col("l_orderkey") === key)
          .select(input_file_name()).distinct().count()
      discover(uDir, 42L); discover(bDir, 42L) // warm listings
      val tu = time("point-key discovery scan, plain unsorted")(
        discover(uDir, 777L))
      val tb = time("point-key discovery scan, parquet BLOOM on key")(
        discover(bDir, 777L))
      println(s"[probe] point discovery found in $tu vs $tb files " +
        s"($n rows; bloom row-group skipping shows in the scan time)")
      Seq(sDir, uDir, bDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }

    // BPE kernel at copies×: row-local, memoized per task — the claim
    // is map-side flatness (cost ~ corpus chars, no shuffle at all).
    if (stages("bpe")) {
      val nTok = time("bpeTokenCount (pinned merges, memoized)")(
        big.agg(sum(graft.ext.Bpe.bpeTokenCount(col("text")))).collect()(0)
          .getLong(0))
      println(s"[probe] bpe tokens: $nTok")
    }

    // Keyless interval join at 10x events (the BNLJ-killer case).
    if (stages("range")) {
    val ev = graft.queries.Tables.events(spark, sfDir)
    val bigEv = (0 until copies).map { c =>
      ev.select((col("event_id") + c * 10000000L).as("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
    }.reduce(_ union _).localCheckpoint()
    println(s"[probe] events: ${bigEv.count()}")
    val halfH = 30L * 60 * 1000000
    val errs = bigEv.where(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("ts").as("e_ts"))
    val purch = bigEv.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    val nrj = time("RangeJoin keyless +-30min (bucketed)")(
      graft.operators.RangeJoin(errs, purch, Seq.empty,
        ("e_ts", "p_ts"), -halfH, halfH).count())
    println(s"[probe] range-join matches: $nrj")
    // The staged funnel at copies× events: three keyed RangeJoins +
    // distincts; cost tracks qualifying-pair volume per stage.
    val funnel = time("evFunnel (view->click->purchase, 30min stages)") {
      graft.queries.Events.funnelStages(bigEv).collect()
        .map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(" ")
    }
    println(s"[probe] funnel stages: $funnel")
    }

    // Window-skew probe: one pathological hot key (HALF of all events
    // remapped to user -1) through the as-of carry. The unsliced plan
    // serializes the hot key into ONE window task — AQE does NOT split
    // a Window partition (it splits shuffle-read partitions for
    // joins/aggs only) — while timeSliceMicros salts the carry into
    // (key, slice) groups plus a boundary repair. Equal counts assert
    // the semantic identity; the timing gap is the SCALE.md number.
    if (stages("asofskew")) {
      val ev0 = graft.queries.Tables.events(spark, sfDir)
      // Two skew regimes: "hot50" remaps half of all users onto one key
      // (a bot-dominated log); "hot100" remaps EVERYTHING onto one key
      // (the asymptote — the unsliced plan is then one serial sort with
      // every other core idle, the cluster-straggler shape in miniature).
      def run(label: String, hotCond: org.apache.spark.sql.Column): Unit = {
        val bigEv = (0 until copies).map { c =>
          ev0.select((col("event_id") + c * 10000000L).as("event_id"),
            col("ts"),
            when(hotCond, lit(-1L))
              .otherwise(col("user_id") + c * 1000000L).as("user_id"),
            col("event_type"), col("value"))
        }.reduce(_ union _).localCheckpoint()
        val hot = bigEv.where(col("user_id") === -1L).count()
        println(s"[probe] $label events: ${bigEv.count()} (hot key: $hot)")
        // Left = EVERY event (annotate each with its most recent prior
        // purchase) — the full hot-key volume flows through the window,
        // not just a thin error slice.
        val lefts = bigEv.select(col("user_id"), col("ts"), col("event_id"))
        val purch = bigEv.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("event_id").as("p_event_id"), col("value").as("p_value"))
        // Consume the carried values (count() alone lets ColumnPruning
        // delete the unused window — the probe would time nothing), and
        // checksum on DECIMAL so the compare is summation-order-free.
        def checksum(df: org.apache.spark.sql.DataFrame) = {
          val r = df.agg(count(lit(1)), count(col("asof_p_event_id")),
            sum(col("asof_p_value").cast("decimal(18,2)"))).collect()(0)
          (r.getLong(0), r.getLong(1), r.getDecimal(2))
        }
        // min-of-2 (codegen warmup + ambient noise swamp a one-shot)
        def time2[T](lbl: String)(body: => T): T = {
          val t0 = System.nanoTime(); body
          val w1 = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime(); val r = body
          val w2 = (System.nanoTime() - t1) / 1e9
          println(f"[probe] $lbl: ${math.min(w1, w2)}%.1f s (min of 2)")
          r
        }
        val csU = time2(s"$label AsOfJoin UNSLICED (one window task)")(
          checksum(graft.operators.AsOfJoin(lefts, purch, "user_id", "ts",
            Seq("p_event_id", "p_value"))))
        val csS = time2(s"$label AsOfJoin SLICED (6h slices + boundary)")(
          checksum(graft.operators.AsOfJoin(lefts, purch, "user_id", "ts",
            Seq("p_event_id", "p_value"),
            timeSliceMicros = Some(6L * 3600 * 1000000))))
        require(csU == csS,
          s"sliced/unsliced checksums diverge: $csU vs $csS")
        println(s"[probe] $label asof checksum: $csU (sliced == unsliced)")
        // The NATIVE operator under the same hot key: its
        // ClusteredDistribution(key) serializes the hot key into one
        // merge task exactly like the window — and its skew lever is
        // now the NATIVE sliced merge (composite (key, slice)
        // distribution + boundary repair; see `asofnativeskew` for the
        // dedicated asymptote probe). The pair of timings is SCALE.md's
        // native-operator hot-key number.
        val csN = time2(s"$label NATIVE MergeAsOf (hot key = one merge task)")(
          checksum(graft.plans.MergeAsOf.join(lefts, purch, "user_id", "ts",
            Seq("p_event_id", "p_value"))))
        val csNS = time2(s"$label NATIVE sliced merge (6h)")(
          checksum(graft.plans.MergeAsOf.join(lefts, purch, "user_id", "ts",
            Seq("p_event_id", "p_value"),
            timeSliceMicros = Some(6L * 3600 * 1000000))))
        require(csN == csU && csNS == csU,
          s"native hot-key checksums diverge: $csN / $csNS vs $csU")
        bigEv.unpersist()
      }
      run("hot50", pmod(col("user_id"), lit(2)) === 0)
      run("hot100", lit(true))
    }

    // Fuzzy (edit-distance) dedup at copies× on an entity-resolution
    // workload: each copy is a 1-substitution TYPO of its original's
    // key (not a prefix marker — that would shift every gram). The
    // maxGramDf cap must scale WITH the corpus (stop-gram df grows
    // linearly in copies; a fixed cap silently blocks everything —
    // measured 0 pairs at 10× with the sf0.01-tuned cap of 100), and
    // blocking volume then tracks Σ df(gram)² over surviving grams.
    if (stages("fuzzy")) {
      val typod = (0 until copies).map { c =>
        docs.select((col("doc_id") + c * 1000000L).as("doc_id"),
          concat(substring(col("text"), 1, 7 + c % 13), lit("z"),
            substring(col("text"), 9 + c % 13, 100000)).as("text"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] fuzzy corpus: ${typod.count()} typo'd keys")
      // Corpus-relative cap via the FRACTION knob. The default 0.2 is
      // pinned to the driver's 500-doc oracle fixture; on this 50k
      // corpus it would admit grams up to df=10k, and blocking cost is
      // Σ df² over surviving grams — a 10^8-pair join per boilerplate
      // gram (measured: GC-bound, not a regression but the knob's
      // worst case). The entity-resolution setting for a corpus this
      // size is a tighter fraction — 0.02 here reproduces the old
      // pro-rata absolute cap (1000) while staying scale-invariant:
      // at 100× the SAME fraction keeps the same relative blocking.
      val nf = time("fuzzyPairs (3-gram blocked, df <= 2% of corpus)")(
        graft.ext.Dedup.fuzzyPairs(typod, "doc_id", "text",
          maxGramDfFrac = 0.02).count())
      println(s"[probe] fuzzy pairs: $nf (each original's copies are " +
        "dist<=2 neighbors)")
    }

    // The fuzzyPairs DEFAULT-cap asymptote (VERDICT r11 "what's
    // wrong" #1): blocking candidate volume is Σ df·(df−1)/2 over
    // surviving grams, countable from the gram-df table WITHOUT
    // materializing the pair join. A frac-only cap (0.2·N) admits
    // grams whose per-gram fan-out is O(N²) — the cap GROWS the
    // quadratic term with the corpus — while the composite default
    // min(0.2·N, 10000) freezes any gram's fan-out at ceil² once
    // N > ceil/frac = 50k. Printed per scale: candidates under both
    // caps; the composite column must grow SUB-quadratically after
    // the ceiling binds.
    if (stages("fuzzycap")) {
      val gram3 = udf { (s: String) =>
        val t = if (s == null) "" else s.toLowerCase.take(80)
        if (t.length < 3) Seq.empty[String]
        else (0 to t.length - 3).map(i => t.substring(i, i + 3)).distinct
      }
      for (mult <- Seq(1, copies, 2 * copies)) {
        val corpus = (0 until mult).map { c =>
          docs.select((col("doc_id") + c * 1000000L).as("doc_id"),
            concat(substring(col("text"), 1, 7 + c % 13), lit("z"),
              substring(col("text"), 9 + c % 13, 200)).as("text"))
        }.reduce(_ union _)
        val nn = corpus.count()
        val fracCap = math.ceil(0.2 * nn).toLong
        val compCap = math.min(fracCap, 10000L)
        val dfs = corpus
          .select(explode(gram3(col("text"))).as("gr"), col("doc_id"))
          .groupBy(col("gr")).agg(count(lit(1)).as("d"))
          .localCheckpoint()
        def cands(cap: Long): Long = dfs.where(col("d") <= cap)
          .agg((sum(col("d") * (col("d") - 1)) / 2).cast("long"))
          .collect()(0).getLong(0)
        val (cf, cc) = (cands(fracCap), cands(compCap))
        println(s"[probe] fuzzycap ${mult}x: N=$nn fracCap=$fracCap " +
          s"compositeCap=$compCap candidates(frac)=$cf " +
          s"candidates(composite)=$cc")
        dfs.unpersist()
      }
    }

    // Native MergeAsOfExec vs declarative union+window at copies× —
    // same rows by construction (decimal checksum compared); the claim
    // is per-task memory (two retained rows vs the window's frame) and
    // the absence of the unioned null-padded frame.
    if (stages("asofnative")) {
      val ev0 = graft.queries.Tables.events(spark, sfDir)
      val bigEv = (0 until copies).map { c =>
        ev0.select((col("event_id") + c * 10000000L).as("event_id"),
          col("ts"), (col("user_id") + c * 1000000L).as("user_id"),
          col("event_type"), col("value"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] asofnative events: ${bigEv.count()}")
      val lefts = bigEv.select(col("user_id"), col("ts"), col("event_id"))
      val purch = bigEv.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      def checksum(df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)), count(col("asof_p_event_id")),
          sum(col("asof_p_value").cast("decimal(18,2)"))).collect()(0)
        (r.getLong(0), r.getLong(1), r.getDecimal(2))
      }
      def time2[T](lbl: String)(body: => T): T = {
        val t0 = System.nanoTime(); body
        val w1 = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime(); val r = body
        val w2 = (System.nanoTime() - t1) / 1e9
        println(f"[probe] $lbl: ${math.min(w1, w2)}%.1f s (min of 2)")
        r
      }
      val csD = time2("declarative AsOfJoin (union + window)")(
        checksum(graft.operators.AsOfJoin(lefts, purch, "user_id", "ts",
          Seq("p_event_id", "p_value"))))
      val csN = time2("native MergeAsOfExec (sort-merge pass)")(
        checksum(graft.plans.MergeAsOf.join(lefts, purch, "user_id", "ts",
          Seq("p_event_id", "p_value"))))
      require(csD == csN, s"native/declarative diverge: $csD vs $csN")
      println(s"[probe] asofnative checksum: $csN (native == declarative)")
      bigEv.unpersist()
    }

    // Hot-key skew on the NATIVE as-of: every event on ONE user —
    // unsliced, the merge serializes into one task; the sliced-native
    // lever (composite (key, slice) distribution + boundary repair)
    // must fan it out while staying checksum-identical.
    if (stages("asofnativeskew")) {
      val ev0 = graft.queries.Tables.events(spark, sfDir)
      val hot = (0 until copies).map { c =>
        ev0.select((col("event_id") + c * 10000000L).as("event_id"),
          col("ts"), lit(7L).as("user_id"), col("event_type"), col("value"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] asofnativeskew events on ONE key: ${hot.count()}")
      val lefts = hot.select(col("user_id"), col("ts"), col("event_id"))
      val purch = hot.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      def checksum(df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)), count(col("asof_p_event_id")),
          sum(col("asof_p_value").cast("decimal(18,2)"))).collect()(0)
        (r.getLong(0), r.getLong(1), r.getDecimal(2))
      }
      val slice = 6L * 3600 * 1000000
      val t0 = System.nanoTime()
      val csU = checksum(graft.plans.MergeAsOf.join(lefts, purch,
        "user_id", "ts", Seq("p_event_id", "p_value")))
      println(f"[probe] native UNSLICED on the hot key: ${(System.nanoTime() - t0) / 1e9}%.1f s (one task)")
      val t1 = System.nanoTime()
      val csS = checksum(graft.plans.MergeAsOf.join(lefts, purch,
        "user_id", "ts", Seq("p_event_id", "p_value"),
        timeSliceMicros = Some(slice)))
      println(f"[probe] native SLICED (6h slices): ${(System.nanoTime() - t1) / 1e9}%.1f s")
      require(csU == csS, s"sliced native diverges: $csU vs $csS")
      println(s"[probe] asofnativeskew checksum: $csS (sliced == unsliced)")
      hot.unpersist()
    }

    // Zone-map file pruning at copies× the row count, 64 files: the
    // claim is scan-planning cost — candidate files vs total, and the
    // pruned read vs the full-dir read for a selective band.
    if (stages("zonemap")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val bigLi = (0 until copies).map { c =>
        li.select((col("l_orderkey") + c * 100000000L).as("k"),
          col("l_quantity").as("q"))
      }.reduce(_ union _)
      val dir = java.nio.file.Files.createTempDirectory("probe_zmap_")
      time("zonemap: clustered write (64 files)")(
        bigLi.repartitionByRange(64, col("k")).sortWithinPartitions(col("k"))
          .write.mode("overwrite").parquet(dir.toString))
      time("zonemap: manifest build (one grouped agg)")(
        graft.operators.ZoneMapIndex.build(spark, dir.toString, Seq("k")))
      val cand = graft.operators.ZoneMapIndex.candidateFiles(
        spark, dir.toString, "k", 5000L, 25000L)
      println(s"[probe] zonemap candidates: ${cand.size}/64 files")
      val nPruned = time("zonemap: pruned band read")(
        graft.operators.ZoneMapIndex.prunedRead(spark, dir.toString,
          "k", 5000L, 25000L).count())
      val nFull = time("zonemap: full-dir band read (no manifest)")(
        spark.read.parquet(dir.toString)
          .where(col("k").between(5000L, 25000L)).count())
      require(nPruned == nFull, s"pruning changed the result: $nPruned != $nFull")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Incremental agg maintenance at copies×: fold ONE day-equivalent
    // delta into state built from the rest vs recompute over history —
    // the claim is O(|state|+|delta|) per apply, flat as history grows.
    if (stages("incragg")) {
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      val bigOrd = (0 until copies).map { c =>
        ord.select(col("o_orderpriority"),
          date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("o_totalprice"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] incragg history: ${bigOrd.count()} rows")
      val keys = Seq("o_orderpriority", "month")
      val delta = ord.select(col("o_orderpriority"),
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_totalprice")).limit(20000).localCheckpoint()
      val state = graft.operators.IncrementalAgg.partial(
        bigOrd, keys, Seq("o_totalprice")).localCheckpoint()
      time(s"incragg: fold 20k-row delta into ${state.count()}-group state")(
        graft.operators.IncrementalAgg.combine(state,
          graft.operators.IncrementalAgg.partial(delta, keys,
            Seq("o_totalprice")), keys).count())
      time("incragg: full recompute over history + delta")(
        graft.operators.IncrementalAgg.partial(
          bigOrd.unionAll(delta), keys, Seq("o_totalprice")).count())
      bigOrd.unpersist(); delta.unpersist()
    }

    // Triangle counting on the sf0.1 co-purchase graph (copies× via
    // disjoint graph copies — count scales linearly, wedge cost too).
    if (stages("triangles")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val liBig = (0 until copies).map { c =>
        li0.select((col("ok") + c * 100000000L).as("ok"),
          (col("pk") + c * 10000000L).as("pk"))
      }.reduce(_ union _)
      val e = liBig.as("a").join(liBig.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      val nt = time(s"triangles: ${copies}x co-purchase graph")(
        graft.operators.Triangles.count(e).head.getLong(0))
      println(s"[probe] triangles: $nt")
      val maxOut = graft.operators.Triangles.orient(
          graft.operators.Triangles.canonical(e))
        .groupBy("lo").agg(count(lit(1)).as("d")).agg(max("d"))
        .head.getLong(0)
      println(s"[probe] triangles: max oriented out-degree $maxOut " +
        "(the no-hub-reducer bound)")
    }

    // Tar-shard export throughput at copies× the corpus.
    if (stages("tarshards")) {
      val bigDocs = (0 until copies).map { c =>
        docs.select((col("doc_id") + c * 1000000L).as("doc_id"),
          col("text"), col("lang"), col("source"))
      }.reduce(_ union _)
      val dir = java.nio.file.Files.createTempDirectory("probe_tar_")
      time(s"tarshards: export ${copies}x docs to 32 shards")(
        graft.sources.TarShards.write(bigDocs, dir.toString, 32,
          "doc_id", "text"))
      val nBack = time("tarshards: distributed read-back")(
        graft.sources.TarShards.read(spark, dir.toString).count())
      println(s"[probe] tarshards roundtrip rows: $nBack")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Approx-distinct rewrite at copies×: exact count(DISTINCT hi-card
    // key) per group vs the HLL++ rewrite — the claim is shuffle sized
    // by GROUPS (sketches) instead of DATA (distinct pairs).
    if (stages("approxdistinct")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val bigLi = (0 until copies).map { c =>
        li.select(col("l_returnflag"),
          (col("l_orderkey") * 1000 + c).as("k"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] approxdistinct rows: ${bigLi.count()}")
      def q() = bigLi.groupBy(col("l_returnflag"))
        .agg(count_distinct(col("k")).as("nd"))
      val exact = time("exact count(DISTINCT) (shuffle = data)")(
        q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      spark.conf.set(graft.plans.ApproxDistinctRewrite.EnabledKey, "true")
      val est = try time("HLL++ rewrite (shuffle = groups)")(
        q().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      finally spark.conf.unset(graft.plans.ApproxDistinctRewrite.EnabledKey)
      est.foreach { case (k, e) =>
        val ex = exact(k).toDouble
        println(f"[probe] approxdistinct $k: est $e vs exact ${ex.toLong} (${(e / ex - 1) * 100}%.2f%%)")
        require(math.abs(e / ex - 1.0) <= 0.15, s"estimate out of contract for $k")
      }
      bigLi.unpersist()
    }

    // Quality audit at copies×: the one-scan claim measured against the
    // naive one-query-per-rule formulation.
    if (stages("qaudit")) {
      val bigDocs = (0 until copies).map { c =>
        docs.select((col("doc_id") + c * 1000000L).as("doc_id"),
          col("text"), col("lang"))
      }.reduce(_ union _).localCheckpoint()
      println(s"[probe] qaudit docs: ${bigDocs.count()}")
      val rules = Seq(
        "text_not_null" -> col("text").isNotNull,
        "text_nonempty" -> (length(col("text")) > 0),
        "lang_wellformed" -> length(col("lang")).between(2, 3),
        "id_nonneg" -> (col("doc_id") >= 0),
        "text_short" -> (length(col("text")) < 100000))
      time(s"QualityAudit: ${rules.size} rules, ONE scan")(
        graft.operators.QualityAudit.audit(bigDocs, rules).collect())
      time(s"naive: ${rules.size} rules, one scan EACH")(
        rules.foreach { case (_, pred) =>
          bigDocs.agg(sum(when(coalesce(pred, lit(false)), 0L)
            .otherwise(1L))).collect()
        })
      bigDocs.unpersist()
    }

    // Versioned-table commit economics at copies× history: an append
    // commit's cost is O(new files) renames + one manifest write —
    // flat as history grows — vs the rewrite a non-versioned "keep
    // history" table pays. Read resolves ONE manifest, no dir walk.
    if (stages("vtable")) {
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val dir = java.nio.file.Files.createTempDirectory("probe_vt_")
      val table = s"$dir/t"
      (0 until copies).foreach { c =>
        val gen = ord.select((col("o_orderkey") + c * 100000000L)
          .as("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        time(s"vtable: append commit gen $c")(
          graft.operators.VersionedTable.commit(gen, table,
            overwrite = false))
      }
      val delta = ord.limit(10000)
      time(s"vtable: small append after $copies generations (flat?)")(
        graft.operators.VersionedTable.commit(delta, table,
          overwrite = false))
      val n = time("vtable: latest read (one manifest, no dir walk)")(
        graft.operators.VersionedTable.read(spark, table).count())
      println(s"[probe] vtable latest rows: $n; versions: " +
        graft.operators.VersionedTable.versions(spark, table).size)
      time("vtable: the rewrite a manifest-less history table pays")(
        graft.operators.VersionedTable.read(spark, table)
          .write.mode("overwrite").parquet(s"$dir/rewrite"))
      time("vtable: expire to last 2 + vacuum")( {
        graft.operators.VersionedTable.expire(spark, table, keepLast = 2)
        graft.operators.VersionedTable.vacuumUnreferenced(spark, table, 0L)
      })
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Manifest file-stats economics: what the footer harvest costs at
    // commit time, and what the manifest-planned read earns back on a
    // selective range over a clustered layout — plus the incremental
    // since-version read vs the full re-read a manifest-less consumer
    // pays. The pruning ratio (files opened / files total) is the
    // number that scales: at 100 TB it is the scan volume.
    if (stages("vtstats")) {
      import graft.operators.VersionedTable
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val bigLi = (0 until copies).map { c =>
        li.withColumn("l_orderkey", col("l_orderkey") + c * 100000000L)
      }.reduce(_ union _).localCheckpoint()
      val n = bigLi.count()
      val dir = java.nio.file.Files.createTempDirectory("probe_vts_")
      val plain = s"$dir/plain"
      val stats = s"$dir/stats"
      val clustered = bigLi.repartitionByRange(64, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey").localCheckpoint()
      time(s"vtstats: commit $n rows / 64 files, NO stats")(
        VersionedTable.commit(clustered, plain, overwrite = true))
      time("vtstats: same commit + footer-stats harvest")(
        VersionedTable.commit(clustered, stats, overwrite = true,
          statsCols = Seq("l_orderkey")))
      // sum() a DATA column so the timing measures actual scan volume
      // (a bare count() resolves from parquet footers alone and would
      // understate both sides)
      val (lo, hi) = (500L, 2999L) // one generation's low band
      def full(): Double = VersionedTable.read(spark, stats)
        .where(col("l_orderkey").between(lo, hi))
        .agg(sum("l_quantity")).collect()(0).getDouble(0)
      def pruned(): Double = VersionedTable
        .prunedRead(spark, stats, "l_orderkey", lo, hi)
        .agg(sum("l_quantity")).collect()(0).getDouble(0)
      full(); pruned() // warm listings + code paths
      val a = time("vtstats: versioned read + filter (opens all footers)")(
        full())
      val b = time("vtstats: manifest-pruned read (overlapping files)")(
        pruned())
      require(a == b, s"pruning must be result-invisible: $a vs $b")
      val entries = VersionedTable.readEntries(spark, stats, 0)
      val kept = VersionedTable.pruneEntries(entries, "l_orderkey", lo, hi)
      println(s"[probe] vtstats: manifest kept ${kept.size}/" +
        s"${entries.size} files for the band")
      // incremental consumption: a small append, then the delta read
      // vs the full read the manifest-less consumer pays
      val delta = li.limit(200000)
      VersionedTable.commit(delta, stats, overwrite = false)
      val d = time("vtstats: readAppendsSince (file-diff delta, sum)")(
        VersionedTable.readAppendsSince(spark, stats, 0)
          .agg(sum("l_quantity")).collect()(0).getDouble(0))
      val f = time("vtstats: full latest-version re-read (sum baseline)")(
        VersionedTable.read(spark, stats)
          .agg(sum("l_quantity")).collect()(0).getDouble(0))
      println(s"[probe] vtstats: delta sum over 200k rows vs full " +
        s"sum over ${n + 200000} rows")
      // metadata-only answers vs the honest jobs: COUNT(*) and MIN/MAX
      // folded from ONE manifest read — zero files opened — against a
      // footer-resolved count() and a data-scanning min/max aggregate
      val mN = time("vtstats: countRows (manifest only)")(
        VersionedTable.countRows(spark, stats))
      val mSpan = time("vtstats: statsSpan (manifest only)")(
        VersionedTable.statsSpan(spark, stats, "l_orderkey").get.get)
      val sN = time("vtstats: honest count() (per-file footers)")(
        VersionedTable.read(spark, stats).count())
      val sSpan = time("vtstats: honest min/max (data scan)") {
        val r = VersionedTable.read(spark, stats)
          .agg(min("l_orderkey"), max("l_orderkey")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      require(mN == sN && mSpan == sSpan,
        s"metadata answers must be exact: $mN/$sN, $mSpan/$sSpan")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Commit-log cost over a LONG history: 1,000 versions at
    // streaming-sink cadence. The OVERWRITE lane keeps the manifest at
    // one line, isolating pure log work (one listing + checkpointed
    // txn probe + six-line header reads + manifest write) — this must
    // stay FLAT as history grows (pre-r11 it grew linearly per commit:
    // every commit parsed every manifest in full). The APPEND lane's
    // manifest is the full live-file snapshot, O(live files) by
    // design — bounded in practice by OPTIMIZE, reported here for
    // honesty, not flatness.
    if (stages("vtlog")) {
      import graft.operators.VersionedTable
      val dir = java.nio.file.Files.createTempDirectory("probe_vtlog_")
      val one = spark.range(1)
        .selectExpr("id", "cast(id as string) as s")
        .coalesce(1).localCheckpoint()
      def lane(name: String, nCommits: Int, window: Int,
          overwrite: Boolean): Unit = {
        val t = s"$dir/$name"
        val winMs = new scala.collection.mutable.ArrayBuffer[Double]()
        var t0 = System.nanoTime()
        (0 until nCommits).foreach { i =>
          VersionedTable.commit(one, t, overwrite = overwrite,
            txnId = Some(s"${name}_$i"))
          if ((i + 1) % window == 0) {
            winMs += (System.nanoTime() - t0) / 1e6 / window
            t0 = System.nanoTime()
          }
        }
        println(s"[probe] vtlog/$name: per-commit ms by $window-commit " +
          s"window: ${winMs.map(m => f"$m%.0f").mkString(", ")}")
        val (head, tail) = (winMs.take(3).min, winMs.takeRight(3).min)
        println(f"[probe] vtlog/$name: early-window min $head%.0f ms vs " +
          f"late-window min $tail%.0f ms (ratio ${tail / head}%.2f)")
        // a replayed txn from the BOTTOM of the history must resolve
        // through the checkpoint index, not a full-log scan
        val tr0 = System.nanoTime()
        require(VersionedTable.commit(one, t, overwrite = overwrite,
          txnId = Some(s"${name}_5")) == 5, "deep replay must no-op")
        println(f"[probe] vtlog/$name: deep-history txn replay no-op in " +
          f"${(System.nanoTime() - tr0) / 1e6}%.0f ms")
      }
      time("vtlog overwrite lane (1000 versions — must be flat)")(
        lane("ow", 1000, 100, overwrite = true))
      time("vtlog append lane (300 versions — O(live files) manifest)")(
        lane("ap", 300, 50, overwrite = false))
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Segmented-manifest economics: the append lane above is honest
    // about the inline layout's O(live files) manifest rewrite per
    // commit — this lane quantifies what the v7 segmented layout does
    // to it. A 512-file base table takes 60 single-file appends under
    // each layout; per-commit METADATA BYTES WRITTEN (log-dir growth:
    // manifest + fresh segments + checkpoints) and per-commit ms are
    // the comparison. At 100 TB (~800k files, ~100 B/entry ⇒ ~80 MB
    // inline manifest) the inline lane's per-commit write IS the
    // commit cost at streaming cadence; segmented writes the delta.
    if (stages("vtseg")) {
      import graft.operators.VersionedTable
      val dir = java.nio.file.Files.createTempDirectory("probe_vtseg_")
      val base = spark.range(512L * 100)
        .selectExpr("id", "cast(id as string) as s")
        .repartition(512).localCheckpoint()
      val one = spark.range(1)
        .selectExpr("id + 1000000 as id", "cast(id as string) as s")
        .coalesce(1).localCheckpoint()
      def logBytes(t: String): Long = {
        val d = new java.io.File(t, "_graft_log")
        if (!d.exists()) 0L else d.listFiles().map(_.length()).sum
      }
      def lane(name: String, threshold: Int): (Double, Double) = {
        val prev = VersionedTable.segmentThreshold
        VersionedTable.setSegmentThreshold(threshold)
        try {
          val t = s"$dir/$name"
          VersionedTable.commit(base, t, overwrite = true,
            statsCols = Seq("id"))
          val bytes = new scala.collection.mutable.ArrayBuffer[Long]()
          val t0 = System.nanoTime()
          (0 until 60).foreach { i =>
            val before = logBytes(t)
            VersionedTable.commit(one, t, overwrite = false,
              txnId = Some(s"${name}_$i"))
            bytes += logBytes(t) - before
          }
          val ms = (System.nanoTime() - t0) / 1e6 / 60
          val mb = bytes.sum / 60.0 / 1024 / 1024
          println(f"[probe] vtseg/$name: ${ms}%.1f ms/commit, " +
            f"${mb}%.3f MB metadata written/commit " +
            f"(min ${bytes.min / 1024}%d KB, max ${bytes.max / 1024}%d KB)")
          require(VersionedTable.read(spark, t).count() == 512L * 100 + 60,
            "both lanes must agree on content")
          (ms, mb)
        } finally VersionedTable.setSegmentThreshold(prev)
      }
      val (_, inlineMb) = time("vtseg inline lane (512-file base, 60 appends)")(
        lane("inline", Int.MaxValue))
      val (_, segMb) = time("vtseg segmented lane (same shape)")(
        lane("seg", 1))
      println(f"[probe] vtseg: metadata write ratio inline/segmented = " +
        f"${inlineMb / segMb}%.1f x")
      // READ lane: the 60-append segmented manifest (many segments —
      // ref-compaction bounds the count) must parse ~flat as segment
      // count grows. Cold reads (cache cleared) compare the
      // sequential loop against the bounded-parallel fetch; local
      // disk understates the win — each segment open is ~10-100 ms
      // on an object store, where parallel IO is the whole game.
      val segT = s"$dir/seg"
      val segV = VersionedTable.latestVersion(spark, segT).get
      val nSegs = VersionedTable.segmentNames(spark, segT, segV).size
      def readLane(name: String, threshold: Int): Double = {
        val prev = VersionedTable.parallelSegmentThreshold
        VersionedTable.parallelSegmentThreshold = threshold
        try {
          val runs = (0 until 5).map { _ =>
            VersionedTable.clearSegmentCache()
            VersionedTable.clearEntriesCache()
            val t0 = System.nanoTime()
            VersionedTable.readEntries(spark, segT, segV)
            (System.nanoTime() - t0) / 1e6
          }
          println(f"[probe] vtseg/read-$name: $nSegs%d segments, " +
            f"${runs.min}%.1f ms cold (min of 5)")
          runs.min
        } finally VersionedTable.parallelSegmentThreshold = prev
      }
      val seqMs = readLane("sequential", Int.MaxValue)
      val parMs = readLane("parallel", 1)
      println(f"[probe] vtseg: cold manifest read sequential/parallel " +
        f"= ${seqMs / parMs}%.1f x")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Metadata-aggregate economics: whole-table count folds to one
    // manifest read; a clustered range count scans ONLY its boundary
    // files. The twin table answers the same queries by scanning —
    // the gap is what a 100 TB table saves (per-file cost constant,
    // file count 12500x larger there).
    if (stages("vtmeta")) {
      import graft.operators.VersionedTable
      val dir = java.nio.file.Files.createTempDirectory("probe_vtmeta_")
      val t = s"$dir/t"
      val twin = s"$dir/twin"
      val n = 64L * 100000
      // ~100 incompressible bytes/row so the range scan reads real
      // data (~700 MB table): the boundary-vs-overlap gap must show
      // as bytes, not planning noise
      val rows = spark.range(n).selectExpr("id",
        "concat(cast(id as string), '_', md5(cast(id as string)), " +
          "'_', md5(cast(id + 1 as string))) as s")
        .repartitionByRange(64, col("id")).sortWithinPartitions("id")
      VersionedTable.commit(rows, t, overwrite = true,
        statsCols = Seq("id"))
      rows.write.mode("overwrite").parquet(twin)
      // steady-state min-of-2 (first run pays per-query codegen)
      def ms[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime(); val r0 = body
        val d0 = (System.nanoTime() - t0) / 1e6
        val t1 = System.nanoTime(); val r = body
        val d1 = (System.nanoTime() - t1) / 1e6
        require(r == r0, "unstable answer"); (r, math.min(d0, d1))
      }
      val (c1, m1) = ms(spark.sql(
        s"SELECT count(*) AS n FROM graft.`$t`").collect()(0).getLong(0))
      val (c2, m2) = ms(spark.read.parquet(twin).count())
      require(c1 == c2 && c1 == n, s"count mismatch: $c1 vs $c2")
      println(f"[probe] vtmeta: whole-table count $m1%.0f ms (ONE " +
        f"manifest read) vs $m2%.0f ms (64 footer reads — the scan " +
        "path pays one RPC per file: 12500x more of them at 800k files)")
      // SUM/AVG fold (round 17): whole-table Σ and mean answer from
      // the manifest's write-time per-file sums — zero data files
      // opened — vs the twin's full column scan
      val (s1, sm1) = ms(spark.sql(
        s"SELECT sum(id) AS s FROM graft.`$t`").collect()(0).getLong(0))
      val (s2, sm2) = ms(spark.read.parquet(twin)
        .selectExpr("sum(id) AS s").collect()(0).getLong(0))
      require(s1 == s2, s"sum mismatch: $s1 vs $s2")
      val (a1, am1) = ms(spark.sql(
        s"SELECT avg(id) AS a FROM graft.`$t`").collect()(0).getDouble(0))
      val (a2, _) = ms(spark.read.parquet(twin)
        .selectExpr("avg(id) AS a").collect()(0).getDouble(0))
      require(a1 == a2, s"avg mismatch: $a1 vs $a2")
      println(f"[probe] vtmeta: whole-table sum $sm1%.0f ms + avg " +
        f"$am1%.0f ms from the manifest's write-time Σ ledger vs " +
        f"$sm2%.0f ms for the full column scan — the write-side " +
        "harvest price buys every later profiling sum")
      val (lo, hi) = (n / 4, 3 * n / 4)
      val q = s"WHERE id >= $lo AND id < $hi"
      val dfb = spark.sql(s"SELECT count(*) AS n FROM graft.`$t` $q")
      val (c3, m3) = ms(spark.sql(
        s"SELECT count(*) AS n FROM graft.`$t` $q").collect()(0).getLong(0))
      // the FAIR baseline is the engine's own span-pruned scan (the
      // graft-vt FileIndex already lists only overlapping files) —
      // the fold's increment is skipping the overlap's INTERIOR
      val (c4, m4) = ms(spark.read.format("graft-vt").load(t)
        .where(s"id >= $lo AND id < $hi").count())
      require(c3 == c4 && c3 == hi - lo, s"range mismatch: $c3 vs $c4")
      def mb(files: Array[String]): Double = files.map { f =>
        (if (f.startsWith("file:")) new java.io.File(new java.net.URI(f))
         else new java.io.File(f)).length()
      }.sum / 1e6
      val overlap = VersionedTable.pruneEntries(
        VersionedTable.readEntries(spark, t, 0), "id", lo, hi - 1)
      println(f"[probe] vtmeta: mid-range count reads " +
        f"${dfb.inputFiles.length}%d boundary file(s), " +
        f"${mb(dfb.inputFiles)}%.0f MB ($m3%.0f ms) vs the span-pruned " +
        f"scan's ${overlap.size}%d-file overlap, " +
        f"${overlap.map(_.size).sum / 1e6}%.0f MB ($m4%.0f ms) — local " +
        "latency is planning-bound at page-cache speeds; the byte cut " +
        "is the cluster-side win (and grows with files per span)")
      // GROUPED fold: the per-band profiling query (GROUP BY day
      // shape) — the banded table is committed one file per band, so
      // every group answers from the manifest; the twin pays the
      // full shuffle-aggregate scan
      val tg = s"$dir/tg"
      val w = n / 64
      (0 until 64).foreach { b =>
        VersionedTable.commit(
          rows.where(col("id") >= b * w && col("id") < (b + 1) * w)
            .withColumn("band", expr(s"id div $w")).coalesce(1),
          tg, overwrite = b == 0,
          statsCols = if (b == 0) Seq("band", "id") else Seq.empty)
      }
      val gq = s"SELECT band, count(*) AS n, min(id) AS lo, " +
        s"max(id) AS hi FROM graft.`$tg` GROUP BY band"
      val (g1, gm1) = ms(spark.sql(gq).collect().length)
      val (g2, gm2) = ms(spark.read.parquet(twin)
        .withColumn("band", expr(s"id div $w"))
        .groupBy("band").agg(count(lit(1)), min(col("id")),
          max(col("id"))).collect().length)
      require(g1 == g2 && g1 == 64, s"group mismatch: $g1 vs $g2")
      println(f"[probe] vtmeta: 64-group profiling GROUP BY " +
        f"$gm1%.0f ms from the manifest (zero data files) vs " +
        f"$gm2%.0f ms for the full shuffle-aggregate scan — the fold " +
        "is O(files) driver work; the scan is O(rows) cluster work")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // PLAN-TIME cost of the universal clean-scan rewrite + metadata
    // folds at big-table metadata scale (VERDICT r16 #4): a 60k-entry
    // manifest (a ~7 TB table at 128 MB files) is FABRICATED — header
    // + synthetic entry lines in the real codec — because only the
    // OPTIMIZER ever runs here (plans are built, never executed), and
    // that is exactly the cost being measured: manifest parse,
    // per-file predicate classification, and the VtFileIndex the
    // rewrite builds per occurrence (twice for a self-join).
    if (stages("vtanalyze")) {
      import graft.operators.VersionedTable
      val dir = java.nio.file.Files.createTempDirectory("probe_vtplan_")
      val t = s"$dir/t"
      VersionedTable.commit(
        spark.range(10).selectExpr("id",
          "cast(id as string) as s"), t,
        overwrite = true, statsCols = Seq("id"))
      val nFiles = 60000
      val rowsPer = 1000000L
      val entries = (0 until nFiles).map { i =>
        val lo = i.toLong * rowsPer
        val hi = lo + rowsPer - 1
        f"v00000-part-$i%05d-synthetic.parquet\t$rowsPer%d\tL$lo%d" +
          f"\tL$hi%d\tz134217728\tu0\tm${(lo + hi) * rowsPer / 2}%d"
      }
      spliceEntries(t, entries)
      // the entries must NAME real files (relation construction
      // validates paths); hard-link one real data file 60k times —
      // nothing ever READS them (plans are built, not executed), the
      // recorded z-sizes drive planning
      val real = new java.io.File(t).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get.toPath
      (0 until nFiles).foreach { i =>
        java.nio.file.Files.createLink(java.nio.file.Paths.get(t,
          f"v00000-part-$i%05d-synthetic.parquet"), real)
      }
      def planMs(sql: String): Double = {
        val t0 = System.nanoTime()
        spark.sql(sql).queryExecution.optimizedPlan
        (System.nanoTime() - t0) / 1e6
      }
      val mid = nFiles.toLong * rowsPer / 2
      val selQ = s"SELECT id, s FROM graft.`$t` " +
        s"WHERE id >= $mid AND id < ${mid + 10}"
      val cntQ = s"SELECT count(*) AS n FROM graft.`$t` " +
        s"WHERE id >= $mid AND id < ${mid + 3 * rowsPer}"
      val joinQ = s"SELECT a.id FROM graft.`$t` a " +
        s"JOIN graft.`$t` b ON a.id = b.id WHERE a.id = $mid"
      // COLD: manifest parse + classification + index build
      VersionedTable.clearEntriesCache()
      VersionedTable.clearSegmentCache()
      val cold = planMs(selQ)
      // WARM: parsed entries cached — what EVERY LATER QUERY pays
      val warmSel = (1 to 3).map(_ => planMs(selQ)).min
      val warmCnt = (1 to 3).map(_ => planMs(cntQ)).min
      val warmJoin = (1 to 3).map(_ => planMs(joinQ)).min
      println(f"[probe] vtanalyze: $nFiles%d-entry manifest — " +
        f"statement plan time (analyze+optimize): cold $cold%.0f ms " +
        f"(one parse), warm $warmSel%.0f ms/query; metadata count " +
        f"WHERE $warmCnt%.0f ms; self-join (two rewrites, two " +
        f"VtFileIndex builds) $warmJoin%.0f ms — driver-side, zero " +
        "file opens and zero listing jobs")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Merge-discovery economics: keys SCATTERED over the keyspace (the
    // common CDC shape) make every file's span overlap the source's
    // [min,max] — the span prune keeps all 64 files — while the footer
    // blooms keep only the files that really hold a source key. The
    // probe measures the bloom layer's metadata pass against the exact
    // key probe it spares, then the full merge.
    if (stages("vtmerge")) {
      import graft.operators.VersionedTable
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("probe_vtm_")
      val t = s"$dir/t"
      val n = 64 * 100000
      // id i lands in file (i % 64): every file spans ~the whole range
      val rows = spark.range(n.toLong)
        .selectExpr("id", "cast(id as string) as s",
          "cast(id % 64 as int) as __f")
      VersionedTable.commit(
        rows.repartition(64, col("__f")).drop("__f"),
        t, overwrite = true, statsCols = Seq("id"))
      val entries = VersionedTable.readEntries(spark, t, 0)
      println(s"[probe] vtmerge: ${entries.size} files, $n rows")
      // a CDC batch of 1,000 keys all congruent 7 mod 64: ONE file
      // really holds them
      val keys = (0 until 1000).map(i => 7L + 64L * i)
      val spanKeep = VersionedTable.pruneEntries(entries, "id",
        keys.min, keys.max)
      println(s"[probe] vtmerge: span prune keeps ${spanKeep.size}/" +
        s"${entries.size} (scattered keys: blind)")
      val bloomKeep = time(
        s"vtmerge: bloom metadata pass over ${entries.size} files")(
        VersionedTable.bloomPrune(spark, t, entries, "id", keys))
      println(s"[probe] vtmerge: blooms keep ${bloomKeep.size}/" +
        s"${entries.size}")
      // what the bloom pass spares: the exact key probe over ALL files
      // vs over the bloom survivors
      val srcKeys = keys.toDF("id")
      def probeCost(es: Seq[VersionedTable.FileEntry]): Long = spark.read
        .parquet(es.map(e => s"$t/${e.name}"): _*)
        .select(col("id"), input_file_name().as("__f"))
        .join(srcKeys, Seq("id"), "left_semi")
        .select("__f").distinct().count()
      time(s"vtmerge: exact probe, NO bloom layer (${entries.size} files)")(
        probeCost(entries))
      time("vtmerge: exact probe after blooms " +
        s"(${bloomKeep.size} files)")(probeCost(bloomKeep))
      // end-to-end: the merge rewrites O(touched files)
      val src = spark.range(1000)
        .selectExpr("7 + 64 * id as id", "'upd' as s")
      val v = time("vtmerge: full mergeInto (1k scattered-congruent keys)")(
        VersionedTable.mergeInto(spark, t, src, Seq("id")))
      val carried = VersionedTable.files(spark, t, v).toSet
        .intersect(VersionedTable.files(spark, t, 0).toSet)
      println(s"[probe] vtmerge: ${carried.size}/${entries.size} files " +
        "carried by reference through the merge")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // DELETION VECTORS vs rewrite on the WORST layout: ids scattered
    // mod 64, so an off-cluster predicate/key set touches EVERY file.
    // Measures wall time and BYTES WRITTEN for (a) rewrite delete vs
    // DV delete, (b) rewrite merge vs DV merge, plus the masked-read
    // overhead a DV'd table pays per full scan.
    if (stages("dv")) {
      import graft.operators.VersionedTable
      val dir = java.nio.file.Files.createTempDirectory("probe_dv_")
      val n = 64 * 100000
      def freshTable(name: String): String = {
        val t = s"$dir/$name"
        val rows = spark.range(n.toLong)
          .selectExpr("id", "cast(id as string) as s",
            "cast(id % 64 as int) as __f")
        VersionedTable.commit(
          rows.repartition(64, col("__f")).drop("__f"),
          t, overwrite = true, statsCols = Seq("id"))
        t
      }
      def newBytes(t: String, v: Int): Long = {
        val fs = new org.apache.hadoop.fs.Path(t).getFileSystem(
          spark.sessionState.newHadoopConf())
        val before = VersionedTable.files(spark, t, v - 1).toSet
        val fresh = (VersionedTable.files(spark, t, v).toSet -- before) ++
          VersionedTable.readEntries(spark, t, v)
            .flatMap(_.dv.map(_._1)).toSet
        fresh.toSeq.map(nm => fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$t/$nm")).getLen).sum
      }
      val pred = col("id") % 97 === 0 // off-cluster: every file matches
      val (ta, tb) = (freshTable("rw"), freshTable("dv"))
      val va = time("dv: REWRITE delete (id%97, 64/64 files touched)")(
        VersionedTable.deleteWhere(spark, ta, pred))
      println(f"[probe] dv: rewrite delete wrote ${newBytes(ta, va) / 1e6}%.1f MB")
      val vb = time("dv: DV delete (same predicate)")(
        VersionedTable.deleteWhere(spark, tb, pred,
          deletionVectors = true))
      println(f"[probe] dv: DV delete wrote ${newBytes(tb, vb) / 1e6}%.3f MB")
      time("dv: full masked count after the DV delete")(
        VersionedTable.read(spark, tb).count())
      time("dv: full count on the rewritten twin (baseline)")(
        VersionedTable.read(spark, ta).count())
      // counts under-report the masking overhead (a bare count reads
      // row-group metadata, not pages) — a data-reading aggregate is
      // the honest per-scan cost; second masked run rides the cached
      // broadcast mask (no sidecar collect job)
      time("dv: masked sum(id) (data-reading scan)")(
        VersionedTable.read(spark, tb).agg(sum("id")).collect())
      time("dv: masked sum(id), cached mask")(
        VersionedTable.read(spark, tb).agg(sum("id")).collect())
      time("dv: clean sum(id) on the rewritten twin")(
        VersionedTable.read(spark, ta).agg(sum("id")).collect())
      // merge: 1k keys stepping by 97 (coprime to the 64-way layout —
      // the residues sweep every file, the true off-cluster CDC shape)
      val src = spark.range(1000).selectExpr("7 + 97 * id as id",
        "'upd' as s")
      val vm = time("dv: REWRITE merge (1k scattered keys)")(
        VersionedTable.mergeInto(spark, ta, src, Seq("id")))
      println(f"[probe] dv: rewrite merge wrote ${newBytes(ta, vm) / 1e6}%.1f MB")
      val vn = time("dv: DV merge (same keys)")(
        VersionedTable.mergeInto(spark, tb, src, Seq("id"),
          deletionVectors = true))
      println(f"[probe] dv: DV merge wrote ${newBytes(tb, vn) / 1e6}%.3f MB")
      // value identity of the two lanes
      val a = VersionedTable.read(spark, ta)
      val b = VersionedTable.read(spark, tb)
      require(a.count() == b.count() &&
        a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "DV lane must be value-identical to the rewrite lane")
      println("[probe] dv: DV content == rewrite content (verified)")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Multi-table txn OVERHEAD: the atomic path must cost its
    // sequential equivalent plus one decision-file promote — never a
    // second write of the data. 4 tables × (copies×10k)-row appends,
    // sequential commits vs one MultiTableTxn; content equality
    // asserted, wall times printed for the delta.
    // Join-IVM asymptote: maintaining L ⋈ R through a SMALL CDC window
    // must cost O(delta + pruned slices), not O(|L ⋈ R|). Build the
    // view over copies× orders ⋈ customer, land a 1k-row merge on each
    // side, then time ONE sync() against the full-join recompute of
    // the same final state (value equality asserted via counts).
    if (stages("ivjoin")) {
      import graft.operators.{IncrementalJoinView, VersionedTable}
      val dir = java.nio.file.Files.createTempDirectory("probe_ivj_")
      val (l, r, v) = (s"$dir/l", s"$dir/r", s"$dir/v")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      val bigL = (0 until copies).map { c =>
        ord.select((col("o_orderkey") + c * 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      }.reduce(_ union _)
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      VersionedTable.commit(bigL.repartitionByRange(32, col("o_custkey"))
        .sortWithinPartitions("o_custkey"), l,
        overwrite = true, statsCols = Seq("o_custkey"))
      VersionedTable.commit(cust.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions("c_custkey"), r,
        overwrite = true, statsCols = Seq("c_custkey"))
      val on = Seq("o_custkey" -> "c_custkey")
      println(s"[probe] ivjoin: |L| = ${copies}x orders")
      time("ivjoin: INIT (full join materialization)")(
        IncrementalJoinView.sync(spark, v, l, r, on,
          Seq("o_orderkey"), Seq("c_custkey")))
      // a small CDC window on BOTH sides
      VersionedTable.mergeInto(spark, l,
        bigL.limit(1000).withColumn("o_totalprice",
          col("o_totalprice") * 2), Seq("o_orderkey"))
      VersionedTable.mergeInto(spark, r,
        cust.limit(50).withColumn("c_name",
          concat(lit("u_"), col("c_name"))), Seq("c_custkey"))
      time("ivjoin: ONE sync over the 1k+50-row window (delta-sized)")(
        IncrementalJoinView.sync(spark, v, l, r, on,
          Seq("o_orderkey"), Seq("c_custkey")))
      val nView = time("ivjoin: view count")(
        VersionedTable.read(spark, v).count())
      // the honest alternative pays the full join AND the full view
      // REWRITE (a materialized view must land somewhere)
      val v2 = s"$dir/v2"
      time("ivjoin: FULL recompute + overwrite materialization")(
        VersionedTable.commit(
          VersionedTable.read(spark, l)
            .join(VersionedTable.read(spark, r),
              col("o_custkey") === col("c_custkey")),
          v2, overwrite = true))
      val nFull = VersionedTable.read(spark, v2).count()
      require(nView == nFull, s"IVM diverged: $nView vs $nFull")
      println(s"[probe] ivjoin: $nView pairs, view == recompute")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Join-IVM sync cost × SOURCE LAYOUT (where the seconds actually
    // go): the CDC merges by o_orderkey while the lane joins prune by
    // o_custkey — clustering L on either single column leaves the
    // other operation O(table) (off-cluster keys touch every file).
    // Three layouts probed: custkey-clustered, orderkey-clustered,
    // and Z-ORDER over both; per layout: the 1k-key merge, the change
    // feed, and the full sync().
    if (stages("ivjoinprof")) {
      import graft.operators.{IncrementalJoinView, VersionedTable}
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      val bigL = (0 until copies).map { c =>
        ord.select((col("o_orderkey") + c * 10000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      }.reduce(_ union _).localCheckpoint()
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_name"))
      val cdcL = bigL.limit(1000).withColumn("o_totalprice",
        col("o_totalprice") * 2).localCheckpoint()
      for ((layoutName, layout) <- Seq(
        "custkey-clustered" ->
          ((df: org.apache.spark.sql.DataFrame) =>
            df.repartitionByRange(32, col("o_custkey"))
              .sortWithinPartitions("o_custkey")),
        "orderkey-clustered" ->
          ((df: org.apache.spark.sql.DataFrame) =>
            df.repartitionByRange(32, col("o_orderkey"))
              .sortWithinPartitions("o_orderkey")),
        "z-ordered(order,cust)" ->
          ((df: org.apache.spark.sql.DataFrame) => {
            val z = graft.operators.ZOrder.zValue(df,
              Seq("o_orderkey", "o_custkey"), 256)
            df.withColumn("__z", z).repartitionByRange(32, col("__z"))
              .sortWithinPartitions("__z").drop("__z")
          }))) {
        val dir = java.nio.file.Files.createTempDirectory("probe_ivjp_")
        val (l, r, v) = (s"$dir/l", s"$dir/r", s"$dir/v")
        VersionedTable.commit(layout(bigL), l, overwrite = true,
          statsCols = Seq("o_custkey", "o_orderkey"))
        VersionedTable.commit(cust.repartitionByRange(8, col("c_custkey"))
          .sortWithinPartitions("c_custkey"), r,
          overwrite = true, statsCols = Seq("c_custkey"))
        IncrementalJoinView.sync(spark, v, l, r,
          Seq("o_custkey" -> "c_custkey"),
          Seq("o_orderkey"), Seq("c_custkey")): Unit
        time(s"ivjoinprof[$layoutName]: L merge (1k keys)")(
          VersionedTable.mergeInto(spark, l, cdcL, Seq("o_orderkey")))
        VersionedTable.mergeInto(spark, r,
          cust.limit(50).withColumn("c_name",
            concat(lit("u_"), col("c_name"))), Seq("c_custkey")): Unit
        val touched = VersionedTable.files(spark, l, 0).toSet
          .diff(VersionedTable.files(spark, l, 1).toSet).size
        println(s"[probe] ivjoinprof[$layoutName]: merge rewrote " +
          s"$touched/32 files")
        time(s"ivjoinprof[$layoutName]: readChangesRange(L)")(
          VersionedTable.readChangesRange(spark, l, 0).count())
        time(s"ivjoinprof[$layoutName]: whole sync()")(
          IncrementalJoinView.sync(spark, v, l, r,
            Seq("o_custkey" -> "c_custkey"),
            Seq("o_orderkey"), Seq("c_custkey")))
        org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      }
    }

    if (stages("vttxn")) {
      import graft.operators.{MultiTableTxn, VersionedTable}
      val dir = java.nio.file.Files.createTempDirectory("probe_vttxn_")
      val rows = copies * 10000
      def mk(tag: String): Seq[String] = (0 until 4).map { i =>
        val t = s"$dir/$tag$i"
        VersionedTable.commit(
          spark.range(1000).selectExpr("id", "'base' as s"), t,
          overwrite = true)
        t
      }
      val delta = spark.range(rows)
        .selectExpr("id + 1000000 as id", "'d' as s").localCheckpoint()
      val seqT = mk("s")
      time(s"vttxn: 4 sequential ${rows}-row append commits")(
        seqT.foreach(t => VersionedTable.commit(delta, t,
          overwrite = false)))
      val txnT = mk("x")
      time(s"vttxn: ONE atomic 4-table txn, same appends")(
        MultiTableTxn.commit(spark, txnT.map(t =>
          MultiTableTxn.TableWrite(delta, t, overwrite = false)),
          s"$dir/txns", "probe"))
      val a = seqT.map(t => VersionedTable.read(spark, t).count()).sum
      val b = txnT.map(t => VersionedTable.read(spark, t).count()).sum
      require(a == b, s"txn and sequential contents diverge: $a vs $b")
      println(s"[probe] vttxn: $b rows across 4 tables, both paths equal")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Driver-side manifest PLANNING at 100k files (VERDICT r11
    // missing #3): a 100 TB table at ~1 GB/file is ~100k manifest
    // entries, parsed on the driver per planned read. The probe
    // commits a tiny table and splices copies×10k synthetic entries
    // into its manifest (disjoint 1000-row id spans, recorded byte
    // sizes — so VtFileIndex plans with ZERO getFileStatus calls) and
    // times the three driver-side stages of a read: parse (readEntries), prune
    // (pruneEntriesWhere), and Catalyst listing (VtFileIndex
    // .listFiles with resolved data filters). The bar from the
    // verdict: planning should stay ~1 s at 100k entries.
    if (stages("vtplan")) {
      import graft.operators.VersionedTable
      val nFiles = copies * 10000
      val dir = java.nio.file.Files.createTempDirectory("probe_vtplan_")
      val t = dir.toString
      VersionedTable.commit(spark.range(1).toDF("id"), t,
        overwrite = true, statsCols = Seq("id"))
      spliceEntries(t, (0 until nFiles).map { i =>
        val lo = i.toLong * 1000
        s"part-$i.parquet\t1000\tL$lo\tL${lo + 999}\tz134217728"
      })
      def timeMin3[T](lbl: String)(body: => T): T = {
        var best = Double.MaxValue; var r: T = body
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime(); r = body
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        println(f"[probe] $lbl: $best%.3f s (min of 3)")
        r
      }
      // uncached: every timed call parses the manifest
      val entries = timeMin3(s"vtplan: readEntries ($nFiles entries)") {
        VersionedTable.clearEntriesCache()
        VersionedTable.readEntries(spark, t, 0)
      }
      require(entries.size == nFiles)
      val kept = timeMin3("vtplan: pruneEntriesWhere (narrow range)")(
        VersionedTable.pruneEntries(entries, "id", 5000000L, 5100000L))
      println(s"[probe] vtplan: prune keeps ${kept.size}/$nFiles")
      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
      import org.apache.spark.sql.types.LongType
      val idAttr = AttributeReference("id", LongType)()
      val filters = Seq(
        GreaterThanOrEqual(idAttr, Literal(5000000L)),
        LessThanOrEqual(idAttr, Literal(5100000L)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", LongType)))
      val idx = new graft.sources.VtFileIndex(spark, t, 0, entries, schema)
      val listed = timeMin3("vtplan: VtFileIndex.listFiles (pruned)")(
        idx.listFiles(Nil, filters))
      println(s"[probe] vtplan: listFiles planned " +
        s"${idx.lastPlannedFiles}/$nFiles files, " +
        s"sizeInBytes=${idx.sizeInBytes / (1L << 30)} GiB")
      require(listed.head.files.length == kept.size,
        "FileIndex and direct prune must agree")
      // the beyond-driver-scale path: parquet entry checkpoint, pruned
      // as a Spark job that collects only survivors
      val tc0 = System.nanoTime()
      VersionedTable.checkpointEntries(spark, t, 0): Unit
      println(f"[probe] vtplan: checkpointEntries (once per version): " +
        f"${(System.nanoTime() - tc0) / 1e9}%.3f s")
      val jobKept = timeMin3("vtplan: pruneEntriesJob (Spark job)")(
        VersionedTable.pruneEntriesJob(spark, t, 0, Seq(VersionedTable
          .ExactRange.between("id", 5000000L, 5100000L))).get)
      require(jobKept.toSet == kept.toSet,
        "job prune must equal driver prune")
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }

    // Round-18 lanes: join-key dynamic file pruning (files opened
    // with/without, star-join shape) and ORDER BY LIMIT top-k file
    // skipping, both on a 64-file ~700 MB versioned fact table.
    if (stages("dfp") || stages("topk") || stages("ndv")) {
      import graft.operators.VersionedTable
      val dir = java.nio.file.Files.createTempDirectory("probe_dfp_")
      val t = s"$dir/fact"
      val n = 64L * 100000
      val rows = spark.range(n).selectExpr("id",
        "concat(cast(id as string), '_', md5(cast(id as string)), " +
          "'_', md5(cast(id + 1 as string))) as s")
        .repartitionByRange(64, col("id")).sortWithinPartitions("id")
      VersionedTable.commit(rows, t, overwrite = true,
        statsCols = Seq("id"))
      def minOf3[A](body: => A): (A, Double) = {
        var best = Double.MaxValue; var r: A = body
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime(); r = body
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        (r, best)
      }
      if (stages("dfp")) {
        // a selective dimension: 50k contiguous keys in the middle
        // (past the IN-set cap, so the range path carries it)
        spark.range(n / 2, n / 2 + 50000).selectExpr("id AS dk")
          .where("dk % 1 = 0")
          .createOrReplaceTempView("probe_dim")
        val q = s"SELECT count(*) AS c FROM graft.`$t` f " +
          "JOIN probe_dim d ON f.id = d.dk"
        def files(): Int = spark.sql(q).inputFiles.length
        spark.conf.set("spark.graft.dfp.enabled", "false")
        val f0 = files()
        val (c0, t0) = minOf3(spark.sql(q).collect()(0).getLong(0))
        spark.conf.set("spark.graft.dfp.enabled", "true")
        val f1 = files()
        val (c1, t1) = minOf3(spark.sql(q).collect()(0).getLong(0))
        require(c0 == c1 && c0 == 50000L, s"dfp changed the answer: $c0 vs $c1")
        println(f"[probe] dfp: star join opens $f1/$f0 files " +
          f"with pruning on ($t1%.2f s) vs off ($t0%.2f s) — at 800k " +
          "files the unpruned side is the whole fact scan")
        require(f1 < f0, s"dfp must prune: $f1 vs $f0")
      }
      if (stages("ndv")) {
        val q = "SELECT approx_count_distinct(id) AS a " +
          s"FROM graft.`$t`"
        // the honest baseline: the engine's own versioned read (no
        // catalog, no fold rule) aggregating every row
        val (a0, t0) = minOf3(VersionedTable.read(spark, t)
          .agg(approx_count_distinct(col("id"))).collect()(0)
          .getLong(0))
        val (a1, t1) = minOf3(spark.sql(q).collect()(0).getLong(0))
        require(a0 == a1,
          s"ndv fold must be bit-identical to the scan: $a1 vs $a0")
        val f1 = spark.sql(q).inputFiles.length
        println(f"[probe] ndv: approx_count_distinct folds from the " +
          f"manifest in $t1%.3f s / $f1 files vs $t0%.2f s scanning " +
          "64 files — at 800k files the scan is the whole column read")
        require(f1 == 0, s"ndv fold must open no files: $f1")
      }
      if (stages("topk")) {
        val q = s"SELECT id, s FROM graft.`$t` " +
          "ORDER BY id DESC LIMIT 100"
        spark.conf.set("spark.graft.topk.enabled", "false")
        val f0 = spark.sql(q).inputFiles.length
        val (r0, t0) = minOf3(spark.sql(q).collect().map(_.getLong(0)).toSeq)
        spark.conf.set("spark.graft.topk.enabled", "true")
        val f1 = spark.sql(q).inputFiles.length
        val (r1, t1) = minOf3(spark.sql(q).collect().map(_.getLong(0)).toSeq)
        require(r0 == r1, "topk changed the answer")
        println(f"[probe] topk: ORDER BY DESC LIMIT 100 opens $f1/$f0 " +
          f"files with skipping on ($t1%.2f s) vs off ($t0%.2f s)")
        require(f1 < f0, s"topk must skip files: $f1 vs $f0")
      }
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    spark.stop()
  }
}
