package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, SimilaritySearch}

/** Data curation with the similarity/dedup operators: documents with
  * planted near-duplicates and embeddings expanded from seeded
  * perturbations of clustered base vectors. CPU-bound scoring kernels,
  * broadcast cross joins and `localCheckpoint` materialization do the
  * work; manifests are unused.
  *
  * Every op's output is checked against a driver-side reference computed
  * from the generated inputs alone: exact cosines and top-k lists, exact
  * Jaccard over word 3-gram shingles, and union-find components.
  * Comparisons allow for ties within 1e-6, where the engine and the
  * reference may order equal scores differently. */
final class MlCurate(perturb: Boolean) extends Workload {
  private val kinds = Seq("minhash", "embed_pairs", "components",
    "topk", "ivf_topk", "knn_mutual")

  private val Docs = 1500
  private val DupRate = 0.1
  private val Base = 500
  private val Copies = 4
  private val Queries = 64
  private val K = 10
  private val KnnK = 5
  private val Jaccard = 0.5
  private val Cosine = 0.95
  private val Eps = 1e-5

  private var spark: SparkSession = _
  private var seed = 0L
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var knnDf: DataFrame = _
  private var queries: DataFrame = _
  private var planted: Seq[(Long, Long)] = Nil
  private var vecs: Array[(Long, Array[Float])] = Array.empty
  private var texts: Map[Long, String] = Map.empty
  private var pairsDf: DataFrame = _

  // references
  private var refPairs: Set[(Long, Long)] = Set.empty
  private var refKeep: (Long, Long) = (0L, 0L)
  private var qIds: Array[Int] = Array.empty
  private var refTopK: Map[Long, Array[Double]] = Map.empty
  private var knnKth: Array[Double] = Array.empty
  private val recalls = mutable.ArrayBuffer.empty[Double]

  def setup(s: SparkSession, seed: Long, dir: String): Unit = {
    spark = s
    this.seed = seed
    val (d, p) = Gen.documents(s, seed, Docs, DupRate)
    d.write.parquet(s"$dir/documents.parquet")
    planted = p
    vecs = Gen.embeddings(seed, Base, Copies)
    Gen.embeddingsDf(s, vecs).write.parquet(s"$dir/embeddings.parquet")
    docs = s.read.parquet(s"$dir/documents.parquet")
    emb = s.read.parquet(s"$dir/embeddings.parquet")
    knnDf = emb.where(col("vec_id") % Copies === 0)
    val r = new scala.util.Random(seed)
    qIds = r.shuffle((0 until vecs.length).toVector).take(Queries).toArray
    queries = emb.where(col("vec_id").isin(qIds.map(vecs(_)._1): _*))
  }

  private def norm(v: Array[Float]): Double = math.sqrt(v.map(x => x.toDouble * x).sum)
  private def cos(a: Array[Float], b: Array[Float], na: Double, nb: Double): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
    d / (na * nb)
  }

  override def prepare(): Unit = {
    val t0 = System.nanoTime()
    val n = vecs.length
    val norms = vecs.map(v => norm(v._2))
    val idx = vecs.indices.map(i => vecs(i)._1 -> i).toMap
    // all pairs above the cosine threshold, in parallel over rows
    val found = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      var j = i + 1
      while (j < n) {
        if (cos(vecs(i)._2, vecs(j)._2, norms(i), norms(j)) >= Cosine - 1e-6)
          found.add((vecs(i)._1, vecs(j)._1))
        j += 1
      }
    }
    refPairs = found.toArray.map(_.asInstanceOf[(Long, Long)]).toSet
    // exact top-k score lists of the queries
    refTopK = qIds.map { q =>
      vecs(q)._1 -> vecs.indices.filter(_ != q)
        .map(j => cos(vecs(q)._2, vecs(j)._2, norms(q), norms(j)))
        .sorted(Ordering[Double].reverse).take(K).toArray
    }.toMap
    // k-th best cosine of every knn node
    val kn = vecs.indices.filter(i => vecs(i)._1 % Copies == 0).toArray
    knnKth = Array.fill(n)(Double.NaN)
    java.util.stream.IntStream.range(0, kn.length).parallel().forEach { a =>
      val i = kn(a)
      knnKth(i) = kn.filter(_ != i).map(j => cos(vecs(i)._2, vecs(j)._2, norms(i), norms(j)))
        .sorted(Ordering[Double].reverse).apply(KnnK - 1)
    }
    // pairs strictly inside both exact top-k lists must appear
    knnMust = (for {
      x <- kn.indices; y <- x + 1 until kn.length
      (i, j) = (kn(x), kn(y))
      c = cos(vecs(i)._2, vecs(j)._2, norms(i), norms(j))
      if c > knnKth(i) + Eps && c > knnKth(j) + Eps
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    order = {
      val r = new scala.util.Random(seed * 31L)
      (0 until 256).flatMap(_ => r.shuffle(kinds))
    }
    texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    this.idx = idx
    this.norms = norms
    refsS = (System.nanoTime() - t0) / 1e9
    // warm-up: every kind once; the checked minhash pairs become the
    // fixed input of the components op
    kinds.foreach { k =>
      val op = opOf(k)
      val v = op.run()
      op.check(v).foreach(e => sys.error(s"warm-up: $e"))
      if (k == "minhash" && pairsDf == null) {
        val mh = v.asInstanceOf[Array[Row]].map(r => Row(r.getLong(0), r.getLong(1)))
        pairsDf = spark.createDataFrame(java.util.Arrays.asList(mh: _*),
          org.apache.spark.sql.types.StructType.fromDDL("id_a BIGINT, id_b BIGINT")).localCheckpoint()
        refKeep = keepRef(mh.map(r => (r.getLong(0), r.getLong(1))).toSeq)
      }
    }
    warmedUp = true
  }
  private var idx: Map[Long, Int] = Map.empty
  private var warmedUp = false
  private var refsS = 0.0
  private var knnMust: Set[(Long, Long)] = Set.empty
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var norms: Array[Double] = Array.empty

  private def cosOf(a: Long, b: Long): Double = {
    val (i, j) = (idx(a), idx(b))
    cos(vecs(i)._2, vecs(j)._2, norms(i), norms(j))
  }

  private def shingles(t: String): Set[String] =
    t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(texts(a)), shingles(texts(b)))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** Keep-set (count, id-sum digest) by union-find: every doc but the
    * non-minimal members of each component. */
  private def keepRef(pairs: Seq[(Long, Long)]): (Long, Long) = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    val dropped = parent.keys.filter(x => find(x) != x).toSet
    val keep = texts.keys.filterNot(dropped.contains)
    (keep.size.toLong, keep.toSeq.map(x => x * x % 1000003L).sum)
  }

  private def topkCheck(rows: Array[Row], exact: Boolean): Option[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    if (byQ.size != Queries) return Some(s"${byQ.size} queries answered, want $Queries")
    byQ.collectFirst(Function.unlift { case (q, rs) =>
      val got = rs.sortBy(_.getInt(3))
      val ref = refTopK(q)
      if (got.length > K || exact && got.length != K) Some(s"query $q: ${got.length} rows")
      else if (got.exists(r => r.getLong(1) == q)) Some(s"query $q returned itself")
      else got.zipWithIndex.collectFirst(Function.unlift { case (r, i) =>
        val c = cosOf(q, r.getLong(1))
        // the self-test's perturbed reference is off by 0.01 after warm-up
        val shift = if (perturb && warmedUp) 0.01 else 0.0
        if (math.abs(r.getDouble(2) - c) > Eps) Some(s"query $q cand ${r.getLong(1)}: cosine ${r.getDouble(2)} != $c")
        else if (r.getInt(3) != i + 1) Some(s"query $q: rank ${r.getInt(3)} at ${i + 1}")
        else if (exact && math.abs(c - (ref(i) + shift)) > Eps) Some(s"query $q rank ${i + 1}: $c != ${ref(i) + shift}")
        else if (c > ref(i) + Eps) Some(s"query $q rank ${i + 1}: $c beats exact ${ref(i)}")
        else None
      })
    })
  }

  /** Seeded rotation: every kind once per cycle, in a fresh order. */
  override def cycleEnds(i: Int): Boolean = (i + 1) % kinds.size == 0
  def cycleSeconds: Double = 8.0
  def next(i: Int): Op = opOf(order(i % order.size))

  private def collect(span: String)(df: => DataFrame): Array[Row] = {
    val d = Trace.span(span)(df)
    Trace.span("plans.plan")(d.queryExecution.executedPlan)
    Trace.span("spark.exec")(d.collect())
  }

  private def opOf(kind: String): Op = kind match {
    case "minhash" => Op(kind, () => collect("ext.minhash")(
      Dedup.minhashLshPairs(docs, "doc_id", "text", Jaccard)), { v =>
      val rows = v.asInstanceOf[Array[Row]]
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val bad = rows.find(r => math.abs(r.getDouble(2) - jaccard(r.getLong(0), r.getLong(1))) > Eps ||
        r.getDouble(2) < Jaccard || r.getLong(0) >= r.getLong(1))
      val missed = planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(p => !got.contains(p) && jaccard(p._1, p._2) >= 0.8)
      if (bad.nonEmpty) Some(s"minhash pair ${bad.get} has the wrong Jaccard")
      else if (missed.nonEmpty) Some(s"minhash missed planted pairs ${missed.take(3)}")
      else None
    })
    case "embed_pairs" => Op(kind, () => collect("ext.embed_pairs")(
      Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", Cosine)), { v =>
      val rows = v.asInstanceOf[Array[Row]]
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      // pairs within 1e-6 of the threshold may fall either side
      val diff = (got diff refPairs) ++ (refPairs diff got)
      val real = diff.filter(p => math.abs(cosOf(p._1, p._2) - Cosine) > 1e-6)
      if (real.isEmpty) None else Some(s"embed_pairs differs from exact on ${real.take(3)}")
    })
    case "components" => Op(kind, () => Trace.span("ext.components") {
      val cc = Dedup.connectedComponents(pairsDf)
      val dropped = cc.where(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
      val keep = docs.select("doc_id").join(dropped, Seq("doc_id"), "left_anti")
      Trace.span("spark.exec")(keep.agg(count(lit(1)),
        sum(col("doc_id") * col("doc_id") % 1000003L)).head())
    }, { v =>
      val r = v.asInstanceOf[Row]
      if ((r.getLong(0), r.getLong(1)) == refKeep) None
      else Some(s"keep-set ${(r.getLong(0), r.getLong(1))} != $refKeep")
    })
    case "topk" => Op(kind, () => collect("ext.topk")(
      SimilaritySearch.bruteForceTopK(emb, queries, "vec_id", "embedding", K)),
      v => topkCheck(v.asInstanceOf[Array[Row]], exact = true))
    case "ivf_topk" => Op(kind, () => collect("ext.ivf_topk")(
      SimilaritySearch.ivfTopK(emb, queries, "vec_id", "embedding", K)), { v =>
      val rows = v.asInstanceOf[Array[Row]]
      recalls += rows.count(r => cosOf(r.getLong(0), r.getLong(1)) >=
        refTopK(r.getLong(0))(K - 1) - Eps).toDouble / (Queries * K)
      topkCheck(rows, exact = false)
    })
    case "knn_mutual" => Op(kind, () => collect("ext.knn_mutual")(
      SimilaritySearch.ivfKnnMutual(knnDf, "vec_id", "embedding", KnnK,
        nCentroids = 8, nProbe = 8)), { v =>
      // nProbe = nCentroids: the exact mutual kNN graph
      val rows = v.asInstanceOf[Array[Row]]
      def kth(x: Long) = knnKth(idx(x))
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val unsound = rows.find { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val c = cosOf(a, b)
        a >= b || math.abs(r.getDouble(2) - c) > Eps || c < kth(a) - Eps || c < kth(b) - Eps
      }
      val degree = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).groupBy(identity)
        .collectFirst { case (x, xs) if xs.length > KnnK => x }
      if (unsound.nonEmpty) Some(s"knn_mutual pair ${unsound.get} is not mutual top-$KnnK")
      else if (degree.nonEmpty) Some(s"knn_mutual node ${degree.get} has > $KnnK neighbours")
      else knnMust.find(p => !got.contains(p)).map(p => s"knn_mutual missed mutual pair $p")
    })
  }

  override def artifact(): Map[String, Any] = Map(
    "docs" -> Docs, "planted_pairs" -> planted.size, "embeddings" -> vecs.length,
    "ref_cosine_pairs" -> refPairs.size, "keep_set" -> refKeep._1,
    "ivf_recall_at_k" -> Main.median(recalls.toSeq), "references_s" -> refsS)
}
