package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed,
  * row id), so one seed always yields byte-identical tables whatever the
  * partitioning. Shapes and domains follow the engine's sf0.1 TPC-H-ish
  * fixture (the query builders and their DuckDB oracles assume them):
  * money columns are exact 2-decimal doubles and timestamps are
  * zone-less microseconds (`TIMESTAMP_NTZ` in parquet). */
object Gen {
  private def h(seed: Long, salt: String): Column =
    xxhash64(lit(seed), col("id"), lit(salt))
  /** Uniform long in [0, m). */
  private def uni(seed: Long, salt: String, m: Long): Column =
    pmod(h(seed, salt), lit(m))
  private def pick(seed: Long, salt: String, xs: Seq[String]): Column =
    element_at(typedLit(xs), (uni(seed, salt, xs.size.toLong) + 1).cast("int"))
  /** Exact 2-decimal double in [lo, hi) cents. */
  private def cents(seed: Long, salt: String, lo: Long, hi: Long): Column =
    (uni(seed, salt, hi - lo) + lo) / 100.0
  private def day(seed: Long, salt: String, from: String, days: Int): Column =
    date_add(lit(from).cast("date"), uni(seed, salt, days.toLong).cast("int"))
      .cast("timestamp").cast("timestamp_ntz")
  private def ids(s: SparkSession, n: Long): DataFrame = s.range(0, n, 1, 4).toDF()

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  /** The eight relational/event tables at scale factor `sf` (sf0.1 =
    * 600k lineitem rows); key domains scale with the referenced table. */
  def tables(s: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    def n(atSf01: Long): Long = math.max(1L, math.round(atSf01 * sf / 0.1))
    val (nCust, nSupp, nPart, nOrd) = (n(15000), n(1000), n(20000), n(150000))
    Seq(
    "region" -> ids(s, 5).select(col("id").cast("int").as("r_regionkey"),
      element_at(typedLit(Regions), (col("id") + 1).cast("int")).as("r_name")),
    "nation" -> ids(s, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")),
    "customer" -> ids(s, nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni(seed, "c_nat", 25).cast("int").as("c_nationkey"),
      cents(seed, "c_bal", -99999, 1000000).as("c_acctbal"),
      pick(seed, "c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
    "supplier" -> ids(s, nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni(seed, "s_nat", 25).cast("int").as("s_nationkey"),
      cents(seed, "s_bal", -99999, 1000000).as("s_acctbal")),
    "part" -> ids(s, nPart).select(col("id").as("p_partkey"),
      concat(pick(seed, "p_adj", Seq("blue", "old", "red", "small", "new",
        "large", "hot", "cold")), lit(" "), pick(seed, "p_noun", Seq(
        "widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), uni(seed, "p_brand", 25) + 1).as("p_brand"),
      pick(seed, "p_type", Seq("LARGE", "ECONOMY", "STANDARD", "SMALL",
        "MEDIUM", "PROMO")).as("p_type"),
      (uni(seed, "p_size", 50) + 1).cast("int").as("p_size"),
      ((col("id") % 1000) * 10 + 90000) / 100.0 as "p_retailprice"),
    "orders" -> orders(s, seed, sf),
    "lineitem" -> lineitem(s, seed, sf, 0L, n(600000)),
    "events" -> {
      // ts strictly increases with event_id (jitter < step): no ts ties
      val nEv = n(100000)
      val step = 30L * 86400 * 1000000 / nEv
      ids(s, nEv).select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * step +
          uni(seed, "e_ts", step)).cast("timestamp_ntz").as("ts"),
        uni(seed, "e_user", n(1500)).as("user_id"),
        pick(seed, "e_type", Seq("signup", "click", "error", "view",
          "purchase")).as("event_type"),
        cents(seed, "e_val", 0, 56022).as("value"),
        concat(lit("{\"k\": "), uni(seed, "e_k", 100), lit("}")).as("props"))
    })
  }

  def orders(s: SparkSession, seed: Long, sf: Double): DataFrame = {
    val nOrd = math.round(150000 * sf / 0.1)
    ids(s, nOrd).select(col("id").as("o_orderkey"),
      uni(seed, "o_cust", math.max(1L, math.round(15000 * sf / 0.1))).as("o_custkey"),
      pick(seed, "o_status", Seq("O", "F", "P")).as("o_orderstatus"),
      cents(seed, "o_price", 100191, 49999318).as("o_totalprice"),
      day(seed, "o_date", "1995-01-01", 2404).as("o_orderdate"),
      pick(seed, "o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
  }

  /** lineitem rows [from, until) of the seeded stream at scale `sf`;
    * `withId` keeps the row number as the unique key `l_id`. */
  def lineitem(s: SparkSession, seed: Long, sf: Double, from: Long, until: Long,
      withId: Boolean = false): DataFrame = {
    def n(atSf01: Long): Long = math.max(1L, math.round(atSf01 * sf / 0.1))
    s.range(from, until, 1, 4).select(
      (if (withId) Seq(col("id").as("l_id")) else Nil) ++ Seq(
      uni(seed, "l_order", n(150000)).as("l_orderkey"),
      uni(seed, "l_part", n(20000)).as("l_partkey"),
      uni(seed, "l_supp", n(1000)).as("l_suppkey"),
      (uni(seed, "l_line", 7) + 1).cast("int").as("l_linenumber"),
      (uni(seed, "l_qty", 50) + 1).cast("double").as("l_quantity"),
      cents(seed, "l_price", 90068, 10499991).as("l_extendedprice"),
      (uni(seed, "l_disc", 11) / 100.0).as("l_discount"),
      (uni(seed, "l_tax", 9) / 100.0).as("l_tax"),
      pick(seed, "l_rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, "l_ls", Seq("O", "F")).as("l_linestatus"),
      day(seed, "l_ship", "1995-01-02", 2498).as("l_shipdate")): _*)
  }

  /** Writes each table as one parquet file set `<dir>/<name>.parquet`. */
  def writeTables(s: SparkSession, seed: Long, sf: Double, dir: String): Unit =
    tables(s, seed, sf).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  private val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "ve",
      "zu", "ba", "do", "fe", "gi", "hu", "ja")
    for (a <- syl; b <- syl; c <- syl.take(8)) yield a + b + c
  }

  /** `n` documents of 30-60 words over a 2k-word Zipf-ish vocabulary. A
    * `dupRate` share are near-copies of an earlier document with ~2 % of
    * the words replaced (Jaccard over word 3-grams mostly >= 0.8); returns the docs and the planted (orig, copy)
    * pairs. */
  def documents(s: SparkSession, seed: Long, n: Int, dupRate: Double)
      : (DataFrame, Seq[(Long, Long)]) = {
    val r = new java.util.Random(seed * 7919 + 17)
    def word(): String = {
      val u = r.nextDouble()
      Vocab((u * u * Vocab.size).toInt)
    }
    val texts = new Array[Array[String]](n)
    val planted = Seq.newBuilder[(Long, Long)]
    var i = 0
    while (i < n) {
      texts(i) =
        if (i > 10 && r.nextDouble() < dupRate) {
          val src = r.nextInt(i)
          if (texts(src).length > 0) planted += ((src.toLong, i.toLong))
          texts(src).map(w => if (r.nextDouble() < 0.02) word() else w)
        } else Array.fill(30 + r.nextInt(31))(word())
      i += 1
    }
    val rows = texts.indices.map(j => Row(j.toLong, texts(j).mkString(" ")))
    val schema = StructType(Seq(StructField("doc_id", LongType, false),
      StructField("text", StringType, false)))
    (s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema),
      planted.result())
  }

  /** `base` 64-d float embeddings around 10 cluster centres, each
    * expanded into `copies` seeded perturbations (near-duplicate groups
    * of cosine ~0.99). Ids are base * copies + copy. */
  def embeddings(seed: Long, base: Int, copies: Int): Array[(Long, Array[Float])] = {
    val r = new java.util.Random(seed * 104729 + 3)
    val dim = 64
    val centres = Array.fill(10, dim)(r.nextGaussian())
    (0 until base).flatMap { b =>
      val c = centres(r.nextInt(10))
      val v = Array.tabulate(dim)(d => c(d) + 1.2 * r.nextGaussian())
      (0 until copies).map { k =>
        val p = if (k == 0) v else v.map(x => x + 0.08 * r.nextGaussian())
        ((b * copies + k).toLong, p.map(_.toFloat))
      }
    }.toArray
  }

  def embeddingsDf(s: SparkSession, vs: Array[(Long, Array[Float])]): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false)))
    s.createDataFrame(s.sparkContext.parallelize(
      vs.toSeq.map { case (id, v) => Row(id, v.toSeq) }, 4), schema)
  }
}
