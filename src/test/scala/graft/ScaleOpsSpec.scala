package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{SaltedJoin, Bucketing}
import graft.functions.VectorFunctions

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  test("native array_dot/array_norm/array_cosine: values and codegen") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
    val got = df.select(
      VectorFunctions.array_dot($"a", $"b").as("dot"),
      VectorFunctions.array_norm($"a").as("na"),
      VectorFunctions.array_cosine($"a", $"b").as("cos")).collect()
    assert(got(0).getDouble(0) == 32.0)
    assert(math.abs(got(0).getDouble(1) - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(got(0).getDouble(2) - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12)
    assert(got(1).getDouble(2) == 0.0)
    // null array propagates null
    val withNull = Seq((Seq(1.0), null.asInstanceOf[Seq[Double]]))
      .toDF("a", "b")
      .select(VectorFunctions.array_dot($"a", $"b")).collect()
    assert(withNull(0).isNullAt(0))
  }

  test("array expressions and text kernels usable from SQL, no registration call") {
    // the fixture is a GraftSession: GraftExtensions injects the array
    // functions at construction and getOrCreate registers the text UDFs
    val r = spark.sql(
      "SELECT array_dot(array(1d,2d), array(3d,4d)) AS d, " +
        "array_norm(array(3d,4d)) AS n, " +
        "array_cosine(array(1d,0d), array(1d,0d)) AS c").collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 5.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    // text kernels under their SQL names (same impls as the Column API)
    val t = spark.sql(
      "SELECT graft_tokens('A b, c') AS toks, " +
        "graft_dup_trigram_frac('x x x x x') AS d3, " +
        "graft_redact('mail a@b.io or +1-555-0100') AS red").collect()(0)
    assert(t.getSeq[String](0) == Seq("a", "b", "c"))
    assert(t.getDouble(1) == 1.0)
    assert(t.getString(2) == "mail [EMAIL] or [PHONE]")
  }

  test("salted join rejects outer join types (would duplicate right rows)") {
    val l = Seq((1L, "x")).toDF("k", "lv")
    val r = Seq((1L, "y"), (2L, "z")).toDF("k", "rv")
    val e = intercept[IllegalArgumentException](
      SaltedJoin(l, r, Seq("k"), 4, joinType = "full"))
    assert(e.getMessage.contains("salt-safe"))
    // left join stays supported: unmatched LEFT rows appear exactly once
    val lj = SaltedJoin(l, Seq((9L, "w")).toDF("k", "rv"), Seq("k"), 4, "left")
    assert(lj.count() == 1 && lj.collect()(0).isNullAt(2))
  }

  test("TopKPerKey drops null scores (window parity: nulls rank last)") {
    val df = Seq(
      (1L, Some(-5.0), 1L), (1L, None, 2L), (1L, Some(-7.0), 3L))
      .toDF("k", "score", "id")
    val got = graft.operators.TopKPerKey(df, Seq("k"), "score", "id", k = 2)
      .select("id", "rank").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // null-score row never enters; -5.0 ranks first even though a null
    // decoded as 0.0 would have beaten it
    assert(got == Map(1L -> 1, 3L -> 2))
  }

  test("salted join returns the identical multiset as the plain join") {
    // skewed left: key 1 dominates
    val left = ((1 to 1000).map(_ => (1L, "hot")) ++
      (1 to 50).map(i => (i.toLong % 7 + 2, s"cold$i"))).toDF("k", "lv")
    val right = (1 to 10).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).groupBy("k", "rv").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val salted = SaltedJoin(left, right, Seq("k"), saltFactor = 8)
      .groupBy("k", "rv").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("TopKPerKey matches the window row_number formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    val o = graft.queries.Tables.orders(spark, SparkFixture.sf0001)
    val viaAgg = graft.operators.TopKPerKey(
      o, Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)
      .select("o_custkey", "o_orderkey", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val viaWindow = o.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select("o_custkey", "o_orderkey", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaWindow)
    // and the plan aggregates partially (bounded shuffle), no Sort of
    // the full input before the exchange
    val df = graft.operators.TopKPerKey(
      o, Seq("o_custkey"), "o_totalprice", "o_orderkey", k = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial"), plan)
  }

  test("bucketed join plans without an Exchange (co-located)") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 10000).map(i => (i.toLong, i * 2)).toDF("k", "va")
      val b = (1 to 10000).map(i => (i.toLong, i * 3)).toDF("k", "vb")
      Bucketing.writeBucketed(a, "bk_a", Seq("k"), 8, sortCols = Seq("k"))
      Bucketing.writeBucketed(b, "bk_b", Seq("k"), 8, sortCols = Seq("k"))
      val joined = Bucketing.bucketedJoin(spark, "bk_a", "bk_b", Seq("k"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        "bucketed join must not shuffle:\n" + plan)
      assert(joined.count() == 10000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_a")
      spark.sql("DROP TABLE IF EXISTS bk_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
