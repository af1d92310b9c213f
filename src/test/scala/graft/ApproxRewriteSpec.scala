package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.ApproxDistinctRewrite.{EnabledKey, RsdKey}

class ApproxRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark

  private def withFlag[T](rsd: Double = 0.05)(f: => T): T = {
    spark.conf.set(EnabledKey, "true")
    spark.conf.set(RsdKey, rsd.toString)
    try f finally {
      spark.conf.unset(EnabledKey); spark.conf.unset(RsdKey)
    }
  }

  private lazy val li =
    spark.read.parquet(s"${SparkFixture.sf0001}/lineitem.parquet")

  test("flag off: exact distinct, plan untouched") {
    val df = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_orderkey")).as("nd"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("approx_count_distinct"), plan)
    // exact value sanity anchor for the approx test below
    assert(df.agg(sum("nd")).head.getLong(0) > 0)
  }

  test("flag on: count(DISTINCT x) plans as HLL++, estimate in contract") {
    val exact = li.groupBy("l_returnflag")
      .agg(count_distinct(col("l_orderkey")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    withFlag() {
      val df = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_orderkey")).as("nd"))
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"),
        s"no sketch in plan:\n$plan")
      // the exact form plans an Expand (distinct rewrite) or keeps
      // isDistinct; the sketch must not
      assert(!df.queryExecution.executedPlan.toString.contains("Expand"),
        "sketch aggregate must be a plain one-pass aggregate")
      df.collect().foreach { r =>
        val est = r.getLong(1).toDouble
        val ex = exact(r.getString(0)).toDouble
        // rsd is one STANDARD DEVIATION of the estimator, not a hard
        // bound — gate at 3 sigma (deterministic given the data)
        assert(math.abs(est / ex - 1.0) <= 0.15,
          s"${r.getString(0)}: est $est vs exact $ex")
      }
    }
  }

  test("SQL text is rewritten too (the no-query-edit claim)") {
    li.createOrReplaceTempView("ar_li")
    val sqlText =
      "SELECT count(DISTINCT l_orderkey) AS nd FROM ar_li"
    val exact = spark.sql(sqlText).head.getLong(0)
    withFlag() {
      val df = spark.sql(sqlText)
      assert(df.queryExecution.optimizedPlan.toString
        .contains("approx_count_distinct"))
      val est = df.head.getLong(0).toDouble
      assert(math.abs(est / exact - 1.0) <= 0.15) // 3 sigma
    }
  }

  test("multi-column count(DISTINCT a, b) -> sketch over struct(a, b)") {
    val exact = li.select(col("l_orderkey"), col("l_linenumber"))
      .distinct().count()
    withFlag() {
      val multi = li.agg(
        count_distinct(col("l_orderkey"), col("l_linenumber")).as("nd"))
      val plan = multi.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"),
        s"no sketch in plan:\n$plan")
      assert(!multi.queryExecution.executedPlan.toString.contains("Expand"),
        "sketch aggregate must be a plain one-pass aggregate")
      val est = multi.head.getLong(0).toDouble
      assert(math.abs(est / exact - 1.0) <= 0.15, // 3 sigma
        s"est $est vs exact $exact")
    }
  }

  test("multi-column rewrite keeps SQL null semantics: any-null rows skip") {
    // count(DISTINCT a, b) counts only rows where EVERY argument is
    // non-null; a bare struct(a, b) would smuggle them in as non-null
    // tuples. The small cardinality keeps HLL++ in its exact sparse
    // range, so the assertion is equality, not a tolerance.
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 10L), (1L, 10L), (2L, null), (null, 20L), (null, null),
      (3L, 30L)).toDF("a", "b")
    val exact = df.agg(count_distinct(col("a"), col("b"))).head.getLong(0)
    assert(exact == 2L) // (1,10) and (3,30) only
    withFlag() {
      val est = df.agg(count_distinct(col("a"), col("b")).as("nd"))
      assert(est.queryExecution.optimizedPlan.toString
        .contains("approx_count_distinct"))
      assert(est.head.getLong(0) == exact,
        "null-argument rows must be skipped exactly like count(DISTINCT)")
    }
  }

  test("guards: sum(DISTINCT) stays exact") {
    withFlag() {
      val sumDist = li.agg(sum_distinct(col("l_linenumber")).as("sd"))
      assert(!sumDist.queryExecution.optimizedPlan.toString
        .contains("approx_count_distinct"), "sum(DISTINCT) must stay exact")
      assert(sumDist.head.getLong(0) ==
        li.select("l_linenumber").distinct()
          .agg(sum("l_linenumber")).head.getLong(0))
    }
  }

  test("FILTER'd distinct is sketched too, estimate in contract") {
    // the rule runs in the operator-optimization batch, ahead of
    // RewriteDistinctAggregates, so it sees the FILTER clause and keeps
    // it on the sketch
    val exact = li.where(col("l_returnflag") === "R")
      .select("l_orderkey").distinct().count()
    withFlag() {
      li.createOrReplaceTempView("ar_li2")
      val filtered = spark.sql(
        """SELECT count(DISTINCT l_orderkey)
          |  FILTER (WHERE l_returnflag = 'R') AS nd FROM ar_li2""".stripMargin)
      val plan = filtered.queryExecution.optimizedPlan.toString
      assert(plan.contains("approx_count_distinct"),
        s"no sketch in plan:\n$plan")
      val est = filtered.head.getLong(0).toDouble
      assert(math.abs(est / exact - 1.0) <= 0.15, // 3 sigma
        s"est $est vs exact $exact")
    }
  }
}
