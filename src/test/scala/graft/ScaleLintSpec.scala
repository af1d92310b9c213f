package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.ScaleLint

/** The advisory plan-time linter must flag the two classic laptop-only
  * plan shapes and stay silent on their scale-correct forms. */
class ScaleLintSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark = { val s = SparkFixture.spark; ScaleLint.attach(s); s }
  import spark.implicits._

  // The fixture session is shared across suites: detach so later suites
  // neither pay the rule nor pollute the global findings buffer.
  override def afterAll(): Unit = {
    ScaleLint.detach(spark)
    ScaleLint.clear()
  }

  private def lint[A](body: => A): Seq[ScaleLint.Finding] = {
    ScaleLint.clear()
    body
    ScaleLint.findings
  }

  test("unpartitioned window flags; partitioned window does not") {
    val df = (1 to 100).map(i => (i.toLong, i % 5)).toDF("v", "k")
    // consume rn — an unused window column is pruned before the lint
    val bad = lint {
      df.withColumn("rn",
        row_number().over(Window.orderBy(col("v"))))
        .agg(max(col("rn"))).head()
    }
    assert(bad.exists(_.kind == "unpartitioned-window"), bad)

    val good = lint {
      df.withColumn("rn",
        row_number().over(Window.partitionBy(col("k")).orderBy(col("v"))))
        .agg(max(col("rn"))).head()
    }
    assert(!good.exists(_.kind == "unpartitioned-window"), good)
  }

  test("cross join flags; equi-join does not") {
    val a = (1 to 10).toDF("x")
    val b = (1 to 10).toDF("y")
    val bad = lint { a.crossJoin(b).count() }
    assert(bad.exists(_.kind == "cross-join"), bad)

    val good = lint { a.join(b, col("x") === col("y")).count() }
    assert(!good.exists(_.kind == "cross-join"), good)
  }

  test("unclustered partitioned write flags; repartition(partitionCol) silences") {
    val df = (1 to 100).map(i => (i.toLong, i % 4)).toDF("v", "p")
      .repartition(4) // multiple input tasks, none clustered on p
    val dir = java.nio.file.Files.createTempDirectory("lint_pw_")
    val bad = lint {
      df.write.mode("overwrite").partitionBy("p")
        .parquet(dir.resolve("bad").toString)
    }
    assert(bad.exists(_.kind == "unclustered-partitioned-write"), bad)

    val good = lint {
      df.repartition(col("p")).write.mode("overwrite").partitionBy("p")
        .parquet(dir.resolve("good").toString)
    }
    assert(!good.exists(_.kind == "unclustered-partitioned-write"), good)

    // unpartitioned writes never flag
    val plain = lint {
      df.write.mode("overwrite").parquet(dir.resolve("plain").toString)
    }
    assert(!plain.exists(_.kind == "unclustered-partitioned-write"), plain)

    // groupBy(partitionCol) ALREADY hash-clusters on it: no flag
    val viaAgg = lint {
      df.groupBy(col("p")).agg(sum(col("v")).as("v"))
        .write.mode("overwrite").partitionBy("p")
        .parquet(dir.resolve("agg").toString)
    }
    assert(!viaAgg.exists(_.kind == "unclustered-partitioned-write"), viaAgg)

    // a join BELOW the write re-shuffles on ITS keys: an earlier
    // repartition(p) deeper in the tree must NOT silence the lint
    val dim = (0 until 4).map(i => (i, s"d$i")).toDF("p", "label")
    val viaJoin = lint {
      df.repartition(col("p")).join(dim, "p")
        .write.mode("overwrite").partitionBy("p")
        .parquet(dir.resolve("join").toString)
    }
    assert(viaJoin.exists(_.kind == "unclustered-partitioned-write"), viaJoin)

    // repartition on (other, p) scatters each p across tasks: flag
    val viaMixed = lint {
      df.repartition(col("v"), col("p"))
        .write.mode("overwrite").partitionBy("p")
        .parquet(dir.resolve("mixed").toString)
    }
    assert(viaMixed.exists(_.kind == "unclustered-partitioned-write"), viaMixed)
  }

  test("attach adds no second copy on a GraftExtensions session") {
    // the preset already runs the lint in AQE's runtime optimizer
    assert(!spark.experimental.extraOptimizations.contains(ScaleLint),
      spark.experimental.extraOptimizations)
  }

  test("the engine's own ranking operators stay lint-clean") {
    val df = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("v", "s")
    val fs = lint {
      graft.operators.GlobalRank.withRowNumber(df, "pos", Seq(col("v"))).count()
    }
    assert(!fs.exists(_.kind == "unpartitioned-window"), fs)
  }
}
