package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev harness (not part of the driver contract): run one declared
  * query and print EVERY Spark job it launches with wall time and the
  * first line of its call site — shows how many jobs a procedural
  * entry pays and where the fixed per-job overhead concentrates.
  *
  * Usage: runMain graft.ProfileQ <q1[,q2,...]> [runs]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val runs = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-profileq")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))
            .orElse(Option(p.getProperty("spark.job.description"))))
          .orElse(js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')))
          .getOrElse("?")
        val stages = js.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n').take(60)}/${si.numTasks}t")
          .mkString(" | ")
        starts.put(js.jobId, (System.nanoTime(), s"$site  [$stages]"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, site) =>
          val dt = (System.nanoTime() - t0) / 1e9
          lines.add(f"[job] ${je.jobId}%4d ${dt}%8.3f s  $site")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Per-ACTION attribution (AQE splits one query into many anonymous
    // stage jobs; the query-execution listener sees the whole action
    // with its analyzed output — enough to identify the operator).
    val qlines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val out = qe.analyzed.output.map(_.name).take(5).mkString(",")
          qlines.add(f"[q] ${durationNs / 1e9}%8.3f s  $funcName([$out])")
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      (1 to runs).foreach { i =>
        lines.clear()
        qlines.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let listener events drain
        import scala.jdk.CollectionConverters._
        val ls = lines.asScala.toSeq
        if (i == runs && names.size == 1) ls.foreach(println)
        if (i == runs && names.size == 1) qlines.asScala.foreach(println)
        val jobSum = ls.map(_.split("\\s+")(2).toDouble).sum
        val qSum = qlines.asScala.toSeq
          .map(_.split("\\s+")(1).toDouble).sum
        println(f"[profq] $name run$i: wall=$wall%.2f s jobs=${ls.size} " +
          f"jobTimeSum=$jobSum%.2f s actionSum=$qSum%.2f s ($n rows)")
        spark.catalog.clearCache()
        org.apache.spark.sql.graftbridge.Bridge.unloadStateStores()
        System.gc()
      }
    }
    spark.stop()
  }
}
