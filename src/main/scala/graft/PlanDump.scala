package graft

/** Dev harness (not part of the driver contract): capture
  * `.explain("formatted")` for named queries into files, for the
  * plans/r{N}/ audit artifacts. Runs each query builder (so fixture
  * side effects happen exactly as in the bench) and writes the
  * RETURNED DataFrame's formatted plan.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-plandump")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
