package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites run in a
  * forked JVM; getOrCreate dedups across suites), built by the same
  * preset users and the benchmark run. */
object SparkFixture {
  lazy val spark: SparkSession =
    GraftSession.getOrCreate("graft-test", Some("local[4]"))
  val sf0001 = "/root/testdata/sf0.001"
}
