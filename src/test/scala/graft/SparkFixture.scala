package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites run in a
  * forked JVM; getOrCreate dedups across suites), built by the same
  * preset users and the benchmark run. */
object SparkFixture {
  lazy val spark: SparkSession =
    GraftSession.getOrCreate("graft-test", Some("local[4]"))
  val sf0001 = "/root/testdata/sf0.001"

  /** Ids of the RDDs persisted right now. The context holds persisted
    * RDDs weakly, so any GC may drop one an earlier test left
    * unreferenced: a leak check compares ids, never counts. */
  def pinnedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The RDDs persisted since `start` (from [[pinnedIds]]) that are
    * still persisted, as debug strings. */
  def pinnedSince(start: Set[Int]): Seq[String] =
    spark.sparkContext.getPersistentRDDs.toSeq.collect {
      case (id, rdd) if !start(id) => rdd.toDebugString.take(300)
    }
}
