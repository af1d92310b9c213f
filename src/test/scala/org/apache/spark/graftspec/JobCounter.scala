package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts, exactly: jobs are
  * tagged with a job group of their own, and the count is read only
  * after the (package-private) listener bus has delivered every event
  * the block caused. */
object JobCounter {
  def jobsIn(sc: SparkContext)(body: => Unit): Int = {
    val group = s"graft-jobcount-${System.nanoTime()}"
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
