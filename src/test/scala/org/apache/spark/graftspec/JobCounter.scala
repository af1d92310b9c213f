package org.apache.spark.graftspec

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Counts the Spark jobs a block of code starts, exactly: jobs are
  * tagged with a job group of their own, and the count is read only
  * after the (package-private) listener bus has delivered every event
  * the block caused. */
object JobCounter {
  def jobsIn(sc: SparkContext)(body: => Unit): Int = {
    val n = new AtomicInteger()
    inGroup(sc, group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          n.incrementAndGet(): Unit
    })(body)
    n.get
  }

  /** The rows the block's tasks read from their input sources (the
    * tasks' `inputMetrics.recordsRead`), counted the same way. */
  def recordsReadIn(sc: SparkContext)(body: => Unit): Long = {
    val n = new AtomicLong()
    inGroup(sc, group => new SparkListener {
      private val stages = java.util.concurrent.ConcurrentHashMap
        .newKeySet[Int]()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          stages.add(e.stageInfo.stageId): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          n.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
    })(body)
    n.get
  }

  private def inGroup(sc: SparkContext, listen: String => SparkListener)(
      body: => Unit): Unit = {
    val group = s"graft-jobcount-${System.nanoTime()}"
    val listener = listen(group)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
  }
}
