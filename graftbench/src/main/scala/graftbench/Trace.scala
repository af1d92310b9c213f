package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around each call the benchmark makes into a layer.
  * One client thread drives every op, so spans nest strictly and a
  * span's children never overlap: self time = duration - sum(children).
  * Spans stay in memory and are written when the run ends. */
object Trace {
  final case class Span(op: Long, id: Int, parent: Int, name: String,
      startNs: Long, endNs: Long)

  /** Whether spans are recorded: inside ops of a traced run. */
  var on = false
  var opId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(opId, id, parent, name, t0, System.nanoTime())
      }
    }

  /** Self time in ms per span name. */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[(Long, Int), Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0)
      childNs((s.op, s.parent)) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs((s.op, s.id))).sum / 1e6
    }
  }
}

/** Per-op Spark execution counters. Ops run under job group `op-<id>`;
  * jobs, stages and tasks are attributed to the op through that group. */
final class OpAcc {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val qes = mutable.ArrayBuffer.empty[QueryExecution]
}

final class OpListener extends SparkListener with QueryExecutionListener {
  val accs = new ConcurrentHashMap[String, OpAcc]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  /** Wall intervals (ms) of traced ops, to attribute query executions. */
  val opWindows = new ConcurrentHashMap[String, (Long, Long)]()

  private def acc(g: String): OpAcc = accs.computeIfAbsent(g, _ => new OpAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).foreach { g =>
        acc(g).synchronized { acc(g).jobs += 1 }
        e.stageIds.foreach(stageOp.put(_, g))
        jobStart.put(e.jobId, (g, e.time))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      acc(g).synchronized { acc(g).jobSpans += ((t0, e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { g =>
      acc(g).synchronized { acc(g).stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { g =>
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        if (e.reason != TaskSuccess) a.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** A query execution belongs to the traced op whose wall interval
    * holds its analysis start. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val t = qe.tracker.phases.get("analysis").map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    opWindows.asScala.find { case (_, (a, b)) => t >= a && t <= b }
      .foreach { case (g, _) => acc(g).synchronized { acc(g).qes += qe } }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Plan walks over executed (adaptive) plans. */
object Plans extends AdaptiveSparkPlanHelper {
  /** analysis + optimization + planning, ms. */
  def planMs(qe: QueryExecution): Double =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(p => p.endTimeMs - p.startTimeMs).sum.toDouble

  private def metric(p: SparkPlan, k: String): Option[Long] =
    p.metrics.get(k).map(_.value)

  /** (scan nodes, files opened) across file scans. */
  def scans(qe: QueryExecution): (Int, Long) = {
    val counts = collect(qe.executedPlan) {
      case s: FileSourceScanExec => metric(s, "numFiles").getOrElse(0L)
      case b: BatchScanExec => metric(b, "numFiles").getOrElse(
        b.inputPartitions.size.toLong)
    }
    (counts.size, counts.sum)
  }

  /** (rows kept, rows offered) summed over filters whose input has a
    * row count. */
  def filterRows(qe: QueryExecution): (Long, Long) = {
    val pairs = collect(qe.executedPlan) { case f: FilterExec =>
      val in = collectFirst(f.child) {
        case c if c.metrics.contains("numOutputRows") => metric(c, "numOutputRows").get
      }
      (metric(f, "numOutputRows").getOrElse(0L), in.getOrElse(-1L))
    }.filter(_._2 >= 0)
    (pairs.map(_._1).sum, pairs.map(_._2).sum)
  }

  def folded(qe: QueryExecution): Boolean =
    qe.optimizedPlan.collectLeaves().forall(_.isInstanceOf[LocalRelation])
}
