package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * `private[sql]`; extension libraries that ship custom Catalyst
  * expressions conventionally expose them via a small shim in the sql
  * package namespace (same approach as every third-party Spark
  * connector/extension). Nothing else in this repo lives outside the
  * `graft` namespace. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataType.asNullable is private[sql]; needed to compare schemas
    * modulo nested nullability. */
  def asNullable(dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = dt.asNullable

  /** A DataFrame's analyzed logical plan (Dataset.logicalPlan is
    * private[sql]) — the input side of custom-LogicalPlan composition. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Drop the blocks a `localCheckpoint` pinned; a frame that is not a
    * checkpoint is left alone. `SparkContext.unpersistRDD` is
    * private[spark]: unlike `RDD.unpersist` it does not warn that a
    * local checkpoint cannot be recomputed, which is the intent here. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ =>
    }

  /** Unload every state-store provider a stopped streaming query left
    * in the JVM-wide registry (StateStore.unloadAll is private[sql]).
    * Bench calls this between measurements so stale in-memory state
    * maps don't tax later queries' GC. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Re-tag a batch DataFrame as a STREAMING one (isStreaming=true) —
    * what a V1 streaming `Source.getBatch` must return.
    * `SparkSession.internalCreateDataFrame` is private[sql]; every V1
    * connector that materializes batches from an external log (the
    * FileStreamSource pattern) goes through it. The RDD is the batch
    * plan's, so execution stays lazy until the micro-batch runs. */
  def asStreamingFrame(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse of [[asStreamingFrame]]: re-tag a streaming
    * micro-batch Dataset as a BATCH frame — what a V1 `Sink.addBatch`
    * needs before handing the rows to batch-side writers (the incoming
    * Dataset's plan is streaming-tagged and refuses batch actions).
    * Rows are copied per partition: the incremental execution reuses
    * row buffers, and a downstream shuffle/collect would otherwise see
    * the last row repeated. */
  def asBatchFrame(df: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ds.queryExecution.analyzed match {
      // a frame [[asStreamingFrame]] built (a streaming-tagged
      // LogicalRDD): executing it as a batch would trip the
      // UnsupportedOperationChecker, so rewrap its row RDD directly
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.isStreaming =>
        ds.sparkSession.internalCreateDataFrame(
          lr.rdd.mapPartitions(_.map(_.copy())),
          df.schema, isStreaming = false)
      case _ =>
        ds.sparkSession.internalCreateDataFrame(
          ds.queryExecution.toRdd.mapPartitions(_.map(_.copy())),
          df.schema, isStreaming = false)
    }
  }

  /** Dataset.ofRows for a custom LogicalPlan (private[sql] in classic) —
    * the output side: wraps an injected logical node back into the
    * public DataFrame API. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A SECOND SparkSession on the same SparkContext with its own
    * [[org.apache.spark.sql.SparkSessionExtensions]] — what specs and
    * driver entries use to exercise construction-time-only injections
    * (a custom parser cannot be added to a live session; Spark builds
    * the session parser once). The classic constructor is
    * private[sql]; this bridge is the supported seam. */
  def sessionWithExtensions(
      sc: org.apache.spark.SparkContext,
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit):
      org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    // the 6-arg constructor is class-private; reflection is the one
    // stable seam (same arity since 3.x: sc, sharedState,
    // parentSessionState, extensions, initialOptions, managedJobTags)
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6)
      .getOrElse(throw new IllegalStateException(
        "classic.SparkSession: no 6-arg constructor"))
    ctor.setAccessible(true)
    ctor.newInstance(sc, None, None, ext,
      Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}
