package graft.sources

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}

import org.apache.spark.sql.connector.read.ScanBuilder

/** Execution-time scan refusal for SQL tables whose version the plain
  * file scan cannot answer honestly (deletion vectors to mask, mapped
  * columns to alias). The guard must NOT fire at plan time: Spark's
  * V2 pushdown builds a scan for the target relation of every DML
  * command too, and DML never executes it — the graft strategy lowers
  * the command onto the masking transactional verbs. So the builder
  * and the scan it builds are wrapped in dynamic proxies that keep
  * EVERY mixin interface of the real objects (filter/aggregate/limit
  * pushdown, reported statistics, runtime filtering — `instanceof`
  * checks keep passing and delegate through), and intercept only the
  * batch/stream MATERIALIZATION calls, which run exactly when a
  * SELECT would start reading rows. */
private[sources] object VtScanGuard {

  /** Every interface of `cls`'s hierarchy — Proxy needs the full
    * transitive set or `instanceof`-gated pushdown silently skips. */
  private def allInterfaces(cls: Class[_]): Array[Class[_]] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Class[_]]
    def walk(c: Class[_]): Unit = {
      if (c == null) return
      c.getInterfaces.foreach { i =>
        if (out.add(i)) walk(i)
      }
      walk(c.getSuperclass)
    }
    walk(cls)
    out.toArray
  }

  private def proxyOf(target: AnyRef,
      intercept: (Method, Array[AnyRef]) => Option[AnyRef]): AnyRef =
    Proxy.newProxyInstance(
      // graft's own loader: its parent sees every Spark interface the
      // target implements
      getClass.getClassLoader,
      allInterfaces(target.getClass),
      new InvocationHandler {
        override def invoke(p: AnyRef, method: Method,
            args: Array[AnyRef]): AnyRef =
          intercept(method, args).getOrElse {
            try method.invoke(target,
              (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          }
      })

  def guardBuilder(inner: ScanBuilder, refusal: String): ScanBuilder =
    proxyOf(inner, (m, args) =>
      if (m.getName == "build" && m.getParameterCount == 0)
        Some(guardScan(
          inner.build().asInstanceOf[AnyRef], refusal))
      else None).asInstanceOf[ScanBuilder]

  private val materializers =
    Set("toBatch", "toMicroBatchStream", "toContinuousStream")

  private def guardScan(scan: AnyRef, refusal: String): AnyRef =
    proxyOf(scan, (m, _) =>
      if (materializers(m.getName))
        throw new IllegalArgumentException(refusal)
      else None)
}
