package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus: task and
  * SQL events of an action may still be queued when the action returns, and
  * per-span metrics must include them. Lives in this package because
  * `listenerBus` is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
