package org.apache.spark

/** Drains Spark's asynchronous listener bus, so a listener has seen
  * every event of the jobs that already finished — the exact boundary
  * a per-query job count or a listener-driven assertion needs. The bus
  * is internal to Spark; this object lives in Spark's package to reach
  * it. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
