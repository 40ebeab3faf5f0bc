package org.apache.spark

/** Drains Spark's asynchronous listener bus, so counters a listener keeps
  * are complete for every job that has already finished. The bus is
  * internal to Spark; this object lives in Spark's package to reach it. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
