package org.apache.spark

/** Drains Spark's asynchronous listener bus, so a spec's listener has
  * seen every event of the jobs that already finished. The bus is
  * internal to Spark; this object lives in Spark's package to reach it. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
