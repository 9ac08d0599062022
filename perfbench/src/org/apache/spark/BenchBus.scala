package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run reads complete task and query metrics. Lives in Spark's
  * package because the bus is `private[spark]`. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
