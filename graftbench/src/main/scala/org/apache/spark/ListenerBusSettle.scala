package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every event
  * posted so far. The benchmark reads its listener's totals only after
  * this returns, so no event of a finished job can land in the next job's
  * window and no sleep is needed. Lives in this package because the bus
  * is Spark-private. */
object ListenerBusSettle {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
