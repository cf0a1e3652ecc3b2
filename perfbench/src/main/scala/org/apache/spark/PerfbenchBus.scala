package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced op's job, task and query events are all recorded before the op's
  * span closes. The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
