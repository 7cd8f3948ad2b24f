package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action would miss its last stages. Draining the bus is
  * Spark-private, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
