package org.apache.spark

/** Drains the listener bus so a traced run reads complete counts: the bus
  * delivers events asynchronously, and `waitUntilEmpty` is spark-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
