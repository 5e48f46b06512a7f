package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before it
  * reads what its listeners collected for a pass. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
  def drainActive(): Unit = SparkContext.getActive.foreach(drain)
}
