package org.apache.spark

/** Access to the live listener bus, which Spark keeps package-private:
  * the benchmark drains it before reading what its listeners saw. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
