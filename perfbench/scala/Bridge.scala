package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * the tracer must see every event of a phase before it reads totals. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
