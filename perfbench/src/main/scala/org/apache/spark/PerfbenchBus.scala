package org.apache.spark

/** Access to the SparkContext's listener bus, which Spark keeps package-private.
  * The benchmark drains it before it reads task metrics and query
  * executions, so every event of a finished action has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
