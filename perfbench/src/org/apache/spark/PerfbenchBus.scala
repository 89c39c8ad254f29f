package org.apache.spark

/** The listener bus is package-private to Spark; the harness needs one
  * call on it so counters read after a pass include every finished task. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
