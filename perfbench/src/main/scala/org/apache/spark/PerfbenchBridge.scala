package org.apache.spark

/** Package-private Spark access the benchmark harness needs. */
object PerfbenchBridge {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
