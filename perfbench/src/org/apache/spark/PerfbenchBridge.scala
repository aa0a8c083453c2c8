package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so per-span metrics are
  * complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
