package org.apache.spark

/** The listener bus delivers events asynchronously; per-layer counts are read
  * only after every event posted so far has reached the collector. The
  * draining call is Spark-internal, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
