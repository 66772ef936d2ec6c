package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * every listener event posted so far has been delivered, so the spans of
  * a pass are complete before they are summed.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
