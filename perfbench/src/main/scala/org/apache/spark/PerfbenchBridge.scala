package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: listener
  * events are delivered asynchronously, so per-span counts are read only
  * after the bus has delivered everything posted so far.
  */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
