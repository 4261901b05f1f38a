package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * the listener bus has delivered every posted event, so job and task
  * counts are complete before they are attributed to spans. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
