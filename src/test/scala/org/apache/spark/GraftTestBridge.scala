package org.apache.spark

/** Test access to the listener bus: SparkListener and
  * QueryExecutionListener callbacks are delivered asynchronously, so a
  * spec that counts jobs or captures executed plans drains the bus
  * before it reads what its listener saw. */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
