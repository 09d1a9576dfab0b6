package org.apache.spark

/** Specs that count Spark jobs with a listener drain the (asynchronous)
  * listener bus before reading their counts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
