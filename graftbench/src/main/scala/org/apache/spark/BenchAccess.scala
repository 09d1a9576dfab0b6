package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so a traced op's
  * events can be attributed to it. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
