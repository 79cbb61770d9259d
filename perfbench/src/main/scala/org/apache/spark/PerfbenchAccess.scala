package org.apache.spark

/** The one Spark-internal hook the benchmark needs: the listener bus
  * delivers events asynchronously, so the traced run waits for it to
  * drain before reading its spans. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
