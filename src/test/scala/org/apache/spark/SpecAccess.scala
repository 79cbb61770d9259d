package org.apache.spark

/** Spark-internal hooks the specs need: the listener bus delivers
  * events asynchronously, so a spec that counts jobs waits for it to
  * drain before reading its listener. */
object SpecAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
