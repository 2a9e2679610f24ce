package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event, so listener counters are complete when read. The bus
  * is private to Spark, hence this one-line bridge in its package. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
