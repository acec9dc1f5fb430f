package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run
  * needs it so every task and block event is counted before it reports. */
object GraftBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
