package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it so every task event of an op is counted before
  * the op's span closes. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
