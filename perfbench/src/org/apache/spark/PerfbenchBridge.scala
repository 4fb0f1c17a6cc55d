package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run reads its ledger only after every queued event has
  * reached the listeners. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
