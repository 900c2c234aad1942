package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every task metric of a run to be delivered before
  * it sums them. */
object UploadbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
