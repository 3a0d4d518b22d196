package org.apache.spark

/** Waits until Spark has delivered every posted listener event — the
  * listener bus is package-private, hence this object's package. After it
  * returns, `statusTracker` and every registered listener have seen each
  * job start and end posted before the call.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
