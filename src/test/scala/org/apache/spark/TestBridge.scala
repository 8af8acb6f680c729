package org.apache.spark

/** Package-private hook for specs that read listener events: block until
  * the listener bus has delivered every queued event. */
object TestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
