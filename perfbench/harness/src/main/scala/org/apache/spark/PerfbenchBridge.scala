package org.apache.spark

/** The one package-private hook the harness needs: block until the
  * listener bus has delivered every queued event, so that span and
  * counter reads after a pass see the whole pass. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
