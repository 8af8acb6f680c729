package org.apache.spark

/** Package-private hooks for specs. */
object TestBridge {
  /** Block until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Whether `dir` is registered for recursive deletion at JVM exit. */
  def deletedAtExit(dir: String): Boolean =
    org.apache.spark.util.ShutdownHookManager.hasShutdownDeleteDir(new java.io.File(dir))
}
