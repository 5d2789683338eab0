package org.apache.spark

/** Reaches the package-private listener bus, so a traced run can wait until
  * every finished job's events have reached the benchmark's listener.
  */
object LoadbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
