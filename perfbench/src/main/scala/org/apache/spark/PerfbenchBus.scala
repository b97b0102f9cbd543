package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * the job ledger is complete before it is summarised. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
