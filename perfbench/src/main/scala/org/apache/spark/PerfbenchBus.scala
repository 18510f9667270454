package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every event
  * posted so far, so the ledger reads complete counts at a span boundary
  * without sleeping. Lives in this package because the bus is
  * package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
