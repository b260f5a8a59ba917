package org.apache.spark

/** The one private seam the benchmark needs: waiting until the listener bus
  * has delivered every event posted so far, so per-layer counts read after a
  * run are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
