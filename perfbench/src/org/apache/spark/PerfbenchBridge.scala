package org.apache.spark

/** The one non-public hook the benchmark uses: wait until the listener
  * bus has delivered every queued event, so counters read after a phase
  * include all of its jobs and tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
