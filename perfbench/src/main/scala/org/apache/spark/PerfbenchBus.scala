package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read after a pass include all of the pass's jobs and tasks
  * (the bus delivers asynchronously; its drain is package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
