package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's job/stage records are complete before they are written.
  * `listenerBus` is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
