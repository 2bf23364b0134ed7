package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's job recorder has seen the jobs of the last operation.
  * (`listenerBus` is package-private to Spark.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
