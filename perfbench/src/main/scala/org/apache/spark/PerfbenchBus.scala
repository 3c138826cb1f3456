package org.apache.spark

/** The listener bus is private to Spark; the tracer needs it drained
  * before it reads its span counters, because task-end events are
  * delivered asynchronously after the action that caused them returns. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
