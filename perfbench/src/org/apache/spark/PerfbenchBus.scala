package org.apache.spark

/** Waits until the shared listener bus has delivered every posted event,
  * so per-operation listener counts are complete when an operation's
  * "after" snapshot is taken. `listenerBus` is package-private to Spark,
  * hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
