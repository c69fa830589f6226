package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener has seen all jobs of the work it ran before its
  * counts are read. The bus is package-private to Spark, hence this
  * package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
