package org.apache.spark

/** Listener events are delivered asynchronously; the harness reads its
  * listener's counts only after the bus has delivered every event posted
  * so far. The wait is package-private in Spark, hence this bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
