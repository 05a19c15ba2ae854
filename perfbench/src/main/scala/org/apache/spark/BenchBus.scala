package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * traced pass reads complete task metrics. The listener bus is
  * `private[spark]`, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
