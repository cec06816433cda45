package org.apache.spark

/** Waits until every event posted so far has reached every listener, so a
  * reading taken right after an action includes that action's task, SQL
  * and streaming events. The listener bus is `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
