package org.apache.spark

/** Blocks until every event posted so far has reached the listeners.
  * The listener bus is asynchronous; a traced pass reads its counters
  * only after this returns. Lives in Spark's package because
  * `listenerBus` is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
