package org.apache.spark.resolvebench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached the listeners, so
  * counters read right after a call cover all of that call's jobs. The
  * listener bus is private to Spark; this file lives in Spark's package
  * only to reach it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
