package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: blocks until every event
  * posted so far has been delivered to every listener, so counters read
  * right after it are complete (no sleep-and-hope).
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
