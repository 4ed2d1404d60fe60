package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`. The benchmark drains it
  * before reading its listener's counters, outside every timed span, so a
  * late-delivered event is never attributed to the next operation. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
