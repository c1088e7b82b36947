package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every queued event, so counters
 *  read after an action include all of that action's tasks. Lives under
 *  `org.apache.spark` because the bus is package-private there. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
