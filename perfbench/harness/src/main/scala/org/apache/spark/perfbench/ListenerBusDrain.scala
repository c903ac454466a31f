package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the harness drains after each
  * query, outside the timed region, so that a query's events are
  * counted against that query and not against the next one.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
