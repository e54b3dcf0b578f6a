package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous: block until every queued event
  * has reached its listeners before reading what they recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
