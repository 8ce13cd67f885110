package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered, so
  * engine counters read at the end of a run are complete. Listener
  * delivery is asynchronous and Spark exposes the wait only inside its
  * own package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
