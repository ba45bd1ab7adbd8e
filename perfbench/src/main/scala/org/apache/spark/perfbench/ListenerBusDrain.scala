package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously. Before the harness reads what its
  * listeners recorded it waits until the bus has delivered every event
  * posted so far; the wait itself lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
