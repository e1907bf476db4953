package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark: a traced span
  * waits for every event posted so far before it reads the listener's
  * counters, so events are attributed to the span they happened in.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
