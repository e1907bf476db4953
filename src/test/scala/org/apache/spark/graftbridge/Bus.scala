package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** The listener bus is private to Spark: waiting until it is empty makes
  * every event posted so far visible to a test's listener.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
