package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The one Spark-internal call the harness needs: listener events arrive
  * asynchronously, so totals are read only after the bus has delivered
  * everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
