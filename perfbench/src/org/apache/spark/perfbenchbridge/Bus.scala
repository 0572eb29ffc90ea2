package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the listener bus (private to Spark): wait until every posted
  * event reached the benchmark's listener before reading its totals. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
