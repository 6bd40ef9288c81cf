package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the harness reads its census only
  * after every event posted so far has been delivered. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
