package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The one `private[spark]` call the job-counting specs need: listener
  * events arrive asynchronously, so a count drains the bus at its edges
  * instead of sleeping. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
