package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the tracer needs: listener events arrive
  * asynchronously, so a span drains the bus at its edges to attribute each
  * task and query to the span that caused it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
