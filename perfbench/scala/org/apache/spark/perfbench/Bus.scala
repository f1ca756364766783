package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** In the org.apache.spark namespace only to reach the `private[spark]`
  * listener bus: the tracer waits for pending listener events before it
  * reads its counters, so late delivery cannot drop a job or a stage.
  */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
