package org.apache.spark.perfbenchaccess

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; the tracer drains it at pass
  * boundaries so every event lands in the pass that caused it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
