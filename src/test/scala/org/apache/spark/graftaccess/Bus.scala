package org.apache.spark.graftaccess

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; tests that count listener events
  * drain it so every event of the code under test has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
