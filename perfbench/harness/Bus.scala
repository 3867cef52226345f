package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the harness waits for it
  * to drain before reading listener counters. Lives in `org.apache.spark`
  * because the bus is package-private there. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
