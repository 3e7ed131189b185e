package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `org.apache.spark`
  * package: the traced run drains it after each pass so every job, stage
  * and task event of that pass has been counted before the pass's
  * counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
