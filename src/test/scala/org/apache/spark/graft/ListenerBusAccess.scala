package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to the `org.apache.spark`
  * package: a spec drains it before reading what its listener counted,
  * so every job and task event of the measured block has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
