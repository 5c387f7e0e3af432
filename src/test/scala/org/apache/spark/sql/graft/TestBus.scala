package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: draining it lets a
  * `SparkListener` see every job event posted so far before a spec reads
  * its counters.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
