package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus, so a traced run can wait for
  * every queued job, stage and task event before it aggregates them.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
