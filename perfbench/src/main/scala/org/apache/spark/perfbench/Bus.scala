package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private[spark]; the benchmark's traced run needs
  * to wait until every queued job, stage, task, SQL and streaming event
  * has been delivered before it reads its counters, instead of sleeping
  * for a guessed interval. This object lives in an org.apache.spark
  * subpackage for exactly that one call.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
