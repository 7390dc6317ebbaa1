package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** Reaches the listener bus, which is private to Spark, so the tracer can
  * wait until every posted event has been delivered before it reads what
  * its listener collected. */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
