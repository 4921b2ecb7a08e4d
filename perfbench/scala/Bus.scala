package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain barrier is package-private to Spark; this
  * bridge lets the benchmark read its counters only after every event of
  * a timed region has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
