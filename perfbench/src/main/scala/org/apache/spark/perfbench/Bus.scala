package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one Spark-internal call the benchmark makes: wait until every
  * listener has seen every event posted so far, so a traced run can read
  * its listeners' totals at a known point. Never used on an untraced run. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
