package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so per-pass metrics are complete when they are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
