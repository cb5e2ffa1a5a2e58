package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-unit counters are complete before they are read.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
