package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run waits for every queued event of a query before reading the
  * counters attributed to it. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
