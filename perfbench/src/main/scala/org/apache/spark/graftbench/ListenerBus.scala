package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every posted listener event is delivered,
  * so counts read after an operation include all of its jobs and triggers.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
