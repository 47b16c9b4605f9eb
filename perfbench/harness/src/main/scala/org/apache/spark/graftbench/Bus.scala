package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Package-private Spark hooks the harness needs. */
object Bus {
  /** Blocks until every posted listener event has been delivered, so the
    * per-pass trace reads complete job, task and block counters.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
