package org.apache.spark.grafttest

import org.apache.spark.SparkContext

/** Package-private Spark hooks the test suites need. */
object Bus {
  /** Blocks until every posted listener event has been delivered, so a
    * `QueryExecutionListener` has seen every execution that ran before.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
