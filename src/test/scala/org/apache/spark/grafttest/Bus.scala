package org.apache.spark.grafttest

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Package-private Spark hooks the test suites need. */
object Bus {
  /** Blocks until every posted listener event has been delivered, so a
    * `QueryExecutionListener` has seen every execution that ran before.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` and returns its result with every `QueryExecution` of
    * `spark` that succeeded while it ran: build-time pins and probes as
    * well as the action. Drains before registering, so late events from
    * earlier work stay out, and after `body`, so all of its own are in.
    */
  def capture[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val captured = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      drain(spark.sparkContext)
      (out, captured.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
