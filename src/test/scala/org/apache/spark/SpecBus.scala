package org.apache.spark

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Waits until every event posted so far has reached every listener,
  * so a count a spec reads after it is complete (the bus itself is
  * private to Spark's package).
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result with the QueryExecution of every `localCheckpoint`
    * it ran, eager or lazy: `Dataset.checkpoint` runs as a named
    * action over the plan ABOVE the cut, which the checkpointed
    * DataFrame's own plan no longer shows. Specs audit a production
    * call's full lineage from these without un-checkpointing it.
    */
  def checkpoints[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val seen = ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") seen.synchronized(seen += qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      drain(spark.sparkContext)
      (out, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}
