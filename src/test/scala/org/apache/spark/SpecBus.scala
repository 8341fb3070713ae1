package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Waits until every event posted so far has reached every listener,
  * so a count a spec reads after it is complete (the bus itself is
  * private to Spark's package).
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `body`'s result and the number of Spark jobs it submitted: jobs
    * carrying a local property set on the calling thread for the call
    * (threads it starts inherit it), so jobs of other threads do not
    * count.
    */
  def jobs[A](sc: SparkContext)(body: => A): (A, Int) = {
    val tag = "graft.spec.probe"
    val n   = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) != null)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "probe")
      val out = try body finally sc.setLocalProperty(tag, null)
      drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

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

  /** What a call that releases its materializations leaves as it
    * found it: the CacheManager's entries (its cached relations, in
    * order) and the ids of the DISK_ONLY RDDs the context holds
    * persisted.
    */
  def residue(spark: SparkSession): (List[AnyRef], Set[Int]) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val entries = classOf[org.apache.spark.sql.execution.CacheManager]
      .getDeclaredField("cachedData")
    entries.setAccessible(true)
    val disk = spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel == StorageLevel.DISK_ONLY => id
    }.toSet
    (entries.get(cm).asInstanceOf[Seq[AnyRef]].toList, disk)
  }
}
