package org.apache.spark

/** Waits until every event posted so far has reached every listener,
  * so counts read after it are complete (the bus itself is private to
  * Spark's package).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
