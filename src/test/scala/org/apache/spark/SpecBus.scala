package org.apache.spark

/** Waits until every event posted so far has reached every listener,
  * so a count a spec reads after it is complete (the bus itself is
  * private to Spark's package).
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
