package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the benchmark reads complete job and stage metrics at a pass boundary.
  * Lives in Spark's package because the listener bus is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
