package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a spec can count query executions right after an action returns. Lives
  * in Spark's package because the listener bus is package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
