package org.apache.spark

/** Waits until every queued listener event has been delivered, so counters
  * read after a timed call include all of that call's task ends. The bus is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
