package org.apache.spark

/** Lets the harness wait until every listener event posted so far has
  * been delivered, so a span's counters are complete when it closes.
  * The listener bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
