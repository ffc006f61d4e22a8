package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a listener's counts are complete when a spec reads them. The
  * listener bus is `private[spark]`, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
