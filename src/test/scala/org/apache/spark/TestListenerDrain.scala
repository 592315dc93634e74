package org.apache.spark

/** Waits until every event posted to the context's listener bus so far
  * has been delivered. The bus is package-private, hence this file's
  * package; specs call it before they read a listener's counts.
  */
object TestListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
