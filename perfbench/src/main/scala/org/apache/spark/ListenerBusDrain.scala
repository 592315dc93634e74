package org.apache.spark

/** Waits until every event posted to the context's listener bus so far
  * has been delivered. The bus is package-private, hence this file's
  * package; the benchmark calls it before it reads listener sums.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
