package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced operation's spans are complete before the next one starts. The
  * listener bus is package-private, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
