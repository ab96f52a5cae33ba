package org.apache.spark

/** Waits until the session's listener bus has delivered every queued
  * event, so engine counters are complete before they are read. The bus is
  * package-private to Spark, hence this file's package.
  */
object MedbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
