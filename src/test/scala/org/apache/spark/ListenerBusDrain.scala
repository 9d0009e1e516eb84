package org.apache.spark

/** Drains the listener bus so a test's listener has seen every event of
  * the work just finished. The bus is package-private to Spark, hence
  * this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
