package org.apache.spark

/** Drains the listener bus so every job, stage and task event of the work
  * just finished has reached the benchmark's listener before it is read.
  * The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
