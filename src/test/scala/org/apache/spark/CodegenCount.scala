package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the classes Spark's code generator compiles, JVM-wide: every
  * Janino compile records one sample in `CodegenMetrics`' compilation-time
  * histogram, and a hit in the generated-class cache records none. The
  * metrics source is package-private to Spark, hence this package.
  */
object CodegenCount {
  def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `f`; returns its result and the classes compiled meanwhile. */
  def during[A](f: => A): (A, Long) = {
    val before = compiled
    val r = f
    (r, compiled - before)
  }
}
