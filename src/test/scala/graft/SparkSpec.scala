package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM).
  *
  * Built THROUGH `spark.sql.extensions` — the spark-submit deployment
  * path — so the whole suite continuously exercises the extension
  * injections next to the programmatic `register()`/`install()` twins
  * (both are idempotent, so suites calling them still pass). The driver's
  * own Verify/Bench mains run vanilla sessions, covering the no-extensions
  * path end-to-end.
  *
  * The generated-code cache holds 400 classes, not Spark's default 100:
  * that cache is JVM-wide and split into four LRU segments, and an
  * expanded question's plan alone caches about 64 classes, so at the
  * default size roughly one JVM in 80 hashes more than 25 of them into
  * one segment and recompiles part of the plan on every call. The
  * compile-count guards (`QueryPathGuardSpec`) measure the code a
  * question generates; cache capacity is not what they test.
  */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "400")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
