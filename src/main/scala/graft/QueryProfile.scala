package graft

/** Dev profiling main (not part of the driver contract): times a subset
  * of the battery with repetitions so a hypervisor-steal burst can't
  * masquerade as a plan regression — `Bench` runs each query once, so a
  * single bad host window inflates one query's number; here the MIN over
  * reps is the steal-free signal.
  *
  * Usage: runMain graft.QueryProfile <sfDir> [q_a,q_b,...] [reps]
  * Parallelism is `Bench`'s: `SPARK_GRAFT_CPUS`, else the host's
  * processor count.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1 && args(1).nonEmpty) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Bench.localSession("graft-query-profile", Bench.configuredCpus)
    spark.read.parquet(s"$dir/documents.parquet").limit(100).count()

    val rows = names.map { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // cold pass: codegen compile, not timed
      spark.catalog.clearCache()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        spark.catalog.clearCache()
        graft.queries.PersistGuard.assertClean(spark, s"query $name")
        (System.nanoTime() - t0) / 1e9
      }.sorted
      (name, times.head, times(times.size / 2))
    }
    println(f"${"query"}%-28s ${"min_s"}%8s ${"med_s"}%8s")
    rows.sortBy(-_._2).foreach { case (n, mn, md) =>
      println(f"$n%-28s $mn%8.2f $md%8.2f")
    }
    spark.stop()
  }
}
