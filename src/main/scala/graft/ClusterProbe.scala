package graft

import org.apache.spark.sql.SparkSession

/** Scratch main: validates `local-cluster[n,cores,mem]` mode — real
  * separate executor JVMs, the honest sandbox stand-in for the north
  * rule's "N vs 4N executors" — and times the extraction compute pass
  * (and optionally the full pipeline) on it. Prints one [[Run]] JSON
  * line per run, which `Bench` parses for its `cluster` block.
  * Args: nWorkers coresPerWorker [nConvs] [memMb] [nRuns] [full].
  */
object ClusterProbe {

  /** One timed run: `mode` is `full` (the whole extraction pipeline) or
    * `compute` (the extraction pass alone); `tps` is turns per second.
    */
  final case class Run(mode: String, run: Int, workers: Int, cores: Int, turns: Long,
      sec: Double, tps: Double)

  def main(args: Array[String]): Unit = {
    val nWorkers = args.headOption.map(_.toInt).getOrElse(2)
    val cores = args.lift(1).map(_.toInt).getOrElse(4)
    val nConvs = args.lift(2).map(_.toLong).getOrElse(20000L)
    val memMb = args.lift(3).map(_.toInt).getOrElse(4096)
    val nRuns = args.lift(4).map(_.toInt).getOrElse(2)
    val fullJob = args.lift(5).contains("full")
    // spark-submit compatible: when a master is already configured
    // (scripts/spark_submit_bench.sh — the north rule's literal
    // launcher), respect it and let spark-submit ship the app jar;
    // standalone `runMain` self-configures local-cluster and serves the
    // compiled classes via extraClassPath. local-cluster against the
    // binary Spark distribution needs SPARK_SCALA_VERSION=2.13 in the
    // environment (the launcher cannot infer it without a build tree).
    val b0 = SparkSession.builder()
      .appName("cluster-probe")
      .config("spark.sql.shuffle.partitions", (nWorkers * cores).toString)
      .config("spark.ui.enabled", "false")
    val b1 =
      if (sys.props.contains("spark.master")) b0
      else b0.master(s"local-cluster[$nWorkers,$cores,$memMb]")
        .config("spark.executor.memory", s"${memMb}m")
        .config("spark.executor.extraClassPath",
          "/root/repo/target/scala-2.13/classes")
        // each executor JVM must size JIT/GC pools for ITS cores, not the
        // host's 32 — real-cluster semantics, and without it co-located
        // JVMs oversubscribe the box with 32 GC threads apiece
        .config("spark.executor.extraJavaOptions",
          s"-XX:ActiveProcessorCount=$cores -XX:+UseParallelGC")
        .config("spark.driver.host", "localhost")
    val spark = b1.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val dir = "/dev/shm/cluster-probe-transcripts"
    graft.fixtures.TranscriptGen.transcripts(spark, nConvs,
      numPartitions = nWorkers * cores * 2)
      .write.mode("overwrite").parquet(dir)

    val turns = spark.read.parquet(dir).as[graft.model.Turn]
    // warm EVERY executor JVM's JIT with a full compute pass — a
    // limit(2000) warm only reaches 1-2 executors, and the measured
    // penalty on the first full-job run of a cold 8-executor session
    // was 3x (35k vs 105k turns/s; BASELINE.md round 3)
    turns.mapPartitions(_.map(t =>
      graft.extract.Extractor.extract(t.text).text.length.toLong)).reduce(_ + _)

    (1 to nRuns).foreach { i =>
      val out = s"/dev/shm/cluster-probe-out-$nWorkers-$i"
      val t0 = System.nanoTime()
      val n =
        if (fullJob) graft.pipeline.ExtractionPipeline.run(spark, turns,
          graft.pipeline.ExtractionPipeline.Config(out, nBuckets = 256,
            waves = 1, resume = false)).turns
        else turns.mapPartitions(_.map { t =>
          graft.extract.Extractor.extract(t.text); 1L
        }).reduce(_ + _)
      val sec = (System.nanoTime() - t0) / 1e9
      println(JsonCodec.write(Run(if (fullJob) "full" else "compute", i, nWorkers, cores,
        n, sec, n / sec)))
      if (fullJob) deleteDir(out)
    }
    spark.stop()
  }

  private def deleteDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f =>
            try java.nio.file.Files.delete(f) catch { case _: Exception => () }))
  }
}
