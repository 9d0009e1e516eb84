package graft.probe

/** Forked-JVM target for `KillResumeSpec`: runs the extraction pipeline
  * over a pre-written transcripts parquet so the spec can SIGKILL this
  * process mid-job (a REAL crash — torn bucket dirs, lost JVM state —
  * not a simulated manifest rewind) and prove the resume contract from
  * the outside. Args: <inputParquet> <outDir>.
  */
object KillableJob {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    // few cores on purpose: the job must outlive the spec's poll loop
    val spark = graft.Bench.localSession("killable-job", 2,
      "spark.sql.shuffle.partitions" -> "8")
    import spark.implicits._
    val turns = spark.read.parquet(in).as[graft.model.Turn]
    graft.pipeline.ExtractionPipeline.run(spark, turns,
      graft.pipeline.ExtractionPipeline.Config(
        out, nBuckets = 16, waves = 8, resume = true))
    spark.stop()
  }
}
