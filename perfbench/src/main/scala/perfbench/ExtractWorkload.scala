package perfbench

import graft.pipeline.ExtractionPipeline
import graft.pipeline.ExtractionPipeline.Config

/** `extract`: the north-rule batch job over a seeded TranscriptGen corpus.
  * After one untimed JIT warm-up job, the timed loop runs the job at
  * local[nproc] on a fresh output, then re-runs it three times with resume
  * on that committed output (the no-op restart: manifest read, skew
  * pre-pass, orphan scan). A traced run also runs each repetition at
  * local[max(1, nproc/4)], so the scaling ratio is a paired, interleaved
  * measurement. No retrieval code runs here.
  */
object ExtractWorkload {

  def turns(c: Ctx): Int = if (c.tiny) 300 else 16000

  /** Buckets scale with the host, as the default 64 do with a cluster:
    * four buckets per core, so hashing buckets into tasks leaves no core
    * idle, each bucket holding many turns.
    */
  def buckets(c: Ctx): Int = 4 * c.nproc

  def config(c: Ctx, out: String, resume: Boolean): Config =
    Config(out, nBuckets = buckets(c), waves = 1, resume = resume)

  def run(c: Ctx): Unit = {
    val hi = c.nproc
    val lo = math.max(1, hi / 4)
    val corpus = s"${c.work}/corpus"
    val n = turns(c)
    var nTurns = 0L
    for (_ <- 1 to 3) nTurns = c.setup(Corpus.write(c.spark(hi), n, c.seed, corpus))
    c.info("turns") = nTurns
    c.info("lo_cores") = lo
    if (c.args.trace) Corpus.kernelTimings(c, Corpus.sampleTurns(n, c.seed, 1500))

    def job(cores: Int, out: String, resume: Boolean) = {
      val spark = c.spark(cores)
      val stats = ExtractionPipeline.run(spark, Corpus.turns(spark, corpus), config(c, out, resume))
      c.tracer.attr("turns", stats.turns.toDouble)
      stats
    }
    /** One timed job; returns its turns per second. */
    def leg(kind: String, cores: Int, out: String): Option[Double] = {
      c.spark(cores)
      c.op(kind)(c.tracer.span("pipeline.extraction/run")(job(cores, out, resume = false)))
        .map(_.turns / (c.lastOpMs / 1e3))
    }

    // the first job in a JVM runs JIT-cold, about twice as slow and twice
    // as variable as the next ones
    job(hi, s"${c.work}/warm", resume = false)
    Corpus.deleteDir(s"${c.work}/warm")

    val t0 = c.elapsedS
    var rep = 0
    var first: Seq[Long] = Nil
    val outBytes = Seq.newBuilder[Double]
    val outFiles = Seq.newBuilder[Double]
    def verify(out: String, label: String): Unit = {
      val h = Corpus.contentHash(c.spark(), out)
      if (first.isEmpty) {
        first = h
        Corpus.checkExtraction(c, c.spark(), corpus, out, nTurns, config(c, out, false).nBuckets,
          "extract")
      } else c.check(s"extract.content_hash.$label", h == first,
        s"hash $h differs from the first output's $first")
      outBytes += Corpus.bytesUnder(out) / nTurns.toDouble
      outFiles += Corpus.fileCount(out).toDouble
      Corpus.deleteDir(out)
    }
    // a traced run alternates untraced and traced repetitions, so the
    // difference between the two is the tracing overhead
    while (rep < 2 || c.elapsedS - t0 < c.args.seconds) {
      if (rep % 2 == 1) c.traceOn()
      val out = s"${c.work}/out-$rep"
      val rate = leg("extract", hi, out)
      rate.foreach(r => c.bulk("turns", nTurns, nTurns / r))
      if (rate.isDefined) for (_ <- 1 to 3)
        c.op("extract_resume")(c.tracer.span("pipeline.extraction/run")(job(hi, out, resume = true)))
      if (c.args.trace) {
        val outLo = s"${c.work}/out-lo-$rep"
        leg("extract_lo", lo, outLo).foreach(r =>
          rate.foreach(h => c.sample("extract.scaling_eff", h / r / (hi.toDouble / lo))))
        c.traceOff()
        verify(outLo, s"lo.$rep")
      }
      c.traceOff()
      verify(out, s"hi.$rep")
      rep += 1
    }
    c.layer("pipeline.extraction.output_bytes_per_turn") = Stats.median(outBytes.result())
    c.layer("pipeline.extraction.output_files") = Stats.median(outFiles.result())
  }
}
