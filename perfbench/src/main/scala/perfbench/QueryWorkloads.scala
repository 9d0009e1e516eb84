package perfbench

import graft.extract.Extractor
import graft.model.Turn
import graft.pipeline.{ExtractionPipeline, Ingestion}
import graft.retrieval.{Bm25IndexTables, QueryPipeline, Retrieval, VectorIndex}
import graft.text.Tokenizer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import scala.collection.mutable
import scala.util.Random

/** `ingest-query` and `upload-query`: the ingestion and hybrid query paths
  * over a store the set-up extracts from a seeded corpus. One client drives
  * a closed loop; each answer is materialised with `collect()`, so every
  * output column is computed.
  */
object QueryWorkloads {

  val TopK = 10

  /** One answered question, kept for the checks after the timed loop. */
  final case class Answer(question: String, rows: Array[Row], expanded: Boolean)

  private def chunkIdCol = concat_ws(":", col("conv_id"), col("turn_idx"), col("chunk_index"))

  /** Seeded questions of three terms from the corpus's terms; every tenth
    * holds no corpus term, so its BM25 list is empty. A fixed term count
    * keeps the BM25 work per question the same from seed to seed.
    */
  final class Questions(terms: Vector[String], seed: Long) {
    private val r = new Random(seed ^ 0x51ed27L)
    private var n = 0
    def next(): String = {
      n += 1
      if (n % 10 == 0) Seq.fill(3)("zq" + r.alphanumeric.take(6).mkString.toLowerCase).mkString(" ")
      else Seq.fill(3)(terms(r.nextInt(terms.size))).mkString(" ")
    }
  }

  private def corpusTerms(sample: Vector[Turn]): Vector[String] =
    sample.iterator.flatMap(t => Tokenizer.tokenize(Extractor.extract(t.text).text))
      .toVector.distinct.sorted

  /** Store set-up: generate a corpus of `nTurns` turns and extract it into
    * `store` with `nBuckets` buckets.
    */
  private def buildStore(c: Ctx, nTurns: Int, store: String): Long = {
    val spark = c.spark()
    val corpus = s"${c.work}/corpus"
    val turns = Corpus.write(spark, nTurns, c.seed, corpus)
    ExtractionPipeline.run(spark, Corpus.turns(spark, corpus),
      ExtractWorkload.config(c, store, resume = false))
    turns
  }

  private def ask(c: Ctx, store: String, q: Questions, expanded: Boolean,
      answers: mutable.ArrayBuffer[Answer]): Unit = {
    val spark = c.spark()
    val question = q.next()
    val res =
      if (expanded) c.op("expanded")(c.tracer.span("retrieval/queryExpanded") {
        QueryPipeline.queryExpanded(spark, store, question, Seq(q.next(), q.next()), TopK)
          .collect()
      })
      else query(c, store, question)
    res.foreach(rows => answers += Answer(question, rows, expanded))
    if (!expanded && c.tracer.enabled) pieces(c, store, question, timed = true)
  }

  private def query(c: Ctx, store: String, question: String): Option[Array[Row]] =
    c.op("query")(c.tracer.span("retrieval/query") {
      val rows = QueryPipeline.query(c.spark(), store, question, TopK).collect()
      c.tracer.attr("rows", rows.length.toDouble)
      rows
    })

  /** The public pieces `QueryPipeline.query` composes, called one by one:
    * BM25 top list, vector top list, weighted RRF, content join. Returns
    * the two top lists and the fused top ids with scores. Traced runs time
    * each piece.
    */
  private def pieces(c: Ctx, store: String, question: String, timed: Boolean)
      : (Seq[(String, Double)], Seq[(String, Double)], Seq[(String, Double)]) = {
    val spark = c.spark()
    val t = mutable.LinkedHashMap.empty[String, Double]
    def piece[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = c.tracer.span(s"retrieval/$name")(f)
      t(name) = (System.nanoTime() - t0) / 1e6
      r
    }
    val fetch = QueryPipeline.PerSourceFetch
    val kw = piece("bm25") {
      Bm25IndexTables.score(spark, Ingestion.indexDir(store), question, "chunk_id")
        .filter(col("score") > 0).orderBy(desc("score"), col("chunk_id")).limit(fetch)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    val qv = Ingestion.hashedEmbedding(question)
    val vec = piece("vector") {
      val root = VectorIndex.indexRoot(store)
      val scored =
        if (VectorIndex.exists(root)) VectorIndex.probe(spark, root, qv)
        else spark.read.parquet(Ingestion.embeddingsDir(store))
          .select(chunkIdCol.as("chunk_id"),
            VectorIndex.dotColumn(qv, col("embedding")).as("score"))
      scored.orderBy(desc("score"), col("chunk_id")).limit(fetch)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    import spark.implicits._
    val fused = piece("fuse") {
      Retrieval.rrfFuse(Seq(vec.toDF("chunk_id", "score") -> Retrieval.VectorWeight,
          kw.toDF("chunk_id", "score") -> Retrieval.KeywordWeight), "chunk_id", "score")
        .orderBy(desc("rrf_score"), col("chunk_id")).limit(TopK)
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    piece("content") {
      spark.read.parquet(ExtractionPipeline.chunksDir(store))
        .select(chunkIdCol.as("chunk_id"), col("content"))
        .join(broadcast(fused.map(_._1).toDF("chunk_id")), "chunk_id").collect()
    }
    if (timed) t.foreach { case (k, v) => c.sample(s"retrieval.${k}_ms", v) }
    (vec, kw, fused)
  }

  /** RRF of the two top lists, recomputed on the driver. */
  private def rrf(vec: Seq[(String, Double)], kw: Seq[(String, Double)]): Seq[(String, Double)] = {
    def ranked(xs: Seq[(String, Double)], w: Double) =
      xs.sortBy { case (id, s) => (-s, id) }.zipWithIndex
        .map { case ((id, _), rank) => id -> w / (Retrieval.RrfK + rank + 1) }
    (ranked(vec, Retrieval.VectorWeight) ++ ranked(kw, Retrieval.KeywordWeight))
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(TopK)
  }

  /** Checks every answer: at most top-k rows, rrf_score never rising down
    * the list, content equal to the chunks table's.
    */
  private def checkAnswers(c: Ctx, store: String, answers: Seq[Answer], label: String): Unit = {
    val spark = c.spark()
    import spark.implicits._
    val tooLong = answers.count(_.rows.length > TopK)
    c.check(s"$label.answers_at_most_top_k", tooLong == 0, s"$tooLong answers longer than $TopK")
    val rising = answers.count { a =>
      val s = a.rows.map(_.getAs[Double]("rrf_score"))
      s.zip(s.drop(1)).exists { case (x, y) => y > x }
    }
    c.check(s"$label.rrf_non_increasing", rising == 0, s"$rising answers with a rising rrf_score")
    val got = answers.flatMap(_.rows.map(r => r.getAs[String]("chunk_id") -> r.getAs[String]("content")))
      .distinct
    val table = spark.read.parquet(ExtractionPipeline.chunksDir(store))
      .select(chunkIdCol.as("chunk_id"), col("content"))
      .join(broadcast(got.map(_._1).distinct.toDF("chunk_id")), "chunk_id")
      .as[(String, String)].collect().toMap
    val wrong = got.count { case (id, content) => !table.get(id).contains(content) }
    c.check(s"$label.content_matches_chunks", wrong == 0, s"$wrong answer rows differ from the chunks table")
    c.check(s"$label.answers_present", answers.nonEmpty, "no query answered")
  }

  private def recordIndexFiles(c: Ctx, store: String): Unit =
    c.layer("retrieval.index_files") = Seq(Ingestion.indexDir(store),
      Ingestion.embeddingsDir(store), VectorIndex.indexRoot(store)).map(Corpus.fileCount).sum.toDouble

  private def kernelAndCounts(c: Ctx, store: String, sample: Vector[Turn]): Unit = {
    val spark = c.spark()
    Corpus.kernelTimings(c, sample)
    val texts = sample.flatMap(t => graft.text.Chunker.splitTextWithOverlap(
      Extractor.extract(t.text).text).map(_.content))
    val reps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      texts.foreach(Ingestion.hashedEmbedding(_))
      (System.nanoTime() - t0).toDouble / math.max(1, texts.size)
    }
    c.layer("pipeline.ingestion.embed_ns_per_chunk") = Stats.median(reps)
    c.layer("pipeline.ingestion.chunks") =
      spark.read.parquet(ExtractionPipeline.chunksDir(store)).count().toDouble
    c.layer("pipeline.ingestion.postings_rows") =
      spark.read.parquet(Bm25IndexTables.postingsDir(Ingestion.indexDir(store))).count().toDouble
  }

  /** `ingest-query`: set-up extracts and ingests the store; the timed part
    * re-runs `Ingestion.run` over it (idempotent), then, after one untimed
    * question, a closed loop of `query` and, one time in four,
    * `queryExpanded` with two seeded expansions, over the exact store. Set-up
    * and warm-up take the JIT-cold first runs, which vary twice as much.
    */
  def ingestQuery(c: Ctx): Unit = {
    val size = if (c.tiny) 200 else 1700
    val store = s"${c.work}/store"
    val nTurns = c.setup {
      val n = buildStore(c, size, store)
      Ingestion.run(c.spark(), store)
      n
    }
    c.info("turns") = nTurns
    val sample = Corpus.sampleTurns(size, c.seed, 1000)
    val q = new Questions(corpusTerms(sample), c.seed)
    val spark = c.spark()
    val nChunks = spark.read.parquet(ExtractionPipeline.chunksDir(store)).count()
    c.info("chunks") = nChunks

    c.traceOn()
    c.op("ingest")(c.tracer.span("pipeline.ingestion/run") {
      Ingestion.run(spark, store)
    }).foreach(n => c.bulk("chunks", n.toDouble, c.lastOpMs / 1e3))
    c.traceOff()

    c.warmUp(ask(c, store, q, expanded = false, mutable.ArrayBuffer.empty[Answer]))
    val answers = mutable.ArrayBuffer.empty[Answer]
    val t0 = c.elapsedS
    var i = 0
    while (i < (if (c.args.trace) 8 else 4) || c.elapsedS - t0 < c.args.seconds) {
      if (i % 2 == 1) c.traceOn()
      ask(c, store, q, expanded = i % 4 == 3, answers)
      c.traceOff()
      i += 1
    }

    checkAnswers(c, store, answers.toSeq, "ingest_query")
    // an answer equals the RRF of the BM25 scores and the exact dot scan,
    // fused by Retrieval.rrfFuse and on the driver
    val sampled = answers.filter(!_.expanded).take(1)
    val mismatched = sampled.count { a =>
      val (vec, kw, fused) = pieces(c, store, a.question, timed = false)
      val got = a.rows.map(r => r.getAs[String]("chunk_id") -> r.getAs[Double]("rrf_score")).toSeq
      def close(x: Seq[(String, Double)], y: Seq[(String, Double)]) =
        x.map(_._1) == y.map(_._1) &&
          x.zip(y).forall { case (p, q) => math.abs(p._2 - q._2) <= 1e-12 }
      !close(got, fused) || !close(got, rrf(vec, kw))
    }
    c.check("ingest_query.rrf_recomputed", sampled.nonEmpty && mismatched == 0,
      s"$mismatched of ${sampled.size} sampled answers differ from the recomputed RRF")

    if (c.args.trace) {
      c.traceOn()
      c.tracer.span("pipeline.ingestion/embedChunks")(Ingestion.embedChunks(spark, store))
      c.tracer.span("pipeline.ingestion/buildIndex")(Ingestion.buildIndex(spark, store))
      c.traceOff()
      kernelAndCounts(c, store, sample)
    }
    recordIndexFiles(c, store)
  }

  /** Turns of one upload: ordinary (not mega) new conversations, plus one
    * turn whose text is a token no other batch holds.
    */
  private def uploadBatch(c: Ctx, firstConv: Int, b: Int, turnsWanted: Int): (Vector[Turn], String) = {
    val token = s"ryw${c.seed}x$b"
    val convs = Iterator.from(firstConv + b * 1000)
      .filter(i => graft.fixtures.TranscriptGen.turnCount(c.seed, i.toLong) < 100)
      .map(i => graft.fixtures.TranscriptGen.conversation(c.seed, i.toLong))
    val turns = mutable.ArrayBuffer.empty[Turn]
    while (turns.size < turnsWanted) turns ++= convs.next()
    val last = turns.last
    turns += last.copy(turn_idx = last.turn_idx + 1, role = "user", text = Seq.fill(3)(token).mkString(" "), tool = "")
    (turns.toVector, token)
  }

  /** `upload-query`: a smaller store with an IVF index; the loop alternates
    * one upload (extract a seeded batch of new conversations into a staging
    * dir with the store's bucket count, then `Ingestion.add`) with a few
    * queries, the first of which asks for the token unique to that upload.
    */
  def uploadQuery(c: Ctx): Unit = {
    val size = if (c.tiny) 200 else 2000
    val store = s"${c.work}/store"
    val nTurns = c.setup {
      val n = buildStore(c, size, store)
      Ingestion.run(c.spark(), store)
      Ingestion.buildVectorIndex(c.spark(), store)
      n
    }
    c.info("turns") = nTurns
    c.info("n_buckets") = ExtractWorkload.buckets(c)
    val sample = Corpus.sampleTurns(size, c.seed, 1000)
    val q = new Questions(corpusTerms(sample), c.seed)
    val spark = c.spark()
    import spark.implicits._
    val turnsPerUpload = if (c.tiny) 20 else 200
    val firstNew = 1000000

    def upload(b: Int): Option[String] = {
      val (turns, token) = uploadBatch(c, firstNew, b, turnsPerUpload)
      val staging = s"${c.work}/staging-$b"
      val ds = spark.createDataset(turns)
      val r = c.op("upload") {
        c.tracer.span("pipeline.extraction/run") {
          ExtractionPipeline.run(spark, ds, ExtractWorkload.config(c, staging, resume = false))
          c.tracer.attr("turns", turns.size.toDouble)
        }
        c.tracer.span("pipeline.ingestion/add")(Ingestion.add(spark, store, staging))
      }
      r.foreach(_ => c.bulk("turns", turns.size.toDouble, c.lastOpMs / 1e3))
      if (c.args.trace) {
        c.sample("pipeline.extraction.output_bytes_per_turn", Corpus.bytesUnder(staging) / turns.size.toDouble)
        c.sample("pipeline.extraction.output_files", Corpus.fileCount(staging).toDouble)
      }
      Corpus.deleteDir(staging)
      r.map(_ => token)
    }

    c.warmUp {
      upload(-1)
      ask(c, store, q, expanded = false, mutable.ArrayBuffer.empty[Answer])
    }

    val answers = mutable.ArrayBuffer.empty[Answer]
    val tokens = mutable.ArrayBuffer.empty[(String, Answer)]
    val t0 = c.elapsedS
    var b = 0
    while (b < 3 || c.elapsedS - t0 < c.args.seconds) {
      if (b % 2 == 1) c.traceOn()
      upload(b).foreach { token =>
        query(c, store, token).foreach { rows =>
          val a = Answer(token, rows, expanded = false)
          answers += a
          tokens += token -> a
        }
      }
      for (_ <- 1 to 2) ask(c, store, q, expanded = false, answers)
      c.traceOff()
      b += 1
    }

    checkAnswers(c, store, answers.toSeq, "upload_query")
    val missing = tokens.count { case (token, a) =>
      !a.rows.headOption.exists(_.getAs[String]("content").contains(token))
    }
    c.check("upload_query.read_your_writes", tokens.nonEmpty && missing == 0,
      s"$missing of ${tokens.size} uploads not found first by their own token, e.g. " +
        tokens.headOption.map { case (t, a) => s"'$t' -> ${a.rows.take(2).mkString("; ")}" })
    if (c.args.trace) kernelAndCounts(c, store, sample)
    recordIndexFiles(c, store)
  }
}
