package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The pretraining-data production tail — [[Ingestion]]'s twin for the
  * OTHER consumer of extracted text. Where Ingestion feeds the RAG
  * serving store (embeddings + BM25), CorpusBuild runs the curation
  * funnel every pretraining pipeline runs over the extraction output
  * and writes packed training shards, with exact row accounting:
  *
  *   extracted (clean turns)
  *     → quality gate           (token count and letter share — narrow)
  *     → exact dedup            (first-wins by content hash — 1 shuffle)
  *     → decontamination        (anti-join vs broadcast eval trigrams)
  *     → train split            (deterministic hash split)
  *     → sequence packing       (two-level sharded token-offset prefix
  *                               sum — no task sorts the corpus)
  *     → shard write            (parquet partitioned by window shard)
  *
  * The gate is two rules, not the 9-rule Gopher gate of `q_gopher_rules`:
  * a turn passes when its whitespace token count is in [3, 100000] and
  * its letter share ((letters + 1) / (chars + 1)) exceeds 0.25. The
  * later stages have the shapes of `q_dedup_exact`, `q_decontaminate`,
  * `q_train_split` and `q_sequence_pack`, composed as ONE job; the
  * returned [[Report]] partitions the input exactly (input = gated +
  * dupDropped + contaminated + heldOut + kept), so silent row loss is
  * impossible. The gate, the decontamination and the packing are the
  * helpers below, which [[graft.streaming.StreamingCorpusBuild]] runs on
  * every micro-batch too.
  */
object CorpusBuild {

  final case class Report(
      input: Long, gated: Long, dupDropped: Long, contaminated: Long,
      heldOut: Long, kept: Long, tokens: Long, windows: Long) {
    def accounted: Boolean =
      input == gated + dupDropped + contaminated + heldOut + kept
  }

  def shardsDir(buildDir: String): String = s"$buildDir/shards"

  /** Token-capacity of one packed training window. */
  val WindowTokens = 512L

  /** Prefix-sum shards for the two-level exact packing: in-shard
    * running sums + broadcast shard bases. 2^16 shards bound both the
    * per-shard window input and the 16-byte-per-row base table.
    */
  val PackShards = 1L << 16

  /** `df` with `n_toks`, the whitespace token count of `text`. */
  private[graft] def withTokenCount(df: DataFrame): DataFrame =
    df.withColumn("n_toks",
      size(filter(split(lower(col("text")), "\\s+"), x => x =!= "")).cast("long"))

  /** The quality gate over [[withTokenCount]]'s rows: `n_toks` in
    * [3, 100000] and a letter share ((letters + 1) / (chars + 1)) above 0.25.
    */
  private[graft] def gatePass: Column = {
    val alphaFrac = (length(regexp_replace(col("text"), "[^a-zA-Z]", "")) + 1.0) /
      (length(col("text")) + 1.0)
    col("n_toks").between(3, 100000) && alphaFrac > 0.25
  }

  /** The rows of `df` (conv_id, turn_idx, text, …) sharing no token
    * trigram hash with `evalTrigrams.g` (q_decontaminate shape: the eval
    * side is tiny — broadcast equi-join on the hashes, then a keyed
    * anti-join back; no non-equi operator anywhere).
    */
  private[graft] def decontaminate(df: DataFrame, evalTrigrams: DataFrame): DataFrame = {
    val withGrams = df
      .withColumn("tks", filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
      .filter(size(col("tks")) >= 3)
      .select(col("conv_id"), col("turn_idx"),
        explode(expr("transform(sequence(0, size(tks)-3)," +
          " i -> hash(tks[i], tks[i+1], tks[i+2]))")).as("g"))
    val contaminatedIds = withGrams
      .join(broadcast(evalTrigrams.select("g")), "g")
      .select("conv_id", "turn_idx").distinct()
    df.join(contaminatedIds, Seq("conv_id", "turn_idx"), "leftanti")
  }

  /** `df` (conv_id, turn_idx, n_toks, …) with global token offsets `off`
    * from `cursor` and `window_id = off DIV WindowTokens`, by the
    * two-level prefix sum (q_sequence_pack shape): running sums within
    * `shards` conv_id hash shards plus broadcast shard bases. The window
    * ids depend on `shards`, so a store keeps one shard count for life.
    */
  private[graft] def pack(df: DataFrame, shards: Long, cursor: Long): DataFrame = {
    val sharded = df.withColumn("shard", pmod(xxhash64(col("conv_id")), lit(shards)))
    val inShard = sharded.withColumn("cum", sum("n_toks").over(
      Window.partitionBy("shard").orderBy("conv_id", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bases = sharded.groupBy("shard").agg(sum("n_toks").as("st"))
      .withColumn("base", sum("st").over(
        Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("st"))
      .select("shard", "base")
    inShard.join(broadcast(bases), "shard")
      .withColumn("off", lit(cursor) + col("base") + col("cum") - col("n_toks"))
      .withColumn("window_id", expr(s"off DIV $WindowTokens"))
  }

  def run(spark: SparkSession, outDir: String, buildDir: String,
      evalTrigrams: DataFrame, holdoutPct: Int = 1): Report = {
    require(holdoutPct >= 0 && holdoutPct < 100, s"bad holdoutPct $holdoutPct")

    val ex = spark.read.parquet(ExtractionPipeline.extractedDir(outDir))
      .filter(col("skip_reason") === "")
      .select(col("conv_id"), col("turn_idx"), col("text"))
    val input = ex.count()

    // 1. quality gate (one codegen'd projection)
    val gatedDf = withTokenCount(ex).withColumn("pass", gatePass)
    val gated = gatedDf.filter(!col("pass")).count()

    // 2. exact dedup, first wins by (conv_id, turn_idx) (q_dedup_exact /
    //    q_window_dedup shape — one shuffle on the content hash)
    val w = Window.partitionBy(md5(col("text")))
      .orderBy(col("conv_id"), col("turn_idx"))
    val deduped = gatedDf.filter(col("pass"))
      .withColumn("rn", row_number().over(w))
    val dupDropped = deduped.filter(col("rn") > 1).count()

    // 3. decontamination against the eval trigram hashes
    val clean = decontaminate(deduped.filter(col("rn") === 1), evalTrigrams)
      .persist() // consumed by the count, the split and the packing
    val afterDedup = input - gated - dupDropped
    val contaminated = afterDedup - clean.count()

    // 4. deterministic hash holdout (q_train_split shape)
    val bucketed = clean.withColumn("hb",
      pmod(conv(substring(md5(concat_ws(":", col("conv_id"), col("turn_idx"))),
        1, 6), 16, 10).cast("long"), lit(100)))
    val train = bucketed.filter(col("hb") >= holdoutPct)
    val heldOut = bucketed.filter(col("hb") < holdoutPct).count()

    // 5. packing: global token offsets from 0, window = offset DIV capacity
    val packed = pack(train, PackShards, cursor = 0L)
      .select("conv_id", "turn_idx", "text", "n_toks", "off", "window_id")

    // 6. shard write, partitioned so one training window never spans files
    packed
      .withColumn("shard", expr(s"window_id DIV 1024"))
      .repartition(col("shard"))
      .sortWithinPartitions("window_id", "off")
      .write.mode(SaveMode.Overwrite).partitionBy("shard")
      .parquet(shardsDir(buildDir))

    val out = spark.read.parquet(shardsDir(buildDir))
    val kept = out.count()
    val tokens = out.agg(sum("n_toks")).head().getLong(0)
    val windows = (tokens + WindowTokens - 1) / WindowTokens
    clean.unpersist()
    Report(input, gated, dupDropped, contaminated, heldOut, kept, tokens, windows)
  }
}
