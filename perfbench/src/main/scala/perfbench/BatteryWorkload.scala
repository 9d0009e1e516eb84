package perfbench

import graft.SparkEntry
import graft.queries._
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `battery`: a fixed subset of `SparkEntry.queries` over the repository's
  * TESTDATA tables (read-only; the seed only orders the queries). The cold
  * pass is set-up: its results are written for the DuckDB oracle check
  * run.py makes. The timed warm passes run the subset in a seeded order
  * until the run's time is up.
  */
object BatteryWorkload {

  /** The subset: queries from all five families whose warm pass (about
    * 9 s on 4 cores) and cold pass fit one run. The whole battery takes
    * minutes per pass on this class of host.
    */
  val Subset: Seq[String] = Seq(
    "q_nation_volume", "q_bm25_docs", "q_minhash_lsh", "q_tfidf_keywords",
    "q_common_substring", "q_kmeans")

  /** The subset's queries over the `documents` text; the others read the
    * TPC-H-like tables (q_nation_volume) or the embeddings (q_kmeans).
    */
  val TextBound: Set[String] = Set(
    "q_bm25_docs", "q_minhash_lsh", "q_tfidf_keywords", "q_common_substring")

  val Families: Seq[(String, Map[String, _])] = Seq(
    "relational" -> RelationalQueries.queries, "retrieval" -> RetrievalQueries.queries,
    "training_data" -> TrainingDataQueries.queries, "curation" -> CurationQueries.queries,
    "scale" -> ScaleQueries.queries)

  /** Full-row sink: every column of every row reaches the driver. Returns
    * the rows, their count and an order-insensitive hash.
    */
  private def sink(df: DataFrame): (Array[Row], Long, Long) = {
    val rows = df.collect()
    (rows, rows.length.toLong, rows.iterator.map(_.hashCode.toLong).sum)
  }

  def run(c: Ctx): Unit = {
    val dir = c.args.tables
    val out = s"${c.work}/cold"
    val names = if (c.tiny) Subset.take(4) else Subset
    c.info("families") = names.map(n => n -> Families.find(_._2.contains(n)).get._1).toMap
    val spark = c.spark()
    c.info("text_docs") = names.count(TextBound) *
      spark.read.parquet(s"$dir/documents.parquet").count().toDouble
    Shared.enable()
    def release(name: String): Unit = {
      spark.catalog.clearCache()
      PersistGuard.assertClean(spark, s"query $name")
    }

    val cold = c.setup {
      names.map { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        val (rows, n, h) = sink(df)
        spark.createDataFrame(rows.toList.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$name")
        release(name)
        name -> (n, h)
      }.toMap
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracles.asJava))

    val t0 = c.elapsedS
    var pass = 0
    while (pass < (if (c.args.trace) 2 else 1) || c.elapsedS - t0 < c.args.seconds) {
      if (pass % 2 == 1) c.traceOn()
      var passMs = 0.0
      var textMs = 0.0
      var complete = true
      for (name <- new Random(c.seed * 31 + pass).shuffle(names)) {
        c.op("battery")(c.tracer.span(s"queries/$name") {
          sink(SparkEntry.queries(name)(spark, dir))
        }) match {
          case Some((_, n, h)) =>
            passMs += c.lastOpMs
            if (TextBound(name)) textMs += c.lastOpMs
            c.sample(s"queries.$name", c.lastOpMs)
            c.check(s"battery.warm_equals_cold.$name.$pass", (n, h) == cold(name),
              s"warm pass gave $n rows / hash $h, cold pass ${cold(name)}")
          case None => complete = false
        }
        c.traceOff()
        release(name)
        if (pass % 2 == 1) c.traceOn()
      }
      c.traceOff()
      if (complete) {
        c.sample("battery.pass_ms", passMs)
        c.sample("battery.text_ms", textMs)
        c.sample("battery.table_ms", passMs - textMs)
      }
      pass += 1
    }
  }
}
