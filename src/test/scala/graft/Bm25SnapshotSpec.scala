package graft

import graft.pipeline.TableIO
import graft.retrieval.{Bm25IndexTables, Retrieval}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The index path scores from memoized per-snapshot corpus scalars and a
  * term-filtered postings scan. It must score exactly like the live-corpus
  * BM25 ([[Retrieval.bm25Scores]]), and every index write must move the
  * memo key, so a question after a write never sees the old scalars.
  */
class Bm25SnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  /** (id, score) ranked by score desc, id asc. */
  private def ranked(df: DataFrame): Seq[(String, Double)] =
    df.select(col("doc_id"), col("score")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
      .sortBy { case (id, s) => (-s, id) }

  private def assertSameScores(got: Seq[(String, Double)], want: Seq[(String, Double)],
      clue: String): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$clue: ids or order differ")
    got.zip(want).foreach { case ((id, a), (_, b)) =>
      assert(math.abs(a - b) <= 1e-9, s"$clue: $id scored $a, want $b")
    }
  }

  // "common" is in 5 of 7 docs (df > N/2, so its raw idf is negative and
  // the epsilon floor applies); d6 and d7 have no tokens but count toward
  // N and avgdl
  private val docs = Seq(
    "d1" -> "common alpha beta alpha",
    "d2" -> "common beta gamma",
    "d3" -> "common delta alpha epsilon zeta",
    "d4" -> "common gamma",
    "d5" -> "common theta theta theta iota kappa",
    "d6" -> "",
    "d7" -> "?! ... --")

  private val questions = Seq(
    "common" -> "df > N/2: epsilon-floored idf",
    "alpha alpha beta" -> "repeated query term (qn = 2)",
    "common theta gamma" -> "mixed floored and positive idf",
    "nowhere absent" -> "no corpus term")

  test("index scores equal live-corpus BM25: floor, qn = 2, misses, zero-token docs") {
    val live = corpus(docs: _*)
    val dir = Files.createTempDirectory("bm25snap").toString
    Bm25IndexTables.build(live, "doc_id", "text", dir)

    val snap = Bm25IndexTables.snapshot(spark, dir)
    assert(snap.nDocs == 7, "zero-token docs count toward N")
    assert(spark.read.parquet(Bm25IndexTables.postingsDir(dir))
      .filter(col("term") === "common").count() * 2 > snap.nDocs,
      "fixture: the floor branch must run")

    questions.foreach { case (q, clue) =>
      val want = ranked(Retrieval.bm25Scores(live, "doc_id", "text", q))
      assertSameScores(ranked(Bm25IndexTables.score(spark, dir, q, "doc_id")), want, clue)
      if (clue == "no corpus term") assert(want.isEmpty)
      else assert(want.nonEmpty)
    }

    // all questions in one pass keep each question's scores
    val multi = Bm25IndexTables.scoreMulti(spark, dir,
      questions.map(_._1).zipWithIndex.map(_.swap), "doc_id")
    questions.zipWithIndex.foreach { case ((q, clue), v) =>
      assertSameScores(ranked(multi.filter(col("v") === v)),
        ranked(Retrieval.bm25Scores(live, "doc_id", "text", q)), s"multi: $clue")
    }
  }

  test("every index write moves the memo key: build, add, delete, compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bm25inv").toString
    val q = "common alpha theta"

    // memo-free scores over the tables as they are now
    def fresh(): Seq[(String, Double)] = {
      val stats = spark.read.parquet(Bm25IndexTables.doclensDir(dir))
        .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      ranked(Retrieval.bm25ScoresFromIndex(
        spark.read.parquet(Bm25IndexTables.postingsDir(dir)), stats, "doc_id", Seq(0 -> q)))
    }

    var previous = Seq.empty[(String, Double)]
    def step(name: String)(write: => Unit): Unit = {
      write
      val want = fresh()
      // twice: the second answer comes from the memo filled by the first
      Seq(1, 2).foreach(_ => assertSameScores(
        ranked(Bm25IndexTables.score(spark, dir, q, "doc_id")), want, name))
      assert(want != previous, s"$name: fixture must change the scores")
      previous = want
    }

    step("build")(Bm25IndexTables.build(corpus(docs.take(4): _*), "doc_id", "text", dir))
    // add appends into the current version without a pointer flip
    step("add")(Bm25IndexTables.add(corpus(docs.drop(4): _*), "doc_id", "text", dir))
    step("delete")(Bm25IndexTables.delete(spark, Seq("d2").toDF("doc_id"), "doc_id", dir))
    step("add again")(Bm25IndexTables.add(
      corpus("d8" -> "alpha common common"), "doc_id", "text", dir))
    // compact keeps the contents: the scores stay, but the key must move
    // with the new version's files
    val before = previous
    Bm25IndexTables.compact(spark, dir, targetPartitions = 2)
    assert(Bm25IndexTables.snapshot(spark, dir).dir.endsWith("v3"))
    assertSameScores(ranked(Bm25IndexTables.score(spark, dir, q, "doc_id")), fresh(), "compact")
    assertSameScores(fresh(), before, "compact keeps the contents")
  }

  test("resolving the snapshot tolerates a committer's hidden files vanishing") {
    val dir = Files.createTempDirectory("bm25race").toString
    Bm25IndexTables.build(corpus(docs: _*), "doc_id", "text", dir)
    val want = Bm25IndexTables.snapshot(spark, dir)
    val post = Paths.get(Bm25IndexTables.postingsDir(dir))
    // an appending committer's churn: `_temporary` task files and `.crc`
    // side files appear and vanish while questions resolve the snapshot
    val stop = new AtomicBoolean(false)
    val rounds = new AtomicInteger()
    val churn = new Thread(() => {
      while (!stop.get()) {
        val i = rounds.get()
        val task = Files.createDirectories(post.resolve(s"_temporary/0/_temporary/attempt_$i"))
        Files.createFile(task.resolve(s"part-$i.parquet"))
        val crc = Files.createFile(post.resolve(s".part-$i.crc"))
        TableIO.deleteTree(post.resolve("_temporary"))
        Files.delete(crc)
        rounds.incrementAndGet()
      }
    })
    churn.start()
    try (1 to 3000).foreach(_ => assert(Bm25IndexTables.snapshot(spark, dir) == want))
    finally { stop.set(true); churn.join() }
    assert(rounds.get() > 0, "the churn thread must run")
  }
}
