package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

/** Arguments of the shared near-dup and sketch kernels that no battery
  * table pins, each driven through a battery query over a hand-built
  * documents table and checked against an in-memory recompute (the
  * `EmbeddingKernelSpec` discipline): the shingle-pair block key, the
  * KMV set algebra's left-join fill, and the recall audit's doc slice.
  */
class TextKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private case class Doc(id: Long, text: String, lang: String = "en", source: String = "s0")

  /** A table dir holding `docs` as `documents.parquet`, n_chars = text length. */
  private def tableDir(docs: Seq[Doc]): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("text-kernel").toString
    docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String) = SparkEntry.queries(name)(spark, dir)

  private def r(x: Double, scale: Int): Double = {
    val f = math.pow(10, scale)
    math.floor(x * f + 0.5) / f
  }

  /** Distinct whitespace-token bigrams, the near-dup family's shingles. */
  private def shingles(text: String): Set[String] = {
    val ts = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    ts.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
  }

  /** The first `hexLen` hex digits of md5(s) as a long (`md5Sid`). */
  private def md5Sid(s: String, hexLen: Int): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(hexLen), 16)
  }

  private def words(prefix: String, n: Int): String = (0 until n).map(i => s"$prefix$i").mkString(" ")

  test("shingle pairs: a short doc quoted whole in a long one scores containment 1, not jaccard") {
    val quote = "alpha beta gamma delta epsilon"
    val docs = Seq(
      Doc(1, quote),                                                    // lb 0
      Doc(2, s"${words("pre", 30)} $quote ${words("post", 30)}"),     // lb 2
      Doc(3, "alpha beta gamma zeta eta"),                              // lb 0
      Doc(4, quote, lang = "de"),                                       // other lang
      Doc(5, words("solo", 12)))
    val dir = tableDir(docs)
    val sh = docs.map(d => d.id -> shingles(d.text)).toMap
    def pairs(block: Doc => Any) = for {
      a <- docs; b <- docs
      if a.id < b.id && block(a) == block(b)
      inter = (sh(a.id) & sh(b.id)).size
      if inter > 0
    } yield (a.id, b.id, inter)
    val lb = (d: Doc) => (d.lang, d.text.length / 200)
    val expectJacc = pairs(lb).map { case (a, b, i) =>
      (a, b, r(i.toDouble / (sh(a).size + sh(b).size - i), 5)) }
      .filter(_._3 >= 0.01).sortBy(p => (-p._3, p._1, p._2))
    val expectCont = pairs(_.lang).map { case (a, b, i) =>
      (a, b, r(i.toDouble / math.min(sh(a).size, sh(b).size), 5)) }
      .filter(_._3 >= 0.5).sortBy(p => (-p._3, p._1, p._2))
    def got(q: String) = run(q, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    val jacc = got("q_ngram_jaccard")
    val cont = got("q_containment")
    assert(jacc === expectJacc)
    assert(cont === expectCont)
    // the quoted pair crosses length deciles: whole containment, no Jaccard row
    assert(cont.contains((1L, 2L, 1.0)))
    assert(!jacc.exists(p => p._1 == 1L && p._2 == 2L))
    assert(jacc === Seq((1L, 3L, 0.33333)))
  }

  test("kmv algebra: two sources sharing no bigram read exact_inter 0") {
    val docs = (0L until 6L).map(i =>
      Doc(i, words(if (i % 2 == 0) s"a$i-" else s"b$i-", 40), source = if (i % 2 == 0) "sa" else "sb"))
    val got = run("q_kmv_algebra", tableDir(docs)).collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getDouble(4), x.getDouble(5))).toSeq

    val k = 64
    val denom = math.pow(2.0, 48.0)
    val items = docs.groupBy(_.source).map { case (s, ds) => s -> ds.flatMap(d => shingles(d.text)).toSet }
    def mins(hs: Set[Long]) = hs.toSeq.sorted.take(k)
    def est(m: Seq[Long]): Double =
      if (m.size < k) m.size.toDouble else (k - 1) / (m.max / denom)
    val (a, b) = (items("sa"), items("sb"))
    val (ha, hb) = (a.map(md5Sid(_, 12)), b.map(md5Sid(_, 12)))
    val mu = mins(mins(ha).toSet ++ mins(hb).toSet)
    val expect = Seq(("sa", "sb", (a ++ b).size.toLong, (a & b).size.toLong,
      r(est(mu), 4), r(est(mins(ha)) + est(mins(hb)) - est(mu), 4)))
    assert(got === expect)
    assert(got.head._4 === 0L)
    // 6 docs × 39 bigrams: both sketches and their union run the (k-1)/max_k branch
    assert(ha.size > k && hb.size > k)
  }

  test("dedup recall: a slice with no true pair reads recall 1 through the n_true > 0 branch") {
    // docs 1 and 5 are copies, but only doc_id % 4 = 0 is audited; the
    // sliced docs 0, 4, 8 share no shingle
    val dup = words("copy", 20)
    val docs = Seq(Doc(0, words("x", 20)), Doc(1, dup), Doc(4, words("y", 20)),
      Doc(5, dup), Doc(8, words("z", 20)))
    val got = run("q_dedup_recall", tableDir(docs)).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4)))
      .toSeq

    // minhash candidates over the slice: 8 hashes, 4 bands of 2
    val hashA = Seq(131L, 137L, 139L, 149L, 151L, 157L, 163L, 167L)
    val hashB = Seq(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)
    val p31 = 2147483647L
    val slice = docs.filter(_.id % 4 == 0)
    val sh = slice.map(d => d.id -> shingles(d.text)).toMap
    def sig(id: Long): Seq[Long] = hashA.indices.map(i =>
      sh(id).map(t => (hashA(i) * md5Sid(t, 10) + hashB(i)) % p31).min)
    val pairs = for (a <- slice; b <- slice if a.id < b.id) yield (a.id, b.id)
    val cand = pairs.filter { case (a, b) =>
      (0 until 4).exists(band => sig(a).slice(2 * band, 2 * band + 2) == sig(b).slice(2 * band, 2 * band + 2))
    }
    val truth = pairs.filter { case (a, b) =>
      val i = (sh(a) & sh(b)).size
      r(i.toDouble / (sh(a).size + sh(b).size - i), 5) >= 0.5
    }
    val nHit = truth.count(cand.contains).toLong
    val expect = Seq((truth.size.toLong, cand.size.toLong, nHit,
      if (truth.nonEmpty) r(nHit.toDouble / truth.size, 4) else 1.0,
      if (cand.nonEmpty) r(nHit.toDouble / cand.size, 4) else 1.0))
    assert(got === expect)
    assert(got.head._1 === 0L && got.head._4 === 1.0)
  }
}
