package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Edge branches of the shared embedding kernels that no battery table
  * reaches, each driven through a battery query over a hand-built
  * embeddings table and checked against an in-memory recompute (the
  * `RankingAuditSpec` discipline): an SQ8 dimension with `mx = mn`, and a
  * recall probe whose approximate top 10 shares no id with its exact top 10.
  */
class EmbeddingKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A table dir holding `vecs` as `embeddings.parquet` (label 0). */
  private def tableDir(vecs: Seq[(Long, Seq[Float])]): String = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("emb-kernel").toString
    vecs.map { case (id, e) => (id, e, 0) }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def run(name: String, dir: String) = SparkEntry.queries(name)(spark, dir)

  test("sq8: a constant dimension (mx = mn) codes every value to 0") {
    // dim 1 holds 0.25 in every vector; dims 0 and 2 vary
    val vecs = (0L until 6L).map(id =>
      id -> Seq(id * 0.125f - 0.3f, 0.25f, (id * id % 5) * 0.2f - 0.45f))
    val got = run("q_sq8_quant", tableDir(vecs)).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val expect = (0 until 3).map { dim =>
      val vs = vecs.map(_._2(dim).toDouble)
      val (mn, mx) = (vs.min, vs.max)
      def code(v: Double): Long =
        if (mx == mn) 0L
        else math.min(255L, math.max(0L, math.floor((v - mn) * 255.0 / (mx - mn)).toLong))
      def recon(v: Double): Double = mn + code(v) * (mx - mn) / 255.0
      (dim, math.floor(mn * 1e6 + 0.5) / 1e6, math.floor(mx * 1e6 + 0.5) / 1e6,
        vs.count(v => code(v) == 0L || code(v) == 255L).toLong,
        vs.map { v => val e = v - recon(v); math.floor(e * e * 1e12 + 0.5).toLong }.sum)
    }
    assert(got === expect)
    // every value of the constant dim sits on the 0 edge and reconstructs exactly
    assert(got(1) === ((1, 0.25, 0.25, 6L, 0L)))
  }

  test("recall: a probe whose approximate top 10 misses its exact top 10 reads 0") {
    // 2-d unit vectors on a circle, N = 64, so nlist = 8: vectors 0-7 are
    // the IVF centroids at 45° steps and 8-15 the probes. Probe 8 sits at
    // 10°, so it probes the 0° and 45° cells; its ten nearest vectors sit
    // at -25°..-34°, inside the -45° cell; the 45° cell holds vectors at
    // 60°..67° (farther), the 0° cell only the probe itself.
    def at(deg: Double): Seq[Float] =
      Seq(math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val angles: Map[Long, Double] =
      ((0L until 8L).map(c => c -> c * 45.0) ++
        Seq(8L -> 10.0) ++
        (9L until 16L).map(p => p -> (150.0 + (p - 9) * 17.0)) ++
        (16L until 26L).map(v => v -> -(25.0 + (v - 16))) ++
        (26L until 34L).map(v => v -> (60.0 + (v - 26))) ++
        (34L until 64L).map(v => v -> (140.0 + (v - 34) * 4.3))).toMap
    val vecs = angles.toSeq.sortBy(_._1).map { case (id, deg) => id -> at(deg) }
    val got = run("q_ann_recall", tableDir(vecs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // in-memory IVF recall@10: graft_cosine's fold over the float values
    val e = vecs.toMap.map { case (id, v) => id -> v.map(_.toDouble) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val nlist = math.max(8L, math.floor(math.sqrt(e.size.toDouble)).toLong)
    val cents = (0L until nlist).toSeq
    val corpus = e.keys.filter(_ >= nlist).toSeq.sorted
    def top(ids: Seq[Long], q: Long, k: Int): Seq[Long] =
      ids.filter(_ != q).sortBy(v => (-cos(e(v), e(q)), v)).take(k)
    def cells(v: Long, k: Int): Seq[Long] = cents.sortBy(c => (-cos(e(v), e(c)), c)).take(k)
    val cell = corpus.map(v => v -> cells(v, 1).head).toMap
    val expect = corpus.filter(_ < nlist + 8).map { p =>
      val probed = cells(p, 2).toSet
      val approx = top(corpus.filter(v => probed(cell(v))), p, 10)
      val nHit = top(corpus, p, 10).count(approx.contains).toLong
      (p, nHit, nHit / 10.0)
    }
    assert(got === expect)
    assert(got.head === ((8L, 0L, 0.0)))
  }
}
