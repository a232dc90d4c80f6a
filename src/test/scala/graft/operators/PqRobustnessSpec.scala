package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import AnnSpec._

/** PQ edge cases the sf-scale oracles cannot exercise: corpora whose id
  * space has GAPS below `ncode` (the codebook is "ids < ncode", and the
  * ADC LUT must stay aligned when some of those ids do not exist), and
  * the fail-fast dimension guard (m must divide the embedding
  * dimension; a silent truncating split would drop trailing elements
  * from every distance).
  */
class PqRobustnessSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  /** Deterministic little corpus, dim 8, with ids 0,1,3,5,6,8,9,10 —
    * ids 2 and 4 are MISSING below ncode=4, so the codebook has 3
    * codewords {0,1,3} and any dense-position assumption misaligns.
    */
  private def gappedCorpus() = {
    import spark.implicits._
    val ids = Seq(0L, 1L, 3L, 5L, 6L, 8L, 9L, 10L)
    ids.map { id =>
      (id, Array.tabulate(8)(i => ((id * 31 + i * 7) % 13 - 6).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Driver-side reference ADC with the operator's exact conventions:
    * codebook = sub-slices of ids < ncode (by id, NOT dense position),
    * codes = argmin codeword per subspace (ties to lower id), adc =
    * sum over subspaces of query-slice-to-codeword d2, top-k ties to
    * lower neighbor id.
    */
  private def referenceAdcTopK(corpus: Map[Long, Array[Double]],
      queryIds: Seq[Long], k: Int, m: Int, ncode: Int): Map[Long, Seq[(Long, Double)]] = {
    val d = corpus.head._2.length
    val subW = d / m
    val cbIds = corpus.keys.filter(_ < ncode).toSeq.sorted
    def slice(v: Array[Double], j: Int) = v.slice(j * subW, (j + 1) * subW)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    val codes = corpus.map { case (id, v) =>
      id -> Array.tabulate(m) { j =>
        cbIds.minBy(c => (d2(slice(v, j), slice(corpus(c), j)), c))
      }
    }
    queryIds.map { q =>
      val qv = corpus(q)
      val scored = corpus.keys.filter(_ != q).toSeq.map { n =>
        val adc = (0 until m).map(j => d2(slice(qv, j), slice(corpus(codes(n)(j)), j))).sum
        (n, adc)
      }
      q -> scored.sortBy { case (n, adc) => (adc, n) }.take(k)
    }.toMap
  }

  test("pqTopK is correct when corpus ids below ncode have gaps") {
    import spark.implicits._
    val emb = gappedCorpus()
    val corpus = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val queries = emb.filter($"vec_id".isin(0L, 5L, 9L))
    val got = Similarity.annTopK(emb, queries, k = 3,
      AnnSpec(Flat, Pq(m = 4, ncode = 4)))
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"),
        r.getAs[Int]("rnk"), r.getAs[Double]("adc_d2")))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(t => (t._2, t._4)).toSeq).toMap
    val want = referenceAdcTopK(corpus, Seq(0L, 5L, 9L), k = 3, m = 4, ncode = 4)
      .view.mapValues(_.map { case (n, adc) =>
        (n, BigDecimal(adc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }).toMap
    got.keySet shouldBe want.keySet
    for (q <- want.keySet) {
      got(q).map(_._1) shouldBe want(q).map(_._1) // neighbor order
      got(q).zip(want(q)).foreach { case ((_, g), (_, w)) => g shouldBe w +- 1e-9 }
    }
  }

  test("pqEncode emits codeword IDS (never dense positions) on a gapped codebook") {
    import spark.implicits._
    val emb = gappedCorpus()
    val codes = Similarity.pqEncode(emb, m = 4, ncode = 4)
      .select($"n_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    codes.keySet shouldBe Set(0L, 1L, 3L, 5L, 6L, 8L, 9L, 10L)
    // every code is one of the surviving codebook ids — 2 must not appear
    val legal = Set(0L, 1L, 3L)
    codes.values.flatten.toSet.subsetOf(legal) shouldBe true
    // codebook members encode to themselves (their own sub-vector is at d2=0)
    codes(0L) shouldBe Seq(0L, 0L, 0L, 0L)
    codes(3L) shouldBe Seq(3L, 3L, 3L, 3L)
    // local (streaming) encode agrees with the distributed aggregate
    val cb = Similarity.pqCodebookLocal(emb, m = 4, ncode = 4)
    val corpus = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    for ((id, v) <- corpus)
      Similarity.pqEncodeLocal(v, cb).toSeq shouldBe codes(id)
  }

  test("dimension not divisible by m fails fast instead of silently truncating") {
    import spark.implicits._
    val bad = Seq(
      (0L, Array.tabulate(7)(_.toFloat)),
      (1L, Array.tabulate(7)(i => (i + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.pqEncode(bad, m = 4, ncode = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    messages(ex).mkString("\n") should include("multiple of m=4")
  }

  test("qualityKeep is an explicit false (not null) for null text") {
    import spark.implicits._
    val sw = Seq("the", "a", "of")
    val df = Seq((1L, null: String), (2L, ""), (3L, "tiny"))
      .toDF("doc_id", "text")
      .select($"doc_id",
        graft.functions.TextAnalysis.qualityKeep($"text", sw).as("keep"))
    val rows = df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    rows(1L) shouldBe false // was null before the coalesce guard
    rows(2L) shouldBe false
    rows(3L) shouldBe false
  }
}
