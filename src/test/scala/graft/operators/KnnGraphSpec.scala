package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.functions.TopKCosAgg
import AnnSpec._

/** Structural invariants of the big-big k-NN graph (s30) and its
  * bounded top-k aggregator.
  *
  * The strongest check is an identity between two INDEPENDENT
  * implementations: [[Similarity.ivfKnnGraphTrainedFp]] (shuffle block
  * join + TopKCosAgg map-side folds) and [[Similarity.annTopK]] over trained IVF
  * with the query side set to the whole corpus (broadcast probes +
  * window rank). Same trained quantizer, same probed lists, same tie
  * rules — every (q, n, rnk, cos) row must agree bit-for-bit. A bug in
  * either path's routing, dedup, or tie order breaks the identity.
  */
class KnnGraphSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("block-join k-NN graph == broadcast-query trained IVF on the full corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"q_id", $"rnk".cast("long"), $"n_id", $"cos_sim")
        .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val graph = rows(Similarity.ivfKnnGraphTrainedFp(emb, k = 5,
      nlist = 32, nprobe = 4))
    val bcast = rows(Similarity.annTopK(emb, emb, k = 5,
      AnnSpec(Ivf(nlist = 32, nprobe = 4), Raw, TrainedFp)))
    graph.length shouldBe bcast.length
    graph should contain theSameElementsInOrderAs bcast
  }

  test("TopKCosAgg: reduce/merge in any grouping equals sort-truncate") {
    val agg = new TopKCosAgg(4)
    val rnd = new scala.util.Random(20260815L)
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(20)
      // small value/id ranges force score ties and id collisions; exact
      // duplicate pairs are dropped so the naive reference stays simple
      val clean = List.fill(n)(
        (rnd.nextInt(8).toLong, rnd.nextInt(5) / 4.0)).distinct
      val expected = clean.sortBy { case (id, s) => (-s, id) }.take(4)
      val folded = clean.foldLeft(agg.zero)(agg.reduce)
      agg.finish(folded) shouldBe expected
      // arbitrary two-way split, then merge — the partial-agg path
      val at = if (clean.isEmpty) 0 else rnd.nextInt(clean.size + 1)
      val (a, b) = clean.splitAt(at)
      val merged = agg.merge(
        a.foldLeft(agg.zero)(agg.reduce),
        b.foldLeft(agg.zero)(agg.reduce))
      agg.finish(merged) shouldBe expected
    }
  }

  test("TopKCosAgg: NaN scores never displace real entries") {
    val agg = new TopKCosAgg(2)
    val buf = List((1L, 0.5), (2L, Double.NaN), (3L, 0.7), (4L, Double.NaN))
      .foldLeft(agg.zero)(agg.reduce)
    agg.finish(buf).map(_._1) shouldBe Seq(3L, 1L)
  }
}
