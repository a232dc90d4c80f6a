package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** d26's contract, pinned ENGINE-SIDE (the oracle pins it against
  * DuckDB's batch spelling): the incremental merge-upsert dataflow —
  * frozen base-trained quantizer, arriving shard routed/merged, stored
  * base top-k folded with the new candidate pairs — equals the batch
  * rebuild over the same frozen quantizer ROW FOR ROW. The equality is
  * exact, not approximate: top-k(C_base ∪ C_new) = top-k(top-k(C_base)
  * ∪ C_new) under the bounded aggregator's (cos desc, id asc) order.
  */
class GraphUpsertSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"q_id", $"rnk".cast("long"), $"n_id", $"cos_sim")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))

  test("incremental merge-upsert == batch rebuild on the frozen quantizer") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = emb.filter($"vec_id" % 10 =!= 7)
    val arriving = emb.filter($"vec_id" % 10 === 7)
    val inc = rows(Similarity.knnGraphIncrementalFp(base, arriving, k = 5))
    // batch arm: same frozen geometry/quantizer, one full rebuild
    val trained = Similarity.ivfTrainCentroidsFp(base,
      Similarity.scaledNlist(base.count()), hashSeed = true)
    val (sr, cr) = Similarity.firstNsSuperTable(trained,
      Similarity.scaledSuperList(trained.length))
    val routed = Similarity.twoLevelRouted(emb, sr, cr, nprobe = 4,
      superProbe = 3, idCol = "vec_id", vecCol = "embedding")
    val batch = rows(Similarity.knnGraphTailFromRouted(routed, 5))
    inc.length shouldBe batch.length
    inc should contain theSameElementsInOrderAs batch
    // and every vector (base + arriving) carries a full top-5
    inc.map(_._1).distinct.length shouldBe emb.count()
  }

  test("st61 partials + st53 merge == an independent full-replica kernel") {
    val dir = "/root/testdata/sf0.001"
    // The REFERENCE: the unsharded upsert-intent kernel spelled from
    // scratch with a full driver-side replica (fine in a test) — the
    // spelling st53 HAD before round 16 sliced its assets. Pinning
    // both registered rows against it proves the sharded machinery is
    // lossless end to end, not merely self-consistent.
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = 5
    val trained = Similarity.ivfTrainCentroidsFp(emb,
      Similarity.scaledNlist(emb.count()), hashSeed = true)
    val (sr, cr) = Similarity.firstNsSuperTable(trained,
      Similarity.scaledSuperList(trained.length))
    val routed = Similarity.twoLevelRouted(emb, sr, cr, nprobe = 4,
      superProbe = 3, idCol = "vec_id", vecCol = "embedding")
    val vecs = emb.select($"vec_id".cast("long"), $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    val asg = routed.select($"id", element_at($"probes", 1)("_1"))
      .as[(Long, Long)].collect()
    val prob = routed.select($"id", explode($"probes"("_1")))
      .as[(Long, Long)].collect()
    val thr = Similarity.knnGraphTailFromRouted(routed, k)
      .groupBy($"q_id").agg(min($"cos_sim").as("t"), count(lit(1)).as("c"))
      .as[(Long, Double, Long)].collect()
      .map { case (q, t, c) => (q, (t, c)) }.toMap
    val members = asg.groupBy(_._2).map { case (c, xs) => (c, xs.map(_._1).sorted) }
    val probers = prob.groupBy(_._2).map { case (c, xs) => (c, xs.map(_._1).sorted) }
    val sup = sr.map { case (sid, v) => (sid, v.toArray) }
    val cents = cr.map { case (sid, cid, v) => (sid, cid, v.toArray) }
    def dotFF(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def dotFD(a: Array[Float], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }
      acc
    }
    def dotDD(b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < b.length) { acc += b(i) * b(i); i += 1 }
      acc
    }
    def cosFF(a: Array[Float], b: Array[Float]): Double =
      dotFF(a, b) / (math.sqrt(dotFF(a, a)) * math.sqrt(dotFF(b, b)))
    def cosFD(a: Array[Float], b: Array[Double]): Double =
      dotFD(a, b) / (math.sqrt(dotFF(a, a)) * math.sqrt(dotDD(b)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def topBy(xs: Iterator[(Long, Double)], m: Int): Seq[(Long, Double)] =
      xs.filter(!_._2.isNaN).toSeq.sortBy { case (id, c) => (-c, id) }.take(m)
    val expected = vecs.toSeq.sortBy(_._1).flatMap { case (vid, qv) =>
      val qId = vid + 100000L
      val supTop = topBy(sup.iterator.map { case (sid, sv) =>
        (sid, cosFD(qv, sv)) }, 3).map(_._1).toSet
      val probed = topBy(cents.iterator.filter(c => supTop.contains(c._1))
        .map { case (_, cid, cv) => (cid, cosFD(qv, cv)) }, 4).map(_._1)
      if (probed.isEmpty) Seq.empty
      else {
        val cand = probed.flatMap(c =>
          members.getOrElse(c, Array.empty[Long])).distinct
        val nt = topBy(cand.iterator.map(id => (id, cosFF(qv, vecs(id)))), k)
          .zipWithIndex.map { case ((nId, c), i) =>
            ("new_topk", qId, nId, (i + 1).toLong, r6(c)) }
        val ups = probers.getOrElse(probed.head, Array.empty[Long])
          .iterator.map(bq => (bq, cosFF(vecs(bq), qv)))
          .filter(!_._2.isNaN)
          .flatMap { case (bq, c) =>
            val c6 = r6(c)
            thr.get(bq) match {
              case Some((t, cnt)) if cnt >= k && c6 <= t => None
              case _ => Some(("upsert", bq, qId, -1L, c6))
            }
          }
        nt ++ ups
      }
    }.sorted
    // st53 (the registered global merge) == the reference kernel
    val global = graft.streaming.Streaming.streamGraphUpsert(spark, dir)
      .select($"kind", $"q_id", $"n_id", $"rnk".cast("long"), $"cos_sim")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getDouble(4)))
      .sorted
    global should contain theSameElementsInOrderAs expected
    // st61 partials fold losslessly to the same global intents
    val partials = graft.streaming.Streaming
      .streamShardedGraphUpsert(spark, dir, nOwners = 4)
      .select($"kind", $"owner", $"q_id", $"n_id", $"cos_sim")
      .as[(String, Long, Long, Long, Double)].collect()
    val upG = expected.filter(_._1 == "upsert").map(r => (r._2, r._3, r._5)).sorted
    val upP = partials.filter(_._1 == "upsert").map(r => (r._3, r._4, r._5)).sorted
    upP should contain theSameElementsInOrderAs upG.toSeq
    val ntG = expected.filter(_._1 == "new_topk")
      .map(r => (r._2, r._4, r._3, r._5)).sorted
    val ntP = partials.filter(_._1 == "new_topk")
      .groupBy(_._3).toSeq.flatMap { case (q, rows) =>
        rows.map(r => (r._4, r._5)).distinct
          .sortBy { case (id, c) => (-c, id) }.take(5)
          .zipWithIndex.map { case ((id, c), i) => (q, (i + 1).toLong, id, c) }
      }.sorted
    ntP should contain theSameElementsInOrderAs ntG.toSeq
  }

  test("degenerate shards: empty arrivals == the base build; empty base == empty graph") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val none = emb.filter($"vec_id" < 0)
    // no arrivals: the merge is exactly the frozen base graph
    val incNone = rows(Similarity.knnGraphIncrementalFp(emb, none, k = 5))
    val baseOnly = rows(Similarity.knnGraphScaledFp(emb, k = 5))
    incNone should contain theSameElementsInOrderAs baseOnly
    // no base: nothing to freeze an index on — empty output, no throw
    Similarity.knnGraphIncrementalFp(none, emb, k = 5).count() shouldBe 0L
    Similarity.knnGraphScaledFp(none, k = 5).count() shouldBe 0L
    Similarity.pqKnnGraphScaledFp(none, k = 5).count() shouldBe 0L
  }
}
