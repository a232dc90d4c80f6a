package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** s42's contract, pinned ENGINE-SIDE (the oracle pins it against
  * DuckDB's survivors-rebuild spelling): the tombstone dataflow —
  * frozen full-corpus quantizer, deleted queries dropped, affected
  * survivors re-ranked over surviving assignments, untouched queries
  * kept verbatim — equals the batch rebuild over the survivors under
  * the same frozen routing ROW FOR ROW. The untouched-query shortcut
  * is exact because a top-k whose members all survive is unchanged by
  * deleting non-members.
  */
class GraphTombstoneSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"q_id", $"rnk".cast("long"), $"n_id", $"cos_sim")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))

  test("incremental tombstone == survivors rebuild on the frozen quantizer") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val deleted = emb.filter($"vec_id" % 10 === 3).select($"vec_id")
    val inc = rows(Similarity.knnGraphTombstoneFp(emb, deleted, k = 5))
    // batch arm: geometry/quantizer from EVERYONE, routing only survivors
    val trained = Similarity.ivfTrainCentroidsFp(emb,
      Similarity.scaledNlist(emb.count()), hashSeed = true)
    val (sr, cr) = Similarity.firstNsSuperTable(trained,
      Similarity.scaledSuperList(trained.length))
    val routed = Similarity.twoLevelRouted(emb.filter($"vec_id" % 10 =!= 3),
      sr, cr, nprobe = 4, superProbe = 3, idCol = "vec_id",
      vecCol = "embedding")
    val batch = rows(Similarity.knnGraphTailFromRouted(routed, 5))
    inc.length shouldBe batch.length
    inc should contain theSameElementsInOrderAs batch
    // no deleted id appears on either side of any surviving edge
    val del = deleted.as[Long].collect().toSet
    inc.foreach { case (q, _, n, _) =>
      del should not contain q
      del should not contain n
    }
  }

  test("masked serving (s43): full k live results per query, no tombstoned id") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val graph = Similarity.knnEdgesScaled(emb, graphK = 10, undirected = true)
      .persist()
    val got = Similarity.graphBeamSearchOver(graph,
        emb.filter($"vec_id" % 10 =!= 3), emb.filter($"vec_id" < 5),
        k = 5, beam = 16, rounds = 3, seedMod = 64)
      .select($"q_id", $"n_id", $"rnk".cast("long"))
      .as[(Long, Long, Long)].collect()
    graph.unpersist()
    // the tombstoned region still has live density: every query gets
    // its full k, and none of it is a deleted id
    got.groupBy(_._1).values.foreach(_.map(_._3).sorted shouldBe (1L to 5L))
    got.foreach { case (_, n, _) => (n % 10) should not be 3L }
  }

  test("s51: the mask composes with the routed generation at zero build cost") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s51_spec")
    // mutable synthetic corpus (AssetManifestSpec's generator shape)
    val staging = dir.resolve("staging")
    (0 until 160).map { i =>
      (i.toLong, Array.tabulate(64)(j =>
        (((i * 13 + j * 7 + 5) % 29) - 14).toFloat / 7f), s"l${i % 3}")
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val part = java.nio.file.Files.list(staging)
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.move(part, dir.resolve("embeddings.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val d = dir.toString
    val emb = spark.read.parquet(s"$d/embeddings.parquet")
    val del = emb.filter($"vec_id" % 10 === 3)
      .select($"vec_id".cast("long").as("vec_id"))
    val mask = del.unionByName(del.select(($"vec_id" + 100000L).as("vec_id")))
    // serve unmasked once so the gen-2 asset exists, then snapshot the
    // stored generation's marker mtime — the masked serve must not
    // rebuild or republish anything
    Similarity.generationRoutedServing(spark, d).count()
    val marker = new java.io.File(Assets.assetPath(spark,
      s"graft_knn_ranked_5_64_4_3_${Assets.tagOf(d)}_gen2") + "_source")
    val mt = marker.lastModified()
    val got = Similarity.generationRoutedServing(spark, d,
        maskIds = Some(mask))
      .select($"q_id", $"n_id", $"rnk".cast("long"))
      .as[(Long, Long, Long)].collect()
    marker.lastModified() shouldBe mt // zero builds through the masked serve
    // full-k live results; no masked id (base OR re-uploaded arrival)
    got.groupBy(_._1).values.foreach(_.map(_._3).sorted shouldBe (1L to 5L))
    got.foreach { case (_, n, _) => (n % 10) should not be 3L }
  }

  test("st59: intent-stream-derived mask == closed-form mask serving") {
    val spark0 = spark
    import spark0.implicits._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // composed: mask anti-joined from st54's streamed drop intents,
    // serving over the stored build-once asset
    val got = graft.streaming.Streaming.streamTakedownToServing(spark, dir)
      .select($"q_id", $"rnk".cast("long"), $"n_id", $"cos_sim")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // direct: s43's literal-predicate spelling over an inline build
    val graph = Similarity.knnEdgesScaled(emb, graphK = 10,
      undirected = true).persist()
    val want = Similarity.graphBeamSearchOver(graph,
        emb.filter($"vec_id" % 10 =!= 3), emb.filter($"vec_id" < 5),
        k = 5, beam = 16, rounds = 3, seedMod = 64)
      .select($"q_id", $"rnk".cast("long"), $"n_id", $"cos_sim")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    graph.unpersist()
    got should contain theSameElementsInOrderAs want
  }

  test("degenerate batches: empty delete == the frozen graph; delete-all == empty") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val none = emb.filter($"vec_id" < 0).select($"vec_id")
    val tsNone = rows(Similarity.knnGraphTombstoneFp(emb, none, k = 5))
    val baseOnly = rows(Similarity.knnGraphScaledFp(emb, k = 5))
    tsNone should contain theSameElementsInOrderAs baseOnly
    // purge everything: the graph empties, no throw
    Similarity.knnGraphTombstoneFp(emb, emb.select($"vec_id"), k = 5)
      .count() shouldBe 0L
  }
}
