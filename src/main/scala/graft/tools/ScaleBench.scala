package graft.tools

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The empirical scale ladder: times the flagship queries at 1x and Nx
  * (default 10x) the base sf and reports each query's PER-ITEM scaling
  * factor tN / (N * t1) — ~1.0 is linear, materially above ~1.3 names a
  * scale bug. This converts the 100 TB plan-shape story into a
  * measurement.
  *
  * The Nx corpus is synthesized DETERMINISTICALLY from the base tables,
  * copy i shifted into disjoint id spaces, with mutations chosen so
  * per-item DENSITY is preserved (the property organic growth has, and
  * the property that makes the ladder honest):
  *
  *  - documents: copy i suffixes every token with `_i` — each copy's
  *    internal near-dup structure replicates the base corpus exactly,
  *    but NO shingle collides across copies (a naive text copy would
  *    multiply every LSH bucket's population by N and measure quadratic
  *    pair growth, not engine scaling).
  *  - embeddings: copy i rotates the dimensions by 7i mod 64 — an
  *    ORTHOGONAL transform, so every intra-copy cosine (and the whole
  *    neighbor structure) is preserved exactly; cross-copy cosines are
  *    uncorrelated.
  *  - events: copy i shifts event time by 50000i hours — each copy is a
  *    disjoint band in (value, hour) space, so cluster structure
  *    replicates N times at constant density.
  *  - orders: copy i shifts order/customer keys — N times the
  *    customers, identical per-customer spend profile.
  *
  * Tables are written as ONE file each (the stream sources'
  * pathGlobFilter matches leaf file names) with small parquet row
  * groups so batch scans still split into parallel tasks.
  */
object ScaleBench {

  private val Flagships = Seq(
    "d04_lsh_pairs", "d08_dedup_pipeline", "d13_long_spans", "s09_lsh_banded",
    "s13_pq_index_probe", "s15_ivf_pq_topk", "s19_semantic_dedup",
    "t17_curation_pipeline", "t18_source_triage", "t19_temperature_mix",
    "t21_link_authority", "t22_dsir_importance", "t23_lm_perplexity",
    "t24_weighted_sample", "t25_histogram_threshold",
    "q34_decile_spend", "q38_global_rank", "q39_interval_overlap",
    "q44_triangles",
    "m06_phash_neardup", "m07_frame_neardup", "t26_cm_heavy_hitters",
    "s21_binary_rerank", "s22_matryoshka", "t27_chunk_overlap", "t28_novelty",
    "t30_hll_distinct",
    "q46_merge_upsert", "q47_retention_cohorts", "t32_bpe_trained",
    "q48_khop_reach", "q49_kdist_eps",
    "t33_sketch_overlap", "st25_stream_scd2_enrich", "q50_fuzzy_join",
    "q51_graph_components", "t34_bm25_topk",
    "q52_skyline", "t35_textrank_keywords", "s25_sq8_rerank",
    "st26_stream_anomaly", "st27_stream_skyline", "m08_vad_segments",
    "st28_stream_drift", "q53_column_stats", "q54_transitions",
    "st29_stream_transitions", "q55_skyline3d", "st30_stream_profile",
    "dbscan_events", "st08_stream_index_probe",
    "q57_gapfill_series", "q58_decay_score", "q59_waiting_supplier",
    "t37_vocab_growth", "t38_collocations", "m09_shot_cuts",
    "st31_stream_funnel", "st32_stream_decay", "q56_frequent_pairs",
    "q60_attribution", "st33_stream_attribution",
    "q61_bloom_join", "q62_aqp_estimate", "st34_stream_bloom",
    "st35_stream_kmv", "q63_trend", "q64_peak_concurrency",
    "d18_snapshot_diff", "t39_dedup_eval", "q65_ab_test", "s26_mips_topk",
    "st36_stream_ab_test", "m10_byte_entropy", "st37_stream_trend",
    "t40_lsh_tradeoff", "q66_prorated_revenue",
    "q67_sketch_rollup", "q68_mad_outliers", "q69_share_ratio",
    "q70_dim_asof_enrich", "q71_windowed_dedup", "t41_zipf_slope",
    "t42_ks_drift", "d19_weighted_jaccard", "s27_kmeans_train",
    "st38_stream_ks", "s23_ivf_trained_topk", "s24_ivf_pq_trained",
    "st23_stream_quantiles", "s28_maxsim_rerank", "q72_above_own_p90",
    "t43_dup_ngram_fraction", "q73_path_trigrams", "st39_stream_throttle",
    "s29_ivf_recall_curve", "m11_constellation_match",
    "t44_repetition_rules", "m12_shot_keyframes",
    "st40_stream_constellation", "t45_quality_classifier",
    "st41_stream_quality_gate", "q74_entity_resolution", "s30_knn_graph",
    "s31_ivf_multiprobe", "s32_knn_graph_components", "m13_constellation_recall",
    "t46_trained_classifier", "st42_stream_bpe_tokens",
    "s33_jl_topk", "s34_margin_pairs", "t47_tokenizer_fitness",
    "d20_incremental_stats", "st43_stream_ivm",
    "q75_seasonality", "t48_edit_verify", "d21_dup_spans",
    "st44_stream_dup_probe", "st45_stream_seasonality",
    "s35_graph_ann", "s36_graph_ann_recall", "m14_chunk_dedup_stats",
    "q76_entry_exit", "t49_term_dispersion", "s37_graph_index_probe",
    "st46_stream_entry_exit", "st47_stream_dispersion", "d22_bcubed_eval",
    "t50_dedup_remix", "st48_stream_chunk_probe",
    "q77_label_propagation", "t51_ccnet_buckets", "t52_cluster_balance",
    "m15_clip_filter", "st49_stream_cluster_quota", "d23_time_travel",
    "t53_source_kl", "s38_pq_knn_graph", "st50_stream_graph_probe",
    "t54_leakage_safe_split", "s39_knn_graph_2level", "m16_av_sync",
    "d24_dedup_bias", "st51_stream_source_kl", "d25_bloom_decontaminate",
    "st52_stream_av_sync", "d26_graph_upsert", "s40_routing_frontier",
    "s41_pq_graph_recall", "st53_stream_graph_upsert",
    "s42_graph_tombstone", "d27_takedown_reelect", "st54_stream_tombstone",
    "m17_speech_coverage", "s43_tombstone_serving",
    "st55_stream_takedown_propagate", "t55_rendezvous_shards",
    "s44_graph_serve_upserted", "st56_stream_shard_router",
    "st57_stream_speech_coverage", "t56_shard_rebalance",
    "st58_sharded_graph_probe", "st59_takedown_to_serving",
    "s45_asset_manifest", "st60_sharded_takedown_serving",
    "st61_sharded_graph_upsert", "s46_shard_manifest",
    "st62_shard_resize_serving", "st63_shard_failover_serving",
    "st64_scatter_gather_serving", "s49_upsert_compaction",
    "s50_generation_serving", "s51_generation_masked_serving")

  /** Ladder overrides for queries whose REGISTERED config is
    * corpus-size-dependent in production. s19's cluster count must grow
    * with the corpus (SemDeDup runs ~sqrt(n)..n/const clusters): a
    * fixed nlist at Nx would grow every cluster's population ×N and the
    * within-cluster pair join ×N² — measuring configuration debt, not
    * engine scaling. nlist = 32·copies keeps expected per-cluster
    * population constant, the property the production deployment has.
    */
  private def override_(name: String, copies: Int)
      : Option[(SparkSession, String) => DataFrame] = name match {
    case "s19_semantic_dedup" => Some { (s, dir) =>
      val n = if (copies <= 1) 32 else 32 * copies
      graft.operators.Similarity.semanticDedup(
        s.read.parquet(s"$dir/embeddings.parquet"), nlist = n, minCos = 0.95)
    }
    // s30/s32/s34/s38 need NO override since round 14: the registered
    // operators (knnGraphScaledFp / pqKnnGraphScaledFp) derive nlist =
    // max(32, ceil(n/64)) and the two-level routing geometry from the
    // corpus themselves — the ladder measures the production config by
    // construction. (Before round 14 these rows were flat-routed at a
    // fixed nlist and the ladder had to scale nlist ∝ copies by hand —
    // and still measured the flat routing scan's quadratic O(n·nlist)
    // term: s30's marginal s/copy rose 0.93 → 1.78 from 30× to 100×.)
    // s35/s36/s37 need NO override since the round-14 serving-family
    // re-registration: their BUILD arm is knnEdgesScaled (count-derived
    // nlist, two-level routing), so the ladder measures the production
    // config by construction — same reason s30/s32/s34/s38 dropped
    // their overrides. (Before: knnEdges at hand-scaled nlist ∝ copies,
    // which still paid the flat routing scan's O(n·nlist) term.)
    // s39: nlist ∝ corpus like s30, superList ≈ √nlist (the optimum of
    // the two-level routing cost superList + superProbe·nlist/superList)
    // — the rung that MEASURES the tree's routing win over s30's flat scan
    case "s39_knn_graph_2level" => Some { (s, dir) =>
      val n = if (copies <= 1) 32 else 32 * copies
      val sl = math.max(6, math.ceil(math.sqrt(n.toDouble)).toInt)
      graft.operators.Similarity.ivfKnnGraphTrainedFp2L(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 5,
        nlist = n, nprobe = 4, superList = sl, superProbe = 3)
    }
    // s40 is the eval row for the ROUTING tradeoff: its arms must scale
    // nlist ∝ copies (the production convention the row evaluates).
    // The truth side needs no override since round 15 — the registered
    // qMod = 0 derives the ~500-query budget from the corpus count at
    // every rung (and s41 self-scales entirely, so its override is
    // gone).
    case "s40_routing_frontier" => Some { (s, dir) =>
      val nl = if (copies <= 1) 32 else 32 * copies
      val sl = math.max(6, math.ceil(math.sqrt(nl.toDouble)).toInt)
      graft.queries.NorthStar.routingFrontierQuery(s, dir,
        nlist = nl, superList = sl, qMod = 0L)
    }
    // st50 serves over the same asset — the build self-scales since
    // round 14; seedMod ∝ corpus keeps the per-query seed scan
    // constant-cost (HNSW's sparse-upper-level contract; s35's
    // documented knob)
    case "st50_stream_graph_probe" => Some { (s, dir) =>
      val sm = if (copies <= 1) 64 else 64 * copies
      graft.streaming.Streaming.streamGraphProbe(s, dir,
        k = 5, beam = 16, rounds = 3, seedMod = sm)
    }
    // st58: production grows the SHARD COUNT with the corpus so the
    // per-shard replica stays one-worker-sized — the rung does the
    // same (nShards = copies keeps the slice at the 1x corpus size;
    // capped at 50 so the 100x rung runs 50 builds of 2x slices
    // rather than 100 sequential driver-loop jobs). Per-shard seeds
    // then stay constant without touching seedMod — the slice itself
    // is constant, unlike st50's whole-corpus replica.
    case "st58_sharded_graph_probe" => Some { (s, dir) =>
      val nsh = if (copies <= 1) 4 else math.min(copies, 50)
      graft.streaming.Streaming.streamShardedGraphProbe(s, dir,
        nShards = nsh)
    }
    // st60: same shard-count convention as st58 (the stack it composes)
    case "st60_sharded_takedown_serving" => Some { (s, dir) =>
      val nsh = if (copies <= 1) 4 else math.min(copies, 50)
      graft.streaming.Streaming.streamShardedTakedownServing(s, dir,
        nShards = nsh)
    }
    // st61: owner count grows with the corpus so the per-owner cell
    // slice stays one-worker-sized (st58's convention on the CELL key)
    case "st61_sharded_graph_upsert" => Some { (s, dir) =>
      val now = if (copies <= 1) 4 else math.min(copies, 50)
      graft.streaming.Streaming.streamShardedGraphUpsert(s, dir,
        nOwners = now)
    }
    // st53 is st61's global merge since round 16 — its OUTPUT is
    // nOwners-independent, so the ladder scales the owner fleet the
    // same way (the merge itself is a bounded per-arrival top-k)
    case "st53_stream_graph_upsert" => Some { (s, dir) =>
      val now = if (copies <= 1) 4 else math.min(copies, 50)
      graft.streaming.Streaming.streamGraphUpsert(s, dir, nOwners = now)
    }
    // s49 applies st53's intent log — same owner-fleet convention
    case "s49_upsert_compaction" => Some { (s, dir) =>
      val now = if (copies <= 1) 4 else math.min(copies, 50)
      graft.operators.Similarity.compactUpsertKnnIndex(s, dir, nOwners = now)
    }
    // s50 serves whatever generation the manifest routes to — the
    // ensured flush follows s49's owner-fleet convention; the walk
    // itself is corpus-independent per query
    case "s50_generation_serving" => Some { (s, dir) =>
      val now = if (copies <= 1) 4 else math.min(copies, 50)
      graft.operators.Similarity.generationRoutedServing(s, dir,
        nOwners = now)
    }
    // s51 composes the takedown mask over s50's routed generation —
    // same conventions; the mask list scales with the corpus but the
    // anti-join keys on the id (never collected)
    case "s51_generation_masked_serving" => Some { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val now = if (copies <= 1) 4 else math.min(copies, 50)
      val del = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") % 10 === 3)
        .select(col("vec_id").cast("long").as("vec_id"))
      val mask = del.unionByName(
        del.select((col("vec_id") + 100000L).as("vec_id")))
      graft.operators.Similarity.generationRoutedServing(s, dir,
        nOwners = now, maskIds = Some(mask))
    }
    // st62: the fleet BEING resized grows with the corpus (st58's
    // convention), and the resize always adds one shard — so the new
    // shard's build stays a ~1/kTo sliver at every rung
    case "st62_shard_resize_serving" => Some { (s, dir) =>
      val kf = if (copies <= 1) 4 else math.min(copies, 50)
      graft.streaming.Streaming.streamShardResizeServing(s, dir,
        kFrom = kf, kTo = kf + 1)
    }
    // st63: the pre-failover fleet grows with the corpus and always
    // loses one node — survivors stay at st58's per-shard replica size
    case "st63_shard_failover_serving" => Some { (s, dir) =>
      val kf = if (copies <= 1) 5 else math.min(copies, 50) + 1
      graft.streaming.Streaming.streamShardFailoverServing(s, dir,
        kFrom = kf)
    }
    // st64: shard count grows with the corpus (st58's convention),
    // the scatter breadth stays constant, and routerMod scales with
    // the corpus so the navigation summary stays constant-size
    // (st50's seedMod convention one level up). routerMod stops
    // scaling where nShards stops (the 50 cap): past it per-shard
    // slices GROW with the corpus, and growing routerMod further
    // would thin a shard's router slice toward zero — an unroutable
    // shard is a silent whole-fleet recall blind spot.
    case "st64_scatter_gather_serving" => Some { (s, dir) =>
      val nsh = if (copies <= 1) 4 else math.min(copies, 50)
      val rm = if (copies <= 1) 64 else 64 * math.min(copies, 50)
      graft.streaming.Streaming.streamScatterGatherServing(s, dir,
        nShards = nsh, probeShards = 2, routerMod = rm)
    }
    case _ => None
  }

  private def writeSingleFile(df: DataFrame, outDir: java.nio.file.Path, table: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val staging = outDir.resolve(s"staging_$table")
    df.coalesce(1).write.mode("overwrite")
      .option("parquet.block.size", (4 * 1024 * 1024).toString)
      .parquet(staging.toString)
    val listed = Files.list(staging)
    val part = try listed.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listed.close()
    Files.move(part, outDir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
    FileUtils.deleteQuietly(staging.toFile)
  }

  /** Deterministic Nx synthesis of the flagship tables into `out`.
    * GRAFT_SCALE_TABLES (comma-separated) restricts which tables are
    * synthesized — for single-query ladder rungs (e.g. q50 at 100x
    * needs only customer) where writing a 60M-row lineitem would be
    * pure overhead. Unset = all tables (the full-evidence run).
    */
  def synth(s: SparkSession, base: String, out: String, copies: Int): Unit = {
    val outDir = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(outDir)
    val tables = sys.env.get("GRAFT_SCALE_TABLES").map(_.split(",").toSet)
    def want(t: String): Boolean = tables.forall(_.contains(t))

    if (want("documents")) {
      val docs = s.read.parquet(s"$base/documents.parquet")
      writeSingleFile((0 until copies).map { i =>
        if (i == 0) docs
        else {
          val toks = split(trim(col("text")), "\\s+")
          docs.select((col("doc_id") + i * 10000000L).as("doc_id"),
            array_join(transform(toks, t => concat(t, lit(s"_$i"))), " ").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }
      }.reduce(_ unionByName _), outDir, "documents")
    }

    if (want("embeddings")) {
      val emb = s.read.parquet(s"$base/embeddings.parquet")
      writeSingleFile((0 until copies).map { i =>
        val r = (i * 7) % 64
        val rot = if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, 64 - r), slice(col("embedding"), 1, r))
        emb.select((col("vec_id") + i * 10000000L).as("vec_id"),
          rot.as("embedding"), col("label"))
      }.reduce(_ unionByName _), outDir, "embeddings")
    }

    if (want("events")) {
      val ev = graft.sources.Sources.events(s, base)
      writeSingleFile((0 until copies).map { i =>
        ev.select((col("event_id") + i * 100000000L).as("event_id"),
          (col("ts") + lit(i * 50000L * 3600L * 1000000000L)).as("ts"),
          (col("user_id") + i * 10000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _), outDir, "events")
    }

    if (want("orders")) {
      val ord = s.read.parquet(s"$base/orders.parquet")
      writeSingleFile((0 until copies).map { i =>
        ord.select((col("o_orderkey") + i * 1000000000L).as("o_orderkey"),
          (col("o_custkey") + i * 100000000L).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }.reduce(_ unionByName _), outDir, "orders")
    }

    // customer: same key shift as o_custkey, so the dim grows with the
    // fact side (q46's merge-key space replicates at constant density —
    // note the event user-id shift differs, so each copy contributes
    // its own insert band too, like organic growth would)
    // c_name gets a per-copy 3-char PARITY-CODE tag (a, b, a+b mod 31)
    // with a = i mod 31, b = i div 31 over a 31-char alphabet: any two
    // distinct copies differ in >= 2 of the 3 positions (equal a and
    // equal b force equal i; equal sum with one equal coordinate forces
    // the other equal), so cross-copy name pairs sit at edit
    // distance >= 2 for up to 961 copies — the old 2-char
    // (i mod 31, 2i mod 31) code collided exactly at copies i and i+31,
    // which would have made the 100x rung degenerate (identical names
    // across copies multiply every q50 probe's candidate set by the
    // collision count — the same degeneracy the documents `_i` suffix
    // avoids for shingles). Within-copy structure is untouched; q46
    // reads names as payload only.
    if (want("customer")) {
      val cust = s.read.parquet(s"$base/customer.parquet")
      val code = "abcdefghijklmnopqrstuvwxyz01234"
      writeSingleFile((0 until copies).map { i =>
        val (a, b) = (i % 31, i / 31)
        val tagged = if (i == 0) cust
          else cust.withColumn("c_name", concat(col("c_name"),
            lit(s"${code(a)}${code(b)}${code((a + b) % 31)}")))
        tagged.select((col("c_custkey") + i * 100000000L).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      }.reduce(_ unionByName _), outDir, "customer")
    }

    // lineitem: order keys shift in lockstep with orders (joins stay
    // aligned); part and supplier keys shift into disjoint per-copy id
    // spaces, so q56's basket-pair structure and q59's per-supplier
    // lateness profile replicate at CONSTANT per-item density (shared
    // part ids across copies would multiply every pair's support ×N —
    // the same degeneracy the documents `_i` suffix avoids).
    if (want("lineitem")) {
      val li = s.read.parquet(s"$base/lineitem.parquet")
      writeSingleFile((0 until copies).map { i =>
        li.select((col("l_orderkey") + i * 1000000000L).as("l_orderkey"),
          (col("l_partkey") + i * 100000000L).as("l_partkey"),
          (col("l_suppkey") + i * 10000000L).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
      }.reduce(_ unionByName _), outDir, "lineitem")
    }

    if (want("supplier")) {
      val sup = s.read.parquet(s"$base/supplier.parquet")
      writeSingleFile((0 until copies).map { i =>
        sup.select((col("s_suppkey") + i * 10000000L).as("s_suppkey"),
          col("s_name"), col("s_nationkey"), col("s_acctbal"))
      }.reduce(_ unionByName _), outDir, "supplier")
    }

    // nation/region: fixed-size dimension tables — copied verbatim
    // (organic growth adds facts, not countries); customer copies keep
    // their base c_nationkey so the dims stay referenced
    for (dim <- Seq("nation", "region") if want(dim)) {
      writeSingleFile(s.read.parquet(s"$base/$dim.parquet"), outDir, dim)
    }
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("GRAFT_SCALE_COPIES", "10").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // synth writes ONE file per table with 4 MB row groups so scans
    // can split — but splitting is governed by maxPartitionBytes
    // (default 128 MB), under which a 15 MB embeddings file is ONE
    // task and every corpus × centroids routing scan single-threads
    // (measured: s38's routing 206 s in one task at 30x). Match the
    // knob to the row-group size — the sizing every real deployment
    // does (SURVEY §6 spill-aware rule).
    val spark = graft.GraftSession.local("graft-scale-bench", cpus,
      Map("spark.sql.files.maxPartitionBytes" -> (4 * 1024 * 1024).toString))

    val oneDir = "/tmp/graft_scale/x1"
    val nDir = s"/tmp/graft_scale/x$copies"
    // GRAFT_SCALE_REUSE=1 skips re-synthesis when the dirs exist (the
    // synthesis is deterministic, so reuse is safe); GRAFT_SCALE_ONLY
    // is a comma-separated flagship filter — both for single-query
    // ladder iteration between full evidence runs.
    val reuse = sys.env.get("GRAFT_SCALE_REUSE").contains("1")
    def synthed(dir: String, n: Int): Unit =
      if (!reuse || !java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "documents.parquet")))
        synth(spark, base, dir, n)
    synthed(oneDir, 1)
    synthed(nDir, copies)
    val only = sys.env.get("GRAFT_SCALE_ONLY").map(_.split(",").toSet)
    val flagships = Flagships.filter(n => only.forall(_.contains(n)))

    // JIT the heavy pipelines once (same rationale as Bench's warmup)
    try {
      graft.SparkEntry.queries("dbscan_golden")(spark, oneDir).count()
      val docs200 = spark.read.parquet(s"$oneDir/documents.parquet").limit(200)
        .select("doc_id", "text")
      graft.operators.Dedup.lshCandidatePairs(docs200, "text", "doc_id", 16, 4, 3).count()
      graft.GraftSession.release(spark)
    } catch { case e: Throwable => System.err.println(s"[scale] warmup failed: $e") }
    // build-once assets per dir, outside the timed region (their own
    // build cost scales with corpus size by construction — one scan)
    Seq(oneDir, nDir).foreach { d =>
      try {
        graft.operators.Dedup.ensureSignatureIndex(spark, d).limit(1).count()
        graft.operators.Similarity.ensurePqIndex(spark, d).limit(1).count()
        graft.operators.Similarity.ensureKnnGraphIndex(spark, d).limit(1).count()
        graft.operators.Similarity.ensureRankedKnnIndex(spark, d).limit(1).count()
      } catch { case e: Throwable => System.err.println(s"[scale] asset build failed for $d: $e") }
    }

    def time(name: String, dir: String): Double = {
      val atScale = dir == nDir && copies > 1
      val fn = override_(name, if (atScale) copies else 1)
        .getOrElse(graft.SparkEntry.queries(name))
      // dbscan's flatMapGroups local-clustering lambdas need ~3 runs
      // before C2 JIT settles at 10x — a 2-rep min reads warmup, not
      // scaling (measured 20s rep2 vs 4.5s rep4 at 10x)
      val effReps = if (name.startsWith("dbscan")) reps.max(4) else reps
      (1 to effReps).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, dir).count()
        catch { case e: Throwable =>
          System.err.println(s"[scale] $name FAILED at $dir: $e"); return -1.0
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // round checkpoints too: clearCache alone leaves them pinned
        try graft.GraftSession.release(spark) catch { case _: Throwable => }
        dt
      }.min
    }

    val rows = flagships.map { name =>
      val t1 = time(name, oneDir)
      val tn = time(name, nDir)
      val perItem = if (t1 > 0 && tn > 0) tn / (copies * t1) else -1.0
      System.err.println(f"[scale] $name%-26s t1=$t1%7.2fs " +
        f"t$copies=$tn%7.2fs per-item=$perItem%5.2f")
      (name, t1, tn, perItem)
    }
    val qs = rows.map { case (n, t1, tn, p) =>
      s""""$n":{"t1":$t1,"t$copies":$tn,"per_item_scale":$p}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_ladder","base":"$base","copies":$copies,""" +
      s""""reps":$reps,"queries":$qs}""")
    spark.stop()
  }
}
