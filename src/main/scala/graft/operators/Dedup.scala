package graft.operators

import graft.functions.TextAnalysis
import graft.operators.CacheScope.persist
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * All of these are shuffle-shaped for the 100 TB design point:
  *   - exact dedup is one hash aggregate (map-side partial combine);
  *   - near-dup never goes all-pairs: candidates come from an equi-join
  *     on shingle / band / sub-band keys, so the shuffle moves
  *     O(sum of posting-list sizes), not O(n^2) — the standard
  *     MinHash-LSH banding construction (Broder 1997; Leskovec et al.,
  *     "Mining of Massive Datasets" ch. 3) and SimHash pigeonhole
  *     banding (Manku et al., WWW'07).
  *
  * Hashing is the portable polynomial rolling hash from
  * [[graft.functions.TextAnalysis.rollingHash]] — pure integer
  * arithmetic, so every stage is reproducible in the DuckDB oracle.
  *
  * Contract: `idCol` must be a NON-NULL integral column (it is cast to
  * long and carried through typed hot paths); a corpus with string or
  * nullable ids needs a surrogate id projection first.
  */
object Dedup {

  private[graft] val P = 1000000007L

  private implicit class Dollar(private val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  /** Exact duplicate groups by content hash: one row per distinct text,
    * with the smallest id as canonical and the copy count.
    */
  def exactDuplicates(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct hashed word `n`-gram shingles per document:
    * (id, shingle_hash) pairs — the posting list both Jaccard and
    * MinHash build on.
    *
    * Runs as a typed flatMap over [[graft.functions.TextKernels
    * .shingleHashes]]: one JVM pass per document with per-doc
    * dedup, replacing an interpreted transform/element_at/explode/
    * global-distinct chain (8.5s -> sub-second at sf0.1, and the
    * global distinct's 8M-row shuffle disappears — per-doc dedup is
    * equivalent because the pairs are keyed by id).
    */
  def shingles(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    docs.select(col(idCol).cast("long").as("id"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.functions.TextKernels.shingleHashes(if (text == null) "" else text, n)
          .map(h => (id, h))
      }
      .toDF("id", "sh")
  }

  /** Pairwise n-gram Jaccard similarity for all pairs sharing >= 1
    * shingle, filtered to `minJaccard` — the exact prefix-filtered
    * similarity join (Xiao et al., "Efficient Similarity Joins for Near
    * Duplicate Detection", WWW'08).
    *
    * Plan: one typed pass per document builds its SORTED distinct
    * shingle array (no shuffle — per-doc kernel); only each document's
    * PREFIX (the first |S| - ceil(t*|S|) + 1 shingles under the global
    * ascending-hash order) enters the posting shuffle. The prefix
    * theorem makes this exact: two sets with jaccard >= t must share at
    * least one prefix element under any common total order, so the
    * candidate join loses nothing. Candidates dedup (tiny set — the
    * prefix join emits a pair once per SHARED PREFIX shingle, orders of
    * magnitude fewer than the all-shingles join's once per shared
    * shingle), then one hash join back to the doc sets verifies with an
    * exact sorted-merge intersection count. vs the all-shingles
    * posting-count plan: the shuffle carries ~(1-t) of the posting
    * rows, and the O(sum df^2) pair stream collapses to true
    * candidates (sf0.1: 4.2M pair rows -> ~60k candidates, 4.8s ->
    * ~2s), with bit-identical output.
    *
    * The size prune (jaccard(a,b) <= min|/max| of the sizes) still
    * runs inside each posting group, sorted so the inner loop breaks
    * at the first too-large partner.
    *
    * Groups are prefix-document-frequency-sized; a hot-shingle df cap
    * would slot in here if a real corpus needed it (it would have to
    * be mirrored in the oracle).
    */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJaccard: Double = 0.6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    val docSets = persist(docs
      .select(col(idCol).cast("long").as("id"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val hs = graft.functions.TextKernels.shingleHashes(
          if (text == null) "" else text, n)
        java.util.Arrays.sort(hs)
        (id, hs)
      }
      .toDF("id", "sh")) // reused: prefix emission + the verify join
    val prefixPosting = docSets
      .as[(Long, Array[Long])]
      .flatMap { case (id, hs) =>
        val sz = hs.length
        val p = sz - math.ceil(minJaccard * sz - 1e-9).toInt + 1
        hs.iterator.take(math.max(p, 1)).map(h => (id, h, sz))
      }
    val cands = prefixPosting
      .groupByKey(_._2)
      .flatMapGroups { (_, it) =>
        // ascending by set size, then id, so the prune can break early
        val entries = it.map(t => (t._1, t._3)).toArray.sortBy(e => (e._2, e._1))
        Iterator.range(0, entries.length - 1).flatMap { i =>
          val (idI, szI) = entries(i)
          Iterator.range(i + 1, entries.length)
            .takeWhile { j => szI.toDouble >= minJaccard * entries(j)._2 - 1e-9 }
            .map { j =>
              val idJ = entries(j)._1
              if (idI < idJ) (idI, idJ) else (idJ, idI)
            }
        }
      }
      .toDF("id_a", "id_b")
      .distinct()
    cands
      .join(docSets.select($"id".as("id_a"), $"sh".as("sh_a")), "id_a")
      .join(docSets.select($"id".as("id_b"), $"sh".as("sh_b")), "id_b")
      .select($"id_a", $"id_b",
        graft.functions.Exprs.sortedIntersectCount($"sh_a", $"sh_b").as("n_inter"),
        size($"sh_a").as("size_a"), size($"sh_b").as("size_b"))
      .withColumn("jaccard",
        round($"n_inter".cast("double") / ($"size_a" + $"size_b" - $"n_inter"), 6))
      .filter($"jaccard" >= minJaccard)
      .select($"id_a", $"id_b", $"n_inter", $"jaccard")
  }

  /** k MinHash values per document over its shingle set:
    * minhash_i = min over shingles of ((2i+1)*sh + i*i + 7) mod P.
    * Returned as an array column `minhashes`.
    *
    * Aggregated with the typed [[graft.functions.MinHashAgg]] — a
    * distributive O(k)-state aggregate with map-side partial combine,
    * so a document's shingle set is never materialized (a collect_set
    * formulation would ship the whole set per document through the
    * shuffle).
    */
  def minhashes(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, n: Int = 3): DataFrame =
    minhashesFromShingles(shingles(docs, textCol, idCol, n), k)

  /** [[minhashes]] from a precomputed (id, sh) shingle frame — lets a
    * caller that also consumes the shingles directly (t40's exact
    * ground-truth arm) run the shingle kernel once for both.
    */
  def minhashesFromShingles(sh: DataFrame, k: Int = 16): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder, newLongSeqEncoder}
    sh // already (id: long, sh: long)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.MinHashAgg(k, P).toColumn.name("minhashes"))
      .toDF("id", "minhashes")
  }

  /** LSH band signatures: the k minhashes split into `bands` bands of
    * k/bands rows each, concatenated to one string key per band.
    * Documents agreeing on any band are near-dup candidates.
    */
  def lshBands(mh: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      concat_ws("-",
        (0 until rows).map(r => element_at($"minhashes", b * rows + r + 1)): _*).as(s"band$b")
    }
    mh.select($"id" +: bandCols: _*)
  }

  /** Candidate pairs sharing >= 1 LSH band, with the estimated
    * similarity = fraction of agreeing minhashes.
    */
  def lshCandidatePairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    val mh = persist(minhashes(docs, textCol, idCol, k, n))
    lshCandidatePairsFromMinhashes(mh, k, bands)
  }

  /** [[lshCandidatePairs]] from a precomputed (id, minhashes) frame —
    * the banding/join tail alone. Lets a tradeoff evaluation (t40's
    * 2/4/8-band curve) signature the corpus ONCE and band it per
    * layout instead of re-running the shingle+minhash pass per arm;
    * same rows as [[lshCandidatePairs]] at equal (k, bands) by
    * construction (the tail is shared, the signature pass is
    * deterministic).
    */
  def lshCandidatePairsFromMinhashes(mh: DataFrame, k: Int,
      bands: Int): DataFrame = {
    // each exploded row carries ALL band sigs so the join can dedup
    // pairs inline: emit only from the FIRST band where the signatures
    // agree (all earlier bands differ) — no distinct, no extra shuffle
    // (the same trick d06's simhash banding uses)
    val banded = lshBands(mh, k, bands)
      .withColumn("sigs", array((0 until bands).map(b => col(s"band$b")): _*))
      .select($"id", $"sigs", explode(array((0 until bands).map(b =>
        struct(lit(b).as("band_no"), col(s"band$b").as("sig"))): _*)).as("b"))
      .select($"id", $"sigs", $"b.band_no", $"b.sig")
    val firstAgree = (0 until bands).map { t =>
      (0 until t).foldLeft(col("x.band_no") === lit(t)) { (acc, tp) =>
        acc && (element_at(col("x.sigs"), tp + 1) =!=
          element_at(col("y.sigs"), tp + 1))
      }
    }.reduce(_ || _)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band_no") === col("y.band_no") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
      .filter(firstAgree)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
    pairs
      .join(mh.select($"id".as("id_a"), $"minhashes".as("mh_a")), "id_a")
      .join(mh.select($"id".as("id_b"), $"minhashes".as("mh_b")), "id_b")
      .withColumn("est_sim", round(
        size(filter(zip_with($"mh_a", $"mh_b", (a, b) => a === b), x => x))
          .cast("double") / k, 6))
      .select($"id_a", $"id_b", $"est_sim")
  }

  /** End-to-end near-dup dedup pipeline: MinHash-LSH candidate pairs at
    * `minEstSim` -> connected components over the pair graph -> canonical
    * id = min id per component -> per-doc verdict
    * `(doc_id, canonical_id, is_kept)`. Filtering the corpus to
    * `is_kept` rows is the actual dedup.
    *
    * The component step is [[ConnectedComponents.assign]]: small pair
    * graphs keep the exact driver union-find; a web-scale corpus's
    * O(corpus)-sized pair graph takes the distributed
    * large-star/small-star rounds instead of collecting billions of
    * pairs to the driver. Both label components by minimum id, so the
    * verdict is independent of the path taken.
    */
  def dedupVerdicts(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, n: Int = 3,
      minEstSim: Double = 0.5): DataFrame = {
    val pairs = lshCandidatePairs(docs, textCol, idCol, k, bands, n)
      .filter($"est_sim" >= minEstSim)
      .select($"id_a", $"id_b")
    val canonMap = ConnectedComponents.componentMap(pairs)
      .select($"id", $"component".as("canon"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(canonMap, $"doc_id" === $"id", "left")
      .select($"doc_id",
        coalesce($"canon", $"doc_id").as("canonical_id"),
        (coalesce($"canon", $"doc_id") === $"doc_id").as("is_kept"))
  }

  /** [[dedupVerdicts]] with a QUALITY-ARGMAX canonical rule: within
    * each near-dup component, keep the member with the highest
    * `quality` (ties to the lowest id) instead of blindly the lowest
    * id — the "keep the best copy" policy of a production dedup pass
    * (the truncated/boilerplate copy loses to the full original even
    * when it has the smaller id).
    *
    * `quality` must be an INTEGRAL column expression (it is cast to
    * long): integer argmax is exact in any engine, where a float
    * quality could flip ties in the last ULP. The extra cost over
    * [[dedupVerdicts]] is ONE window argmax over `canonical_id` — a
    * single shuffle, and critically a single execution of the
    * upstream signature/CC pipeline. (The agg-then-self-join spelling
    * of the same argmax evaluates that pipeline in BOTH branches —
    * exchange reuse does not rescue it across the aggregate — and
    * measured 13x slower at sf0.1.)
    *
    * Returns (doc_id, canonical_id, quality, kept_id, is_kept) where
    * `canonical_id` is still the min-id component label (the stable
    * cluster key) and `kept_id` is the quality-argmax member.
    */
  def dedupVerdictsByQuality(docs: DataFrame, textCol: String, idCol: String,
      quality: Column, k: Int = 16, bands: Int = 4, n: Int = 3,
      minEstSim: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = dedupVerdicts(docs, textCol, idCol, k, bands, n, minEstSim)
    val q = docs.select(col(idCol).cast("long").as("doc_id"),
      quality.cast("long").as("quality"))
    val w = Window.partitionBy($"canonical_id")
    v.join(q, "doc_id")
      .withColumn("b",
        max(struct($"quality", (-$"doc_id").as("neg_id"), $"doc_id")).over(w))
      .select($"doc_id", $"canonical_id", $"quality",
        $"b.doc_id".as("kept_id"), ($"doc_id" === $"b.doc_id").as("is_kept"))
  }

  /** TAKEDOWN RE-ELECTION — the right-to-be-forgotten pass over a
    * deduplicated corpus: a takedown batch (`noticedIds`) leaves, and
    * the kept/canonical assignment of the SURVIVORS must read as if
    * the noticed docs had never been indexed — without recomputing
    * signatures. The incremental identity this rides on: removing a
    * doc cannot change anyone else's MinHash signature or band
    * buckets, so the survivor corpus's candidate-pair set is EXACTLY
    * the frozen pair set minus pairs touching a noticed id. Only the
    * tiny edge set is re-closed (a noticed doc may have been the
    * BRIDGE holding a component together — the closure re-splits it
    * correctly, which a naive "keep the old cluster map" shortcut
    * gets wrong) and the quality-argmax re-elected; the O(corpus)
    * signature/banding work is never repeated.
    *
    * Returns survivors only: (doc_id, canonical_id, quality, kept_id,
    * is_kept, was_kept_before) — `was_kept_before` is the doc's kept
    * flag under the pre-takedown clustering (production reads it from
    * the stored verdict asset), so `is_kept && !was_kept_before` IS
    * the re-election audit: content whose canonical copy was taken
    * down and which now represents its cluster.
    */
  def takedownReelect(docs: DataFrame, noticedIds: DataFrame,
      textCol: String, idCol: String, quality: Column,
      k: Int = 16, bands: Int = 4, n: Int = 3,
      minEstSim: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = persist(
      lshCandidatePairs(docs, textCol, idCol, k, bands, n)
        .filter($"est_sim" >= minEstSim)
        .select($"id_a", $"id_b")) // closed twice: before + after
    val ntc = noticedIds.select(
      col(noticedIds.columns.head).cast("long").as("ntc_id"))
    val q = docs.select(col(idCol).cast("long").as("doc_id"),
      quality.cast("long").as("quality"))
    // shared verdict tail: min-id component label + quality-argmax kept
    def verdicts(edgeSet: DataFrame, docIds: DataFrame): DataFrame = {
      val canonMap = ConnectedComponents.componentMap(edgeSet)
        .select($"id", $"component".as("canon"))
      docIds.join(canonMap, $"doc_id" === $"id", "left")
        .select($"doc_id", coalesce($"canon", $"doc_id").as("canonical_id"))
        .join(q, "doc_id")
        .withColumn("b", max(struct($"quality", (-$"doc_id").as("neg_id"),
          $"doc_id")).over(Window.partitionBy($"canonical_id")))
        .select($"doc_id", $"canonical_id", $"quality",
          $"b.doc_id".as("kept_id"), ($"doc_id" === $"b.doc_id").as("is_kept"))
    }
    val allIds = docs.select(col(idCol).cast("long").as("doc_id"))
    val before = verdicts(pairs, allIds)
      .select($"doc_id", $"is_kept".as("was_kept_before"))
    val survIds = allIds.join(ntc, $"doc_id" === $"ntc_id", "left_anti")
    val survPairs = pairs
      .join(ntc, $"id_a" === $"ntc_id", "left_anti")
      .join(ntc, $"id_b" === $"ntc_id", "left_anti")
    verdicts(survPairs, survIds)
      .join(before, "doc_id")
      .select($"doc_id", $"canonical_id", $"quality", $"kept_id",
        $"is_kept", $"was_kept_before")
  }

  /** Build-once MinHash signature index for a corpus: `(id, minhashes)`
    * persisted as parquet in the warehouse dir, keyed by a
    * source-fingerprint marker (path + size + mtime) so it is computed
    * once per corpus version and reused across JVMs — the deployment
    * shape of incremental dedup: the index is a maintained asset, each
    * day's shard probes it (see [[probeVerdicts]]), and ONLY the shard
    * pays signature computation.
    */
  def ensureSignatureIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 16, n: Int = 3): DataFrame =
    Assets.ensureParquetAsset(s,
        s"graft_sig_index_${k}_${n}_${Assets.tagOf(dir)}",
        new java.io.File(dir, "documents.parquet")) {
      minhashes(s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", k, n)
    }

  /** Incremental near-dup: verdicts for a NEW shard probed against an
    * existing corpus signature index (`(id, minhashes)` — see
    * [[ensureSignatureIndex]]). Each new document's canonical is the
    * minimum-id existing document sharing >= 1 LSH band with estimated
    * similarity >= `minEstSim`; unmatched documents are `is_new`.
    * In-shard duplicates are [[dedupVerdicts]]'s job — this operator is
    * the cross-shard half a daily pipeline runs per increment.
    *
    * Scale shape: the shard's banded signatures BROADCAST; the index
    * side is one scan + per-row band projection feeding the stream side
    * of the hash join — the 100 TB index is never shuffled, never
    * re-hashed. Band-collision duplicates collapse in the min aggregate
    * (no distinct, no first-band filter needed — the output is an
    * aggregate, not a pair stream).
    */
  /** `(id, minhashes)` -> one row per LSH band: `(id, minhashes,
    * band_no, sig)` with `sig` the dash-joined band slice. Pure per-row
    * projection; shared by [[probeVerdicts]] and the streaming probe
    * ([[graft.streaming.Streaming.streamIndexProbe]]).
    */
  private[graft] def bandedSigs(mh: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    mh.select(col("id"), col("minhashes"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_no"),
            concat_ws("-", (0 until rows).map(r =>
              element_at(col("minhashes"), b * rows + r + 1)): _*).as("sig"))): _*)).as("b"))
      .select(col("id"), col("minhashes"),
        col("b.band_no").as("band_no"), col("b.sig").as("sig"))
  }

  /** Planning-time guard for a caller-supplied signature index: a
    * wrong-k index would not FAIL the probe — element_at past the
    * array end yields null band sigs and zip_with truncates to the
    * shorter signature, silently skewing est_sim — so widths are
    * audited up front with ONE min/max aggregate. That is a scan of
    * the INDEX, not the corpus: signatures are k ints per document
    * (64 bytes at k=16 — ~0.00006% of a 100 KB-average-doc corpus), a
    * column-pruned read that also catches a mixed-width (corrupted)
    * index, which the earlier first-row-only peek waved through.
    * Empty index passes (no widths to violate; every probe lands
    * is_new).
    */
  private[graft] def requireSigWidth(index: DataFrame, k: Int): Unit = {
    index.agg(min(size(col("minhashes"))).as("lo"),
        max(size(col("minhashes"))).as("hi"))
      .head(1).foreach { r =>
        if (!r.isNullAt(0)) {
          val (lo, hi) = (r.getInt(0), r.getInt(1))
          require(lo == k && hi == k,
            if (lo != hi)
              s"signature index is mixed-width (minhash widths $lo..$hi) — corrupt; rebuild it"
            else s"signature index minhash width $lo does not match k=$k")
        }
      }
  }

  def probeVerdicts(newDocs: DataFrame, textCol: String, idCol: String,
      index: DataFrame, k: Int = 16, bands: Int = 4, n: Int = 3,
      minEstSim: Double = 0.5): DataFrame = {
    val rows = k / bands
    requireSigWidth(index, k)
    def banded(mh: DataFrame): DataFrame = bandedSigs(mh, k, bands)
    val probe = broadcast(banded(minhashes(newDocs, textCol, idCol, k, n)))
    val matches = probe.as("x").join(banded(index).as("y"),
        col("x.band_no") === col("y.band_no") && col("x.sig") === col("y.sig"))
      .withColumn("est_sim",
        size(filter(zip_with(col("x.minhashes"), col("y.minhashes"),
          (a, b) => a === b), m => m)).cast("double") / k)
      .filter(col("est_sim") >= minEstSim)
      .groupBy(col("x.id").as("nid"))
      .agg(min(col("y.id")).as("match_id"))
    newDocs.select(col(idCol).cast("long").as("doc_id"))
      .join(matches, col("doc_id") === col("nid"), "left")
      .select(col("doc_id"),
        coalesce(col("match_id"), col("doc_id")).as("canonical_id"),
        col("match_id").isNull.as("is_new"))
  }

  /** 32-bit SimHash per document (Charikar 2002): bit b is set iff more
    * token hashes have bit b set than not. 32 bits because the portable
    * rolling hash lives below 2^30. Runs as a typed map over
    * [[graft.functions.TextKernels.simhash32]] — one JVM pass per
    * document (the equivalent interpreted aggregate/zip_with expression
    * chain profiled ~3s for 10k docs at sf0.1; the kernel is
    * negligible).
    */
  def withSimhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    docs.select(col(idCol).cast("long").as("id"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.functions.TextKernels.simhash32(if (text == null) "" else text))
      }
      .toDF("id", "simhash")
  }

  /** Near-duplicate pairs by SimHash hamming distance <= maxHamming,
    * found via 8-bit sub-band blocking: two 32-bit hashes within
    * hamming 3 must agree on at least one of 4 disjoint 8-bit bands
    * (pigeonhole), so candidates come from 4 equi-joins, never a
    * cross join.
    */
  def simhashNearPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    // persist: the signature computation feeds BOTH sides of the self-join
    val withSim = persist(withSimhash(docs, textCol, idCol))
    val banded = withSim.select($"id", $"simhash",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_no"),
            shiftright($"simhash", b * 8).bitwiseAND(255).as("sig"))): _*)).as("b"))
      .select($"id", $"simhash", $"b.band_no", $"b.sig")
    // A pair agreeing on k bands is emitted k times by the join; keep
    // only the row whose band_no is the FIRST agreeing band — an inline
    // codegen'd filter that replaces a distinct() (the join emits 61M
    // candidate rows at sf0.1; shuffling the 11M hamming survivors
    // through a distinct profiled at 8s, the filter is free).
    val sigB = (sh: Column, b: Int) => shiftright(sh, b * 8).bitwiseAND(255)
    val firstAgreeingBand =
      when(sigB(col("x.simhash"), 0) === sigB(col("y.simhash"), 0), 0)
        .when(sigB(col("x.simhash"), 1) === sigB(col("y.simhash"), 1), 1)
        .when(sigB(col("x.simhash"), 2) === sigB(col("y.simhash"), 2), 2)
        .otherwise(3)
    banded.as("x").join(banded.as("y"),
        col("x.band_no") === col("y.band_no") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
      .filter(col("x.band_no") === firstAgreeingBand)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter($"hamming" <= maxHamming)
  }

  /** [[withSimhash]]'s 64-bit scale variant — one typed pass over
    * [[graft.functions.TextKernels.simhash64]].
    */
  def withSimhash64(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    docs.select(col(idCol).cast("long").as("id"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, graft.functions.TextKernels.simhash64(if (text == null) "" else text))
      }
      .toDF("id", "simhash")
  }

  /** [[simhashNearPairs]]'s SCALE variant: 64-bit SimHash in 4 x 16-bit
    * bands. The 32-bit form's 8-bit bands cap each band at 256 buckets,
    * so per-bucket population — and the band self-join — grows linearly
    * with corpus size (the same structural hazard the mixed-lattice LSH
    * fix removed from the hyperplane family). 16-bit bands give 65536
    * buckets per band; pigeonhole still guarantees any pair within
    * hamming 3 agrees on >= 1 of the 4 disjoint bands, so candidates
    * stay a superset of the answer. Same first-agreeing-band inline
    * dedup (no distinct exchange); exact hamming via `bit_count` over
    * the xor.
    */
  /** ASYMMETRIC containment pairs — the "quote / excerpt / subset"
    * detector Jaccard misses: a 200-word excerpt inside a 4000-word
    * original has Jaccard ~0.05 but containment(excerpt→original)
    * ~1.0 (Broder's containment, the statistic behind
    * suffix/substring-level corpus piracy checks). Candidates come
    * from the same distinct-shingle posting equi-join as d02/m05 with
    * the m05-style document-frequency cap (a hot shingle's pair
    * contribution is bounded by dfCap²; the cap UNDERcounts shared
    * shingles and is mirrored exactly in the oracle); denominators are
    * the full per-doc distinct-shingle sizes. Emits both directions
    * per (id_a < id_b) pair; keep when either direction clears
    * `minContainment`.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, dfCap: Long = 32, minContainment: Double = 0.8): DataFrame = {
    require(n >= 1, s"shingle n=$n must be >= 1")
    require(dfCap >= 1, s"dfCap=$dfCap must be >= 1")
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment=$minContainment must be in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    val sh = persist(docs
      .select(col(idCol).cast("long").as("id"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.functions.TextKernels
          .shingleHashes(if (t == null) "" else t, n).iterator.map(h => (id, h))
      }
      .toDF("id", "sh"))
    val sizes = sh.groupBy($"id").agg(count(lit(1)).as("n_sh"))
    // both sides of the pairs self-join consume `rare`; persist or the
    // df-cap aggregate + join replays once per side
    val rare = persist(sh.join(
      sh.groupBy($"sh").agg(count(lit(1)).as("df")).filter($"df" <= dfCap), "sh"))
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    val contA = $"n_shared".cast("double") / $"n_a"
    val contB = $"n_shared".cast("double") / $"n_b"
    pairs
      .join(sizes.select($"id".as("id_a"), $"n_sh".as("n_a")), "id_a")
      .join(sizes.select($"id".as("id_b"), $"n_sh".as("n_b")), "id_b")
      .filter(greatest(contA, contB) >= minContainment)
      .select($"id_a", $"id_b", $"n_shared",
        round(contA, 6).as("cont_a_in_b"), round(contB, 6).as("cont_b_in_a"))
  }

  def simhash64NearPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val withSim = persist(withSimhash64(docs, textCol, idCol))
    bandedNearPairs64(withSim.select($"id", $"simhash".as("sig64")), maxHamming)
  }

  /** The 4 x 16-bit banding engine over ANY 64-bit signature relation
    * `(id, sig64)`: pigeonhole candidate equi-join on (band_no, band
    * value), inline first-agreeing-band dedup (no distinct exchange),
    * exact hamming via `bit_count` over the xor. Shared by
    * [[simhash64NearPairs]] (text SimHash) and
    * [[Multimodal.phashNearPairs]] (binary-payload perceptual hash) —
    * the signature FAMILY changes, the scale shape doesn't.
    */
  private[graft] def bandedNearPairs64(withSig: DataFrame,
      maxHamming: Int): DataFrame = {
    val mask = 65535L
    val banded = withSig.select($"id", $"sig64",
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_no"),
            shiftright($"sig64", b * 16).bitwiseAND(mask).as("sig"))): _*)).as("b"))
      .select($"id", $"sig64", $"b.band_no", $"b.sig")
    val sigB = (sh: Column, b: Int) => shiftright(sh, b * 16).bitwiseAND(mask)
    val firstAgreeingBand =
      when(sigB(col("x.sig64"), 0) === sigB(col("y.sig64"), 0), 0)
        .when(sigB(col("x.sig64"), 1) === sigB(col("y.sig64"), 1), 1)
        .when(sigB(col("x.sig64"), 2) === sigB(col("y.sig64"), 2), 2)
        .otherwise(3)
    banded.as("x").join(banded.as("y"),
        col("x.band_no") === col("y.band_no") && col("x.sig") === col("y.sig") &&
          col("x.id") < col("y.id"))
      .filter(col("x.band_no") === firstAgreeingBand)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sig64").bitwiseXOR(col("y.sig64"))).cast("long").as("hamming"))
      .filter($"hamming" <= maxHamming)
  }

  /** Benchmark decontamination: for every training document, the number
    * of distinct word `n`-gram shingles it shares with the evaluation
    * corpus, and a contamination verdict — the standard "remove train
    * docs overlapping the test set" pass every LLM data pipeline runs
    * before training (n-gram overlap per GPT-3/PaLM appendix
    * methodology).
    *
    * 100 TB shape: when the caller vouches that the eval side is
    * benchmark-sized (`evalIsBenchmarkSized=true`, the common case —
    * eval suites are MBs against a multi-TB train corpus), the distinct
    * eval-shingle set BROADCASTS: the train side streams one typed
    * shingling pass per document into the broadcast hash join, the
    * corpus is never shuffled, and only matching (train shingle, eval
    * shingle) rows reach the per-doc count aggregate. When the "eval"
    * side is NOT known-small (e.g. decontaminating against another
    * corpus slice), pass `false`: no hint is planted, so Spark/AQE
    * plans a shuffled hash join instead of forcing an
    * O(|eval|/10)-shingle broadcast through the driver — slower, never
    * an OOM. Results are identical either way (ContaminationSpec).
    */
  def contamination(train: DataFrame, evalDocs: DataFrame, textCol: String,
      idCol: String, n: Int = 3,
      evalIsBenchmarkSized: Boolean = true): DataFrame = {
    val evalShRaw = shingles(evalDocs, textCol, idCol, n).select($"sh").distinct()
    val evalSh = if (evalIsBenchmarkSized) broadcast(evalShRaw) else evalShRaw
    // shingles() dedups per document, so count(*) is the distinct count
    val hits = shingles(train, textCol, idCol, n)
      .join(evalSh, "sh")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_shared"))
    train.select(col(idCol).cast("long").as("doc_id"))
      .join(hits, $"doc_id" === $"id", "left")
      .select($"doc_id",
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        $"n_shared".isNotNull.as("is_contaminated"))
  }

  /** Line-level boilerplate statistics (the C4/RefinedWeb repeated-line
    * pass, adapted to a corpus whose documents carry no newlines):
    * each document is chunked into consecutive `lineTokens`-token
    * "lines"; a line is boilerplate when its hash appears in >= 2
    * distinct documents. Emits per document the line count, duplicated-
    * line count, and duplication ratio.
    *
    * 100 TB shape: chunking is a per-row projection; the only shuffle
    * is the equi-join/aggregate on line hash (posting-list sized, like
    * the shingle joins — never all-pairs). Within-doc repeats of a
    * cross-doc line all count as duplicated; a line repeated only
    * within one document does not (ndocs = 1).
    */
  def lineDupStats(docs: DataFrame, textCol: String, idCol: String,
      lineTokens: Int = 10): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive, got $lineTokens")
    val toks = TextAnalysis.tokens(col(textCol))
    val nChunks = greatest(ceil(size(toks).cast("double") / lineTokens).cast("int"), lit(1))
    val lines = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(toks, i * lineTokens + 1, lit(lineTokens)), " "))
    // feeds both the posting aggregate and the per-doc stats
    val perLine = persist(docs
      .select(col(idCol).cast("long").as("id"), explode(lines).as("line"))
      .select($"id", TextAnalysis.stringHash($"line").as("lh")))
    val posting = perLine.groupBy($"lh")
      .agg(countDistinct($"id").as("ndocs"))
    perLine.join(posting, "lh")
      .groupBy($"id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"ndocs" >= 2, 1L).otherwise(0L)).as("n_dup_lines"))
      .select($"id".as("doc_id"), $"n_lines", $"n_dup_lines",
        round($"n_dup_lines".cast("double") / $"n_lines", 6).as("dup_ratio"))
  }

  /** Long-span substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): for every document
    * pair that shares at least one exact `windowTokens`-token window,
    * report how many windows they share and the longest CONSECUTIVE
    * shared span in tokens. The paper finds repeated >=50-token spans
    * with a suffix array; the distributed respelling is positional
    * window-hash postings — an equi-join on the window hash, then a
    * gaps-and-islands pass per (pair, diagonal) to recover maximal
    * runs: windows at positions (pa, pb) and (pa+1, pb+1) extend the
    * same span, so runs are consecutive `pa` values within a fixed
    * diagonal pa - pb.
    *
    * Scale shape: one scan explodes each doc into its windows (n - w + 1
    * rows); a count aggregate keeps only hashes seen 2..dfCap times
    * (singletons — the overwhelming majority — never reach the
    * self-join, and ultra-common boilerplate windows above `dfCap` are
    * excluded rather than allowed to explode the join quadratically —
    * boilerplate is [[lineDupStats]]'s job). The run detection is a
    * window function partitioned by (pair, diagonal) — never a global
    * sort. Every shuffle key is (hash) or (id_a, id_b[, diag]).
    *
    * Docs shorter than `windowTokens` tokens have no window and never
    * pair. span_tokens = longest run + windowTokens - 1.
    */
  def longSpanPairs(docs: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8, dfCap: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    require(dfCap >= 2, s"dfCap must be >= 2 (pairs need two postings), got $dfCap")
    val toks = TextAnalysis.tokens(col(textCol))
    val winStrs = transform(sequence(lit(1), size($"toks") - (windowTokens - 1)),
      p => array_join(slice($"toks", p, lit(windowTokens)), " "))
    // feeds the df aggregate and both join sides
    val wins = persist(docs
      .select(col(idCol).cast("long").as("id"), toks.as("toks"))
      .filter(size($"toks") >= windowTokens)
      .select($"id", posexplode(winStrs).as(Seq("p0", "win")))
      .select($"id", ($"p0" + 1).as("p"), TextAnalysis.stringHash($"win").as("wh")))
    // `shared` feeds both join sides unpersisted on purpose: the
    // subtrees are identical, AQE exchange reuse serves the second
    // side from the first's shuffle files (persisting measured
    // slightly SLOWER — see the m05 note in Multimodal)
    val shared = wins.join(
      wins.groupBy($"wh").agg(count(lit(1)).as("df"))
        .filter($"df" >= 2 && $"df" <= dfCap)
        .select($"wh"),
      "wh")
    val pairs = shared.as("a").join(shared.as("b"),
        col("a.wh") === col("b.wh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
    val runs = pairs
      .withColumn("diag", $"pa" - $"pb")
      .withColumn("grp", $"pa" - row_number().over(
        Window.partitionBy($"id_a", $"id_b", $"diag").orderBy($"pa")))
      .groupBy($"id_a", $"id_b", $"diag", $"grp")
      .agg(count(lit(1)).as("run"))
      .groupBy($"id_a", $"id_b")
      .agg(max($"run").as("max_run"), sum($"run").as("n_shared"))
    runs.select($"id_a", $"id_b", $"n_shared", $"max_run",
      ($"max_run" + (windowTokens - 1)).as("span_tokens"))
  }

  /** Corpus-duplicated SPAN extraction per document — the REMOVAL-side
    * artifact of exact-substring dedup (Lee et al. 2021): for every
    * document, the maximal token ranges covered by `windowTokens`-token
    * windows whose exact text occurs in at least one OTHER document.
    * [[longSpanPairs]] answers "who shares a span with whom"; this
    * answers "which token ranges do I cut from each doc" — the edit
    * list the removal pass applies, plus the per-span length the
    * ≥50-token production threshold filters on.
    *
    * Scale shape: one scan explodes each doc into its positional
    * windows; a countDistinct(doc) aggregate keeps window hashes seen
    * in ≥2 documents (no pair join exists here at all — the postings
    * only semi-join back, so no df cap is needed); maximal spans are
    * a gaps-and-islands pass PER DOC (windows [p, p+w-1] merge while
    * the next start is ≤ previous start + w), a window partitioned by
    * doc id — never global. Every shuffle keys on (hash) or (doc id).
    *
    * Within-doc-only repeats do NOT mark a span (that within-doc
    * exposure is the Gopher dup-5-gram rule's job): the filter is
    * distinct-doc frequency, not raw frequency.
    */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String,
      windowTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    // feeds the cross-doc df aggregate and the mark join
    val wins = persist(windowHashes(docs, textCol, idCol, windowTokens))
    val crossDoc = wins.groupBy($"wh")
      .agg(countDistinct($"id").as("ndocs"))
      .filter($"ndocs" >= 2)
      .select($"wh")
    val marked = wins.join(crossDoc, "wh").select($"id", $"p")
    val w = Window.partitionBy($"id").orderBy($"p")
    marked
      .withColumn("brk",
        when(lag($"p", 1).over(w).isNull ||
          $"p" > lag($"p", 1).over(w) + windowTokens, 1L).otherwise(0L))
      .withColumn("grp", sum($"brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"id", $"grp")
      .agg(min($"p").as("span_start"),
        (max($"p") + (windowTokens - 1)).as("span_end"))
      .select($"id".as("doc_id"), $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_tokens"))
  }

  /** Positional `windowTokens`-token window hashes: (id, p, wh) with p
    * 1-based — the shared projection under [[dupSpans]] and the
    * streaming cut-list probe (st44), so stream = batch structurally.
    * Pure column expressions (stateless — safe on a streaming frame);
    * docs shorter than the window emit nothing.
    */
  private[graft] def windowHashes(docs: DataFrame, textCol: String,
      idCol: String, windowTokens: Int): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val winStrs = transform(sequence(lit(1), size($"toks") - (windowTokens - 1)),
      p => array_join(slice($"toks", p, lit(windowTokens)), " "))
    docs
      .select(col(idCol).cast("long").as("id"), toks.as("toks"))
      .filter(size($"toks") >= windowTokens)
      .select($"id", posexplode(winStrs).as(Seq("p0", "win")))
      .select($"id", ($"p0" + 1).as("p"), TextAnalysis.stringHash($"win").as("wh"))
  }

  /** WEIGHTED-Jaccard near-dup pairs — the multiset generalization the
    * lexical dedups above don't cover: tokens carry integer weights
    * w = min(tf, wCap) (capped term frequency, the standard damping),
    * and similarity is Σ min(w_a, w_b) / Σ max(w_a, w_b). Repetition
    * now counts: a doc that says "buy" 40 times is NOT a near-dup of
    * one that says it once, even with identical vocabularies — exactly
    * the spam/boilerplate case set-Jaccard (d02) is blind to.
    *
    * Everything is exact integer arithmetic: inter = Σ min over
    * shared tokens, union = W_a + W_b − inter (W = per-doc weight
    * mass), and the θ-threshold is the cross-multiplied comparison
    * (den+num)·inter ≥ num·(W_a+W_b) — no float folds, the oracle
    * replays every pair bit-for-bit.
    *
    * Scale shape: candidates come from a df-capped posting equi-join
    * (a pair qualifies only via a shared token with df ≤ dfCap —
    * documented approximation, same convention as containmentPairs'
    * cap; hot tokens are exactly the ones that carry no signal), then
    * ONE equi-join back over the candidates' full token-weight rows
    * computes the exact intersection. Never all-pairs.
    */
  def weightedJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      wCap: Int = 3, dfCap: Long = 50,
      thetaNum: Int = 1, thetaDen: Int = 2): DataFrame = {
    require(wCap >= 1 && dfCap >= 1, s"wCap=$wCap dfCap=$dfCap must be >= 1")
    require(thetaNum >= 0 && thetaDen >= 1,
      s"theta = $thetaNum/$thetaDen must be a nonnegative rational")
    // feeds df counts, candidate join, and the exact pass
    val tw = persist(docs
      .select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("id"), col("tok"))
      .agg(least(count(lit(1)), lit(wCap.toLong)).as("w")))
    val wsum = tw.groupBy(col("id")).agg(sum(col("w")).as("wsum"))
    val rare = tw.join(
      tw.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= dfCap)
        .select(col("tok")),
      "tok")
    val cands = rare.as("a").join(rare.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val inter = cands
      .join(tw.select(col("id").as("id_a"), col("tok"), col("w").as("wa")), "id_a")
      .join(tw.select(col("id").as("id_b"), col("tok"), col("w").as("wb")),
        Seq("id_b", "tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("wa"), col("wb"))).as("inter"))
    inter
      .join(wsum.select(col("id").as("id_a"), col("wsum").as("w_a")), "id_a")
      .join(wsum.select(col("id").as("id_b"), col("wsum").as("w_b")), "id_b")
      .filter(col("inter") * (thetaDen + thetaNum) >= (col("w_a") + col("w_b")) * thetaNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("w_a"), col("w_b"),
        round(col("inter").cast("double") / (col("w_a") + col("w_b") - col("inter")), 6)
          .as("wjac"))
  }
}
