package graft.operators

import graft.operators.CacheScope.persist
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One decoded media asset: typed metadata + a small feature vector. */
final case class MediaFeatures(
    doc_id: Long,
    n_bytes: Long,
    mean_byte: Double,
    n_blocks: Int,
    block_means: Array[Double])

/** Downsampled media: every stride-th block + pairwise-averaged frames. */
final case class FrameSample(
    doc_id: Long,
    n_blocks: Int,
    n_frames: Int,
    frame_means: Seq[Double],
    resized: Seq[Double])

/** Per-asset activity segmentation (m08): run structure of the
  * above-threshold "energy" blocks.
  */
final case class VadSegments(
    doc_id: Long,
    n_blocks: Int,
    n_active: Long,
    n_segments: Long,
    longest_run: Long)

/** Per-asset shot-boundary structure (m09): cuts where consecutive
  * frame signatures jump by more than the threshold.
  */
final case class ShotCuts(
    doc_id: Long,
    n_frames: Long,
    n_cuts: Long,
    n_shots: Long,
    max_jump: Long)

/** Per-asset A/V sync estimate (m16): the lag maximizing the integer
  * cross-correlation of the two tracks' block-energy series.
  */
final case class SyncLag(
    doc_id: Long,
    n_blocks: Long,
    best_lag: Long,
    best_score: Long)

/** One row per speech/active segment (m17): its block span, the
  * segment-level twin of [[VadSegments]]'s per-asset aggregate.
  */
final case class SpeechSpan(
    doc_id: Long,
    seg: Long,
    b_start: Long,
    b_end: Long)

/** One row per detected shot (m12): its frame span and the selected
  * keyframe — the sharpest frame by the integer variance proxy.
  */
final case class ShotKeyframe(
    doc_id: Long,
    shot: Long,
    start_f: Long,
    end_f: Long,
    key_f: Long,
    sharp_fp: Long)

/** Per-asset byte-entropy screen (m10): fixed-point Shannon entropy of
  * the payload's byte histogram.
  */
final case class ByteEntropy(
    doc_id: Long,
    n_bytes: Long,
    n_distinct: Long,
    entropy_fp: Long)

/** Multimodal (binary) column plumbing for image/audio/video-bearing
  * tables.
  *
  * The design point: media travels as an opaque `binary` column with
  * typed metadata beside it; decode / feature-extraction runs
  * per-partition over iterator batches (constant memory, no
  * driver-side collection), producing a typed row. The actual codec
  * call is STUBBED — this container has no image/audio libraries — as
  * [[StubCodec.decode]], a deterministic fake with the same signature
  * a real decoder would have. Everything around it (binary column
  * handling, partition-sized batching, typed output schema) is real
  * and tested.
  */
object Multimodal {

  /** STUB: stands in for an image/audio decoder (e.g. JPEG -> pixel
    * array). Deterministic: "decodes" the payload into fixed-width
    * blocks and returns per-block byte means as the "features". A real
    * deployment swaps only this function.
    */
  object StubCodec {
    val BlockSize = 16
    def decode(payload: Array[Byte]): (Long, Double, Int, Array[Double]) = {
      val n = payload.length.toLong
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
      val meanByte = if (n == 0) 0.0 else sum.toDouble / n
      val blocks = payload.grouped(BlockSize).map { blk =>
        var s = 0L
        var j = 0
        while (j < blk.length) { s += blk(j) & 0xff; j += 1 }
        s.toDouble / blk.length
      }.toArray
      (n, meanByte, blocks.length, blocks)
    }
  }

  /** Attach a binary payload column derived from text (the testdata has
    * no media table; real media would arrive as parquet binary).
    */
  def withBinaryPayload(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("payload", encode(col(textCol), "UTF-8"))

  /** Temporal/spatial downsampling over decoded media: every
    * `stride`-th block ("frame sampling") and pairwise-averaged frames
    * ("resize"). Runs typed on the decoded features — the shape a video
    * frame-sampler or image downscaler takes after the codec stage; the
    * arithmetic (sequential sum / count) is oracle-replicable.
    */
  def sampleFrames(decoded: Dataset[MediaFeatures], stride: Int = 4): Dataset[FrameSample] = {
    import decoded.sparkSession.implicits._
    decoded.map { m =>
      val frames = m.block_means.indices
        .collect { case i if i % stride == 0 => m.block_means(i) }
      val resized = frames.grouped(2).map(g => g.sum / g.length).toSeq
      FrameSample(m.doc_id, m.n_blocks, frames.length, frames, resized)
    }
  }

  /** Cross-payload near-duplicate pairs by shared content-defined
    * chunks — the binary-payload dedup primitive (what a 100 TB media
    * store runs to find re-encodes, prefix-trims, and container-level
    * copies; insertion-robust because CDC boundaries re-sync after an
    * edit, unlike fixed blocks).
    *
    * Dataflow: per-payload distinct chunk hashes (one typed pass,
    * [[graft.functions.TextKernels.cdcChunkHashes]]); chunks with
    * document frequency > `dfCap` are dropped BEFORE the pair join —
    * the standard posting-list cap that bounds any chunk's pair
    * contribution to dfCap^2 (measured on the planted-near-dup corpus:
    * 4x fewer candidate pairs, identical >=0.5-overlap recall);
    * candidates are an equi-join on chunk hash; overlap =
    * shared / min(|chunks_a|, |chunks_b|), thresholded on the RAW
    * ratio (rounded only for display). Never an all-pairs product.
    */
  def chunkOverlapPairs(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8, mask: Long = 63, dfCap: Long = 16,
      minOverlap: Double = 0.5): DataFrame = {
    require(w >= 1, s"chunk window w=$w must be >= 1")
    require(mask >= 0, s"boundary mask=$mask must be >= 0")
    require(dfCap >= 1, s"dfCap=$dfCap must be >= 1")
    require(minOverlap > 0 && minOverlap <= 1,
      s"minOverlap=$minOverlap must be in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val chunks = persist(docs
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.functions.TextKernels.cdcChunkHashes(
          if (t == null) "" else t, w, mask).distinct.map(h => (id, h))
      }
      .toDF("id", "ch"))
    keyOverlapPairs(chunks, dfCap, minOverlap)
  }

  /** Shared posting-overlap pair engine over per-id integer keys
    * ("id", "ch" — already distinct per id): keys with document
    * frequency > `dfCap` are dropped BEFORE the pair join (bounding
    * any hot key's pair contribution to dfCap^2), candidates are one
    * equi-join on the key, overlap = shared / min(|keys_a|, |keys_b|)
    * thresholded on the RAW ratio. The engine behind both the CDC
    * chunk dedup (m05) and the sampled-frame dedup (m07) — never an
    * all-pairs product.
    */
  private def keyOverlapPairs(keys: DataFrame, dfCap: Long,
      minOverlap: Double): DataFrame = {
    val sizes = keys.groupBy(col("id")).agg(count(lit(1)).as("nch"))
    val rareDf = keys.groupBy(col("ch")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
    // `rare` feeds both sides of the pairs self-join UNPERSISTED on
    // purpose: the two subtrees are identical, so AQE exchange reuse
    // serves the second side from the first's shuffle files — measured
    // m05 0.75 s vs 5.0 s with an explicit persist (materializing the
    // full posting set costs far more than the reused exchange)
    val rare = keys.join(rareDf, "ch")
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.ch") === col("b.ch") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    val ov = col("n_shared").cast("double") / least(col("nch_a"), col("nch_b"))
    pairs
      .join(sizes.select(col("id").as("id_a"), col("nch").as("nch_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("nch").as("nch_b")), "id_b")
      .filter(ov >= minOverlap)
      .select(col("id_a"), col("id_b"), col("n_shared"), round(ov, 6).as("overlap"))
  }

  /** Frame-level near-duplicate pairs — the video/image counterpart of
    * [[chunkOverlapPairs]]: decode (stub convention), keep every
    * `stride`-th 16-byte block ("frame sampling", [[sampleFrames]]'s
    * cadence), key each sampled frame by its exact integer content
    * (byte-sum * 64 + block length — order-free, so a re-containered
    * copy with identical frames matches), and feed the per-payload
    * distinct frame-key sets through the shared df-capped posting
    * engine. One typed pass per payload + the m05 equi-join — never
    * all-pairs, and the sampled keys are stride× fewer than blocks.
    */
  def frameNearPairs(docs: DataFrame, textCol: String, idCol: String,
      stride: Int = 4, dfCap: Long = 16, minOverlap: Double = 0.5): DataFrame = {
    require(stride >= 1, s"stride=$stride must be >= 1")
    require(dfCap >= 1, s"dfCap=$dfCap must be >= 1")
    require(minOverlap > 0 && minOverlap <= 1,
      s"minOverlap=$minOverlap must be in (0, 1]")
    val spark = docs.sparkSession
    import spark.implicits._
    val bs = StubCodec.BlockSize
    val keys = persist(withBinaryPayload(docs, textCol)
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        val nb = ((p.length.toLong + bs - 1) / bs).toInt
        val ks = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        while (i < nb) {
          if (i % stride == 0) {
            val start = i * bs
            val end = math.min(p.length.toLong, (i.toLong + 1) * bs).toInt
            var s = 0L
            var j = start
            while (j < end) { s += p(j) & 0xff; j += 1 }
            ks += s * 64L + (end - start)
          }
          i += 1
        }
        ks.iterator.map(k => (id, k))
      }
      .toDF("id", "ch"))
    keyOverlapPairs(keys, dfCap, minOverlap)
  }

  /** Average-hash (aHash) perceptual fingerprint of a binary payload —
    * the classic image near-dup signature. The "decode" half is the
    * stub convention of [[StubCodec]]: sample 64 bytes evenly across
    * the payload (the stand-in for an 8x8 luma downsample a real
    * decoder would produce), then bit i = sample_i >= the integer
    * floor-mean of the 64 samples. Deterministic, integer-only, and
    * engine-portable (two's-complement 64-bit pack). Payloads under 64
    * bytes yield no hash — an image smaller than the grid.
    */
  def perceptualHash(payload: Array[Byte]): Option[Long] = {
    val n = payload.length
    if (n < 64) None
    else {
      val smp = new Array[Long](64)
      var i = 0
      // long arithmetic: i*n overflows Int for payloads over ~34 MB
      while (i < 64) { smp(i) = payload((i.toLong * n / 64).toInt) & 0xffL; i += 1 }
      var sum = 0L
      i = 0
      while (i < 64) { sum += smp(i); i += 1 }
      val mean = sum / 64
      var h = 0L
      i = 0
      while (i < 64) { if (smp(i) >= mean) h |= 1L << i; i += 1 }
      Some(h)
    }
  }

  /** `(id, sig64)` perceptual-hash relation over the binary payload,
    * via the same typed per-partition pass as the other decode stages.
    */
  def withPerceptualHash(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    withBinaryPayload(docs, textCol)
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        perceptualHash(if (p == null) Array.empty else p).map(h => (id, h))
      }
      .toDF("id", "sig64")
  }

  /** Binary-payload near-duplicate pairs by perceptual hash: aHash
    * signatures through [[Dedup.bandedNearPairs64]] — the SAME
    * 4 x 16-bit pigeonhole band join, first-agreeing-band dedup, and
    * exact-hamming verify as text SimHash (d12), only the signature
    * family differs. The re-encode / watermark / crop-robust
    * complement to [[chunkOverlapPairs]]'s byte-level CDC matching.
    */
  def phashNearPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 6): DataFrame = {
    val sigs = persist(withPerceptualHash(docs, textCol, idCol))
    Dedup.bandedNearPairs64(sigs, maxHamming)
  }

  /** Per-partition decode of binary payloads into typed features —
    * iterator-to-iterator (spill-safe, constant memory per task), the
    * shape a Pandas-UDF/mapInPandas batch decode takes in PySpark.
    */
  def decodeFeatures(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id"): Dataset[MediaFeatures] = {
    import spark.implicits._
    docsWithPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val (n, meanByte, nBlocks, blockMeans) = StubCodec.decode(payload)
          MediaFeatures(id, n, meanByte, nBlocks, blockMeans)
        }
      }
  }

  /** VAD-style activity segmentation (the audio voice-activity /
    * video motion-detection shape): threshold each decoded block's
    * "energy", then extract the RUN structure — segment count, active
    * block count, longest run — per asset. The threshold compare is
    * exact integer arithmetic on the block byte SUM (blockSum >=
    * thr·blockLen, never a float mean), so the oracle replays every
    * verdict; the run fold is the gaps-and-islands kernel the event
    * queries (q19/q41) run on rows, here applied inside one row's
    * decoded payload. Same iterator-to-iterator partition shape as
    * [[decodeFeatures]] — constant memory, no shuffle; a real
    * deployment swaps the stub block source only.
    */
  def vadSegments(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id", thr: Int = 100): Dataset[VadSegments] = {
    import spark.implicits._
    docsWithPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          var nAct = 0L; var nSeg = 0L; var longest = 0L; var cur = 0L
          var nBlocks = 0
          val grouped = payload.grouped(StubCodec.BlockSize)
          grouped.foreach { blk =>
            nBlocks += 1
            var s = 0L; var j = 0
            while (j < blk.length) { s += blk(j) & 0xff; j += 1 }
            if (s >= thr.toLong * blk.length) {
              nAct += 1; cur += 1
              if (cur == 1L) nSeg += 1
              if (cur > longest) longest = cur
            } else cur = 0L
          }
          VadSegments(id, nBlocks, nAct, nSeg, longest)
        }
      }
  }

  /** Shot/scene-boundary detection (m09): treat each
    * [[StubCodec.BlockSize]]-byte block of the payload as one decoded
    * frame, its byte-sum as the frame signature, and declare a CUT
    * wherever consecutive signatures jump by more than `thr` — the
    * content-based shot segmentation a video-curation pipeline runs
    * before per-shot sampling/captioning. Same execution contract as
    * [[vadSegments]]: one typed iterator pass per partition, O(1)
    * memory per row, no shuffle — the per-asset kernel is embarrassingly
    * parallel at any corpus size. All arithmetic is exact integers, so
    * the SQL oracle replays every cut.
    */
  def shotCuts(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id", thr: Long = 96L): Dataset[ShotCuts] = {
    import spark.implicits._
    docsWithPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          var nF = 0L; var nC = 0L; var maxJ = 0L; var prev = -1L
          payload.grouped(StubCodec.BlockSize).foreach { blk =>
            nF += 1
            var s = 0L; var j = 0
            while (j < blk.length) { s += blk(j) & 0xff; j += 1 }
            if (prev >= 0) {
              val jump = math.abs(s - prev)
              if (jump > thr) nC += 1
              if (jump > maxJ) maxJ = jump
            }
            prev = s
          }
          ShotCuts(id, nF, nC, if (nF > 0) nC + 1 else 0L, maxJ)
        }
      }
  }

  /** A/V SYNC-DRIFT ESTIMATION (m16): the lag between two tracks of
    * one asset, recovered as the argmax of the exact-integer
    * cross-correlation of their block-energy series — the muxing QA
    * check an audio/video curation pipeline runs before captioning
    * (a drifted pair poisons any alignment-supervised training).
    * Both payloads decode to per-block byte sums (the [[vadSegments]]
    * energy, FULL [[StubCodec.BlockSize]]-byte blocks only so lags
    * stay block-aligned); for each candidate lag c in [0, maxLag) the
    * score is the CENTERED fixed-window cross-correlation as an exact
    * integer cross-multiply (the Pearson numerator ×W — raw dots are
    * swamped by the near-constant energy mean of prose-like payloads;
    * measured at sf0.01: raw recovers the planted lag on only 20% of
    * assets, centered on 98%):
    *
    *   score(c) = W·Σ ea(i+c)·eb(i) − (Σ ea(i+c))·(Σ eb(i)),
    *   i = 0..W−1,  W = nbA − maxLag
    *
    * (one shared window, so scores are comparable across lags), and
    * the estimate is the argmax with ties to the LOWEST lag. Same
    * iterator-to-iterator partition contract as [[vadSegments]]:
    * constant memory, no shuffle, embarrassingly parallel — and all
    * integer, so the oracle replays every score. Assets with fewer
    * than `minBlocks` full blocks are skipped (no stable window).
    *
    * Exact-arithmetic domain: per-block energy ≤ 255·BlockSize = 4080,
    * so both cross-multiply terms are ≤ w²·4080². Keeping each term ≤
    * 2⁶² guarantees the products AND the subtraction never wrap —
    * w ≤ ⌊√(2⁶²/4080²)⌋ = 526,343 blocks (≈ 8.4 MB of payload at the
    * 16-byte block size). Larger assets are SKIPPED like the
    * too-short ones rather than scored with a silently wrapped Long
    * (a DuckDB replay errors on bigint overflow instead of wrapping,
    * so a wrapped score would also silently diverge from the oracle).
    */
  def avSyncLag(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", aCol: String = "payload_a",
      bCol: String = "payload_b", maxLag: Int = 8, minBlocks: Int = 12)
      : Dataset[SyncLag] = {
    import spark.implicits._
    require(maxLag >= 1 && minBlocks > maxLag,
      s"need minBlocks > maxLag >= 1, got maxLag=$maxLag minBlocks=$minBlocks")
    docs
      .select(col(idCol).cast("long"), col(aCol), col(bCol))
      .as[(Long, Array[Byte], Array[Byte])]
      .mapPartitions { it =>
        def energies(p: Array[Byte]): Array[Long] = {
          val nb = p.length / StubCodec.BlockSize
          Array.tabulate(nb) { i =>
            var s = 0L; var j = i * StubCodec.BlockSize
            val end = (i + 1) * StubCodec.BlockSize
            while (j < end) { s += p(j) & 0xff; j += 1 }
            s
          }
        }
        // exact-arithmetic window bound (see scaladoc): w²·maxE² ≤ 2⁶²
        val maxE = 255L * StubCodec.BlockSize
        val maxW = (math.sqrt((Long.MaxValue / 2).toDouble) / maxE).toLong
        it.flatMap { case (id, pa, pb) =>
          val ea = energies(pa)
          val eb = energies(pb)
          val w = ea.length - maxLag
          if (ea.length < minBlocks || eb.length < w || w <= 0 ||
            w > maxW) None
          else {
            var sumB = 0L
            var i = 0
            while (i < w) { sumB += eb(i); i += 1 }
            var best = 0; var bestScore = Long.MinValue
            var c = 0
            while (c < maxLag) {
              var dot = 0L; var sumA = 0L
              i = 0
              while (i < w) {
                dot += ea(i + c) * eb(i); sumA += ea(i + c); i += 1
              }
              val s = w * dot - sumA * sumB
              if (s > bestScore) { bestScore = s; best = c } // ties: lowest lag
              c += 1
            }
            Some(SyncLag(id, ea.length.toLong, best.toLong, bestScore))
          }
        }
      }
  }

  /** Constellation fingerprints (m11, Wang 2003): (doc_id, hash, t, fo)
    * per anchor-target pair, one narrow typed pass of
    * [[constellationPrintsLocal]] over each row — the batch rows (m11,
    * m13) and st40's index and snippets all run that one kernel. `t` is
    * the anchor frame, `fo` the pair's rank within its anchor, so the
    * fan-out-F prints are exactly the prints of any larger fan-out with
    * fo <= F.
    */
  def constellationPrints(src: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", fanOut: Int = 3): DataFrame = {
    import src.sparkSession.implicits._
    src.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        constellationPrintsLocal(text, fanOut).map { case (h, t, fo) => (id, h, t, fo) }
      }
      .toDF("doc_id", "hash", "t", "fo")
  }

  /** Constellation fingerprints of one string: 8-char frame energies
    * over full frames, plateau-deterministic peaks
    * (left-strict/right-loose, missing neighbors read as -1),
    * anchor-target pairs within 16 frames ascending, hash =
    * (lvl_a·2048 + lvl_b)·17 + dt with lvl = min(energy, 2047). Returns
    * (hash, t, fo): t the anchor frame, fo = 1..fanOut the target's rank
    * among its anchor's targets. Null or < 8 chars gives no prints.
    */
  def constellationPrintsLocal(text: String, fanOut: Int = 3): Array[(Long, Int, Int)] = {
    val s = if (text == null) "" else text
    val nf = s.length / 8 // full 8-char frames only
    if (nf == 0) return Array.empty
    val e = new Array[Long](nf)
    var f = 0
    while (f < nf) {
      var sum = 0L; var j = f * 8
      val end = j + 8
      while (j < end) { sum += s.charAt(j).toLong; j += 1 }
      e(f) = sum; f += 1
    }
    def at(i: Int): Long = if (i < 0 || i >= nf) -1L else e(i)
    val peaks = (0 until nf).filter { i =>
      e(i) > at(i - 1) && e(i) > at(i - 2) &&
        e(i) >= at(i + 1) && e(i) >= at(i + 2)
    }.toArray
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int)]
    var a = 0
    while (a < peaks.length) {
      val af = peaks(a)
      val la = math.min(e(af), 2047L)
      var b = a + 1; var taken = 0
      while (b < peaks.length && taken < fanOut && peaks(b) - af <= 16) {
        val bf = peaks(b)
        val lb = math.min(e(bf), 2047L)
        taken += 1
        out += (((la * 2048L + lb) * 17L + (bf - af), af, taken))
        b += 1
      }
      a += 1
    }
    out.toArray
  }

  /** Keyframe selection (m12): the training-data step after shot
    * detection — keep ONE representative frame per shot (the frame a
    * captioner/CLIP encoder would see). Shots are m09's byte-sum-jump
    * segments (same `thr`); the keyframe is the shot's frame with the
    * highest sharpness, stubbed as the exact integer variance proxy
    * blockLen·Σx² − (Σx)² over the frame's bytes (a real deployment
    * swaps in a Laplacian-variance kernel at StubCodec's seam), ties
    * to the earliest frame. Typed partition pass, one row per shot —
    * no shuffle; at 100 TB this is a pure map over the media scan.
    */
  def shotKeyframes(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id", thr: Long = 96L): Dataset[ShotKeyframe] = {
    import spark.implicits._
    docsWithPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[ShotKeyframe]
          var shot = 0L; var startF = 0L; var f = -1L
          var keyF = -1L; var keySharp = Long.MinValue
          var prev = -1L
          payload.grouped(StubCodec.BlockSize).foreach { blk =>
            f += 1
            var s = 0L; var q = 0L; var j = 0
            while (j < blk.length) {
              val b = (blk(j) & 0xff).toLong; s += b; q += b * b; j += 1
            }
            val sharp = blk.length * q - s * s
            if (prev >= 0 && math.abs(s - prev) > thr) {
              out += ShotKeyframe(id, shot, startF, f - 1, keyF, keySharp)
              shot += 1; startF = f
              keyF = -1L; keySharp = Long.MinValue
            }
            if (sharp > keySharp) { keySharp = sharp; keyF = f }
            prev = s
          }
          if (f >= 0) out += ShotKeyframe(id, shot, startF, f, keyF, keySharp)
          out
        }
      }
  }

  /** Per-segment spans of the [[vadSegments]] run structure — one row
    * per active run with its inclusive 0-based block span. Same
    * threshold compare (blockSum >= thr·blockLen, exact integers),
    * same iterator-to-iterator contract; this is the table the
    * cross-modal alignment joins consume (m17), where m08's per-asset
    * aggregate can't say WHERE the speech sits.
    */
  def vadSpans(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id", thr: Int = 100): Dataset[SpeechSpan] = {
    import spark.implicits._
    docsWithPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SpeechSpan]
          var b = -1L; var seg = -1L; var runStart = -1L
          payload.grouped(StubCodec.BlockSize).foreach { blk =>
            b += 1
            var s = 0L; var j = 0
            while (j < blk.length) { s += blk(j) & 0xff; j += 1 }
            if (s >= thr.toLong * blk.length) {
              if (runStart < 0) { seg += 1; runStart = b }
            } else if (runStart >= 0) {
              out += SpeechSpan(id, seg, runStart, b - 1); runStart = -1
            }
          }
          if (runStart >= 0) out += SpeechSpan(id, seg, runStart, b)
          out
        }
      }
  }

  /** SPEECH-SHOT COVERAGE (m17) — the cross-modal ALIGNMENT join an
    * A/V curation pipeline runs after segmentation: the audio track's
    * speech spans ([[vadSpans]]) interval-join the video track's shot
    * spans ([[shotKeyframes]]) on the shared block/frame grid, and
    * each shot reads off how much of it carries speech — the signal
    * that filters silent shots (credits, slates, b-roll) before
    * captioning, and routes speech-dense shots to transcription.
    *
    * The Spark shape is the production one: segments and shots are
    * OUTPUTS OF SEPARATE EXTRACTION JOBS (two tables, not one zipped
    * pass), so alignment is an equi-join on the asset id with the
    * range-overlap predicate riding on it — the join key carries the
    * shuffle, the per-asset span lists are small, and the overlap
    * filter evaluates post-match. Active runs are disjoint by
    * construction, so summing per-overlap clipped lengths is exactly
    * the count of speech blocks inside the shot. A LEFT join keeps
    * silent shots (the rows the filter exists for).
    */
  def speechShotCoverage(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id", vadThr: Int = 95, cutThr: Long = 96L): DataFrame = {
    val withP = persist(docsWithPayload) // two extraction passes
    val shots = shotKeyframes(spark, withP, idCol, cutThr).toDF()
      .select(col("doc_id"), col("shot"), col("start_f"), col("end_f"))
    val segs = vadSpans(spark, withP, idCol, vadThr).toDF()
      .select(col("doc_id").as("s_doc"), col("b_start"), col("b_end"))
    // least/greatest IGNORE nulls (Spark and DuckDB alike), so an
    // unmatched LEFT-join row would read as full-shot coverage — the
    // null guard is load-bearing, not defensive
    val overlap = when(col("b_start").isNull, lit(0L)).otherwise(
      least(col("b_end"), col("end_f")) - greatest(col("b_start"), col("start_f")) + lit(1L))
    shots.join(segs, col("doc_id") === col("s_doc") &&
        col("b_start") <= col("end_f") && col("b_end") >= col("start_f"),
        "left")
      .groupBy(col("doc_id"), col("shot"), col("start_f"), col("end_f"))
      .agg(coalesce(sum(overlap), lit(0L)).as("speech_blocks"))
      .select(col("doc_id"), col("shot"), col("start_f"), col("end_f"),
        (col("end_f") - col("start_f") + 1).as("shot_blocks"),
        col("speech_blocks"),
        round(col("speech_blocks").cast("double")
          / (col("end_f") - col("start_f") + 1), 6).as("speech_frac"),
        (col("speech_blocks") === 0L).as("is_silent"))
  }

  /** Byte-entropy screen (m10): Shannon entropy of each payload's byte
    * histogram — the junk detector a multimodal ingest runs first
    * (compressed/encrypted blobs sit near 8 bits/byte, text near 4,
    * constant padding near 0). Entropy is computed in the SHARED 16.16
    * fixed-point log2 ([[graft.operators.Mixture.log2Fp]]'s exact
    * arithmetic, inlined on longs): H_fp = Σ c·(log2fp(n) − log2fp(c))
    * over the 256 byte counts — a pure-integer result the SQL oracle
    * replays bit-for-bit (bits/byte ≈ H_fp / (n·65536)). One typed
    * partition pass, O(256) memory per row, no shuffle.
    */
  def byteEntropy(spark: SparkSession, docsWithPayload: DataFrame,
      idCol: String = "doc_id"): Dataset[ByteEntropy] = {
    import spark.implicits._
    def log2fp(x: Long): Long = {
      val p = 63 - java.lang.Long.numberOfLeadingZeros(x)
      p.toLong * 65536 + ((x << 16) >> p) - 65536
    }
    docsWithPayload
      .select(col(idCol).cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val counts = new Array[Long](256)
        it.map { case (id, payload) =>
          java.util.Arrays.fill(counts, 0L)
          var i = 0
          while (i < payload.length) { counts(payload(i) & 0xff) += 1; i += 1 }
          val n = payload.length.toLong
          var nd = 0L; var hfp = 0L
          if (n > 0) {
            val ln = log2fp(n)
            var b = 0
            while (b < 256) {
              val c = counts(b)
              if (c > 0) { nd += 1; hfp += c * (ln - log2fp(c)) }
              b += 1
            }
          }
          ByteEntropy(id, n, nd, hfp)
        }
      }
  }
}
