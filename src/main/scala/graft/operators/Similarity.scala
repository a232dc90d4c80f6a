package graft.operators

import graft.operators.CacheScope.{checkpoint, persist}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search.
  *
  * Dot products are a SEQUENTIAL left fold over per-element double
  * products — bitwise deterministic and reproducible in any engine
  * with an ordered list reduce (no float-ordering hazards in
  * thresholds or rankings) — executed by the codegen'd native
  * [[graft.functions.DotProduct]] expression (the interpreted
  * `zip_with` + `aggregate` chain it replaces profiled as the dominant
  * cost of the cosine self-joins).
  *
  * Scale path: [[bruteForceTopK]] broadcasts the (small) query set and
  * scans the corpus once — O(|corpus| * |queries| * d) with no shuffle
  * of the corpus. [[hyperplaneBucket]] is the random-hyperplane LSH
  * (Charikar 2002) for big-big similarity: bucket both sides on the
  * sign signature, equi-join buckets, then exact-verify — the same
  * grid-bucket trick the spatial core uses for its eps-join.
  *
  * [[annTopK]] is the one approximate top-k entry point: an [[AnnSpec]]
  * picks the partition pruning (none, or IVF over lowest-id, trained or
  * fixed-point-trained centroids with hard or soft assignment) and the
  * scorer (exact cosine, PQ/ADC, residual PQ, or fixed-point residual PQ
  * with an exact-integer rerank); each decision is one private stage.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns (elements
    * cast to double before multiplying).
    */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.DotProduct(Bridge.expression(a), Bridge.expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth reduction for vector stores: per vector,
    * scale = max|x| / 127, code_i = floor(x_i/scale + 0.5) ∈ [-127,127]
    * (round-half-up spelled as an exact floor so any engine reproduces
    * it bit-for-bit). Emits the codes plus reconstruction-error stats
    * (max and mean of |code·scale − x|, the numbers a 100 TB rollout
    * decision is made on). Pure per-row projection — no shuffle, no
    * UDF; everything is higher-order array expressions over doubles.
    * An all-zero vector (scale 0) quantizes to all-zero codes with
    * zero error — the exact-reconstruction limit — rather than NaN.
    */
  def int8Quantize(vecs: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val v = transform(col(vecCol), x => x.cast("double"))
    val scale = array_max(transform(v, x => abs(x))) / 127.0
    val codes = when(scale === 0, transform(v, _ => lit(0).cast("int")))
      .otherwise(transform(v, x => floor(x / scale + 0.5).cast("int")))
    val errs = zip_with(codes, v, (c, x) => abs(c.cast("double") * scale - x))
    vecs.select(col(idCol).cast("long").as("vec_id"),
        codes.as("codes"), errs.as("errs"), scale.as("scale"))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        round(array_max(col("errs")), 6).as("max_err"),
        round(aggregate(col("errs"), lit(0.0), (a, e) => a + e) / size(col("codes")), 6)
          .as("mean_err"),
        array_join(transform(col("codes"), c => c.cast("string")), ",").as("codes_csv"))
  }

  /** Exact top-k cosine neighbors for each query vector (brute force —
    * the correctness baseline ANN variants are judged against).
    * Queries are broadcast; ties break by neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val scored = c.join(q, col("n_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("n_vec")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("rnk"), round(col("cos"), 6).as("cos_sim"))
  }

  /** Random-hyperplane LSH bucket id: bit j of the bucket is the sign
    * of the dot product with pseudo-random plane j, whose weights are
    * the deterministic Knuth-mixed lattice
    * w(j,d) = (((j*131071 + d) * 2654435761) mod 2^31) mod 7 - 3 —
    * every plane distinct (the mix decorrelates (j,d) before the mod-7
    * fold), engine-portable integer arithmetic throughout.
    */
  def hyperplaneBucket(vec: Column, nPlanes: Int = 8): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.HyperplaneBucketExpr(Bridge.expression(vec), nPlanes))
  }

  /** Approximate top-k neighbors of every query vector — the one ANN
    * entry point. `spec` picks a point on the grid {Flat, Ivf} × {Raw,
    * Pq, PqResidual} × source (see [[AnnSpec]]); each decision is one
    * private stage, composed here:
    *
    *   - [[centroidFrame]]: the coarse centroids, by source;
    *   - [[routeCorpus]] / [[assignNearest]]: every corpus vector into
    *     its `assign` nearest lists;
    *   - [[probeLists]]: every query's `nprobe` nearest lists;
    *   - the scorer: exact cosine ([[scoreRaw]]), ADC over a raw-vector
    *     codebook ([[scorePq]]), residual ADC ([[scoreResidual]]), or the
    *     integer ADC with its exact rerank ([[scoreResidualFp]]);
    *   - [[keepTop]]: the per-query rank tail.
    *
    * Output (q_id, n_id, rnk, score) with score cos_sim (Raw), adc_d2
    * (float PQ) or adc_fp [, d2_fp] (fixed point); a query never ranks
    * itself. Ties everywhere: better score, then lower id. Recall of
    * every point the rows use is measured in AnnRecallSpec.
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int, spec: AnnSpec): DataFrame = {
    import AnnSpec._
    spec.validate(k)
    ((spec.coarse, spec.code): @unchecked) match {
      case (Flat, pq: Pq) => scorePq(corpus, queries, k, pq, spec.source, None)
      case (ivf: Ivf, code) =>
        val cent = centroidFrame(corpus, ivf.nlist, spec.source)
        code match {
          case Raw => scoreRaw(corpus, queries, k, cent, ivf)
          case pq: Pq => scorePq(corpus, queries, k, pq, spec.source, Some((cent, ivf.nprobe)))
          case r: PqResidual if spec.source == TrainedFp =>
            scoreResidualFp(corpus, queries, k, cent, ivf.nprobe, r)
          case r: PqResidual => scoreResidual(corpus, queries, k, cent, ivf, r, spec.source)
        }
    }
  }

  /** The ANN stages read the embeddings-table layout. */
  private val IdCol = "vec_id"
  private val VecCol = "embedding"

  /** [[annTopK]] stage 1, the coarse quantizer as a broadcast
    * (c_id, c_vec) frame. LowestId: the `nlist` lowest-id vectors act as
    * centroids — no trained k-means, so the oracle can replicate the
    * exact partition. Trained/TrainedFp: the replayable trainers below
    * (arbitrary corpus points make lopsided cells and recall pays).
    */
  private def centroidFrame(corpus: DataFrame, nlist: Int, from: AnnSpec.Source): DataFrame =
    from match {
      case AnnSpec.LowestId => lowestIdCentroids(corpus, nlist, IdCol, VecCol)
      case AnnSpec.Trained => centFrame(corpus.sparkSession, ivfTrainCentroidsLocal(corpus, nlist))
      case AnnSpec.TrainedFp => centFrame(corpus.sparkSession, ivfTrainCentroidsFp(corpus, nlist))
    }

  /** The `nlist` lowest-id vectors as broadcast (c_id, c_vec) centroids. */
  private def lowestIdCentroids(corpus: DataFrame, nlist: Int,
      idCol: String, vecCol: String): DataFrame =
    broadcast(corpus.filter(col(idCol) < nlist)
      .select(col(idCol).cast("long").as("c_id"), col(vecCol).as("c_vec")))

  /** Driver-trained centroids as a broadcast (c_id, c_vec) frame. */
  private def centFrame(s: org.apache.spark.sql.SparkSession,
      trained: Array[(Long, Array[Double])]): DataFrame = {
    import s.implicits._
    broadcast(trained.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }.toDF("c_id", "c_vec"))
  }

  /** Hard IVF assignment over `cands` (rows × centroids): each `id`
    * keeps its max-cosine c_id, ties to the lower c_id, as a max over a
    * (cos, -c_id, c_id, carry...) struct — partial-aggregatable, no
    * window sort over the corpus. Output (id, c_id, carry...).
    */
  private def assignNearest(cands: DataFrame, id: String, vec: String,
      carry: String*): DataFrame =
    cands
      .withColumn("cos_c", cosine(col(vec), col("c_vec")))
      .groupBy(col(id))
      .agg(max(struct(Seq(col("cos_c"), (-col("c_id")).as("neg_c"), col("c_id")) ++
        carry.map(col): _*)).as("best"))
      .select(Seq(col(id), col("best.c_id").as("c_id")) ++
        carry.map(c => col(s"best.$c").as(c)): _*)

  /** The `n` best lists of every row of `cands` (id, vec, c_id, c_vec)
    * as (id, probes, vec), probes a bounded [[graft.functions.TopKCosAgg]]
    * state — O(n) per row, partial-aggregatable, no window sort over the
    * n × nlist product; probes[1] is the hard assignment. NULL cosines
    * (zero-norm vectors: x/0 is NULL in Spark) are filtered first — the
    * typed (Long, Double) input cannot carry null, and a zero vector has
    * no meaningful cosine neighbors. first() is deterministic here: the
    * vec is identical on every row of an id group.
    */
  private def topLists(cands: DataFrame, n: Int): DataFrame = cands
    .withColumn("cos_c", cosine(col("vec"), col("c_vec")))
    .filter(col("cos_c").isNotNull)
    .groupBy(col("id"))
    .agg(topCos(n)(col("c_id"), col("cos_c")).as("probes"), first(col("vec")).as("vec"))

  /** The bounded (id, score) top-`n` aggregate, best score first, ties
    * to the lower id ([[graft.functions.TopKCosAgg]]).
    */
  private def topCos(n: Int) = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    udaf(new graft.functions.TopKCosAgg(n), ExpressionEncoder[(Long, Double)]())
  }

  /** [[annTopK]] stage 2, routing: (n_id, c_id, n_vec), every corpus
    * vector in its `assign` nearest lists. At scale the corpus shuffles
    * once (by centroid) and each query touches nprobe/nlist of the data.
    *
    * assign > 1 is MULTI-PROBE soft assignment, the recall-ceiling
    * breaker: trained-IVF recall@10 at nprobe=4 sits EXACTLY on the
    * list-coverage bound (Lloyd iterations and sample size are
    * saturated; the misses are true neighbors whose single assigned list
    * the query never probes — cell-boundary points). Indexed into its
    * `assign` nearest lists, a boundary neighbor is reachable from BOTH
    * adjacent cells; the scan budget per query is nprobe·assign·(n/nlist)
    * rows, so (assign=2, nprobe=2) costs the baseline (1, 4) scan but
    * covers the 2×2 list-pair union instead of a 1×4 line (AnnRecallSpec
    * holds the measured table).
    */
  private def routeCorpus(corpus: DataFrame, cent: DataFrame, assign: Int): DataFrame =
    if (assign == 1)
      assignNearest(rowsOf(corpus, "n_id", "n_vec").crossJoin(cent), "n_id", "n_vec", "n_vec")
    else topLists(rowsOf(corpus, "id", "vec").crossJoin(cent), assign)
      .select(col("id").as("n_id"), explode(col("probes")("_1")).as("c_id"),
        col("vec").as("n_vec"))

  /** (id, vec) of an embeddings frame under the names a stage uses. */
  private def rowsOf(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(IdCol).cast("long").as(id), col(VecCol).as(vec))

  /** [[annTopK]] stage 3, probes: (q_id, q_vec, c_id, c_vec), each
    * query's `nprobe` max-cosine lists (ties to the lower c_id) — a
    * window over the small |queries| × nlist product only.
    */
  private def probeLists(queries: DataFrame, cent: DataFrame, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_q").desc, col("c_id").asc)
    rowsOf(queries, "q_id", "q_vec")
      .crossJoin(cent)
      .withColumn("cos_q", cosine(col("q_vec"), col("c_vec")))
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") <= nprobe)
  }

  /** [[annTopK]]'s rank tail: the `n` best rows per q_id by `by`, ties
    * to the lower n_id, ranked 1..n in column `rank`.
    */
  private def keepTop(df: DataFrame, n: Int, by: Column, rank: String = "rnk"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn(rank,
        row_number().over(Window.partitionBy(col("q_id")).orderBy(by, col("n_id").asc)))
      .filter(col(rank) <= n)
  }

  /** Exact-cosine scorer over the probed lists: the probes broadcast
    * into ONE equi-join on the list id, then an exact rank within them.
    * Under soft routing the candidates dedup on (q_id, n_id) first — a
    * neighbor met through two shared cells must not take two top-k slots.
    */
  private def scoreRaw(corpus: DataFrame, queries: DataFrame, k: Int, cent: DataFrame,
      ivf: AnnSpec.Ivf): DataFrame = {
    val probes = probeLists(queries, cent, ivf.nprobe)
      .select(col("q_id"), col("q_vec"), col("c_id"))
    val met = broadcast(probes).join(routeCorpus(corpus, cent, ivf.assign), Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
    val cands = if (ivf.assign == 1) met
      else met.select(col("q_id"), col("q_vec"), col("n_id"), col("n_vec"))
        .dropDuplicates("q_id", "n_id")
    keepTop(cands.withColumn("cos", cosine(col("q_vec"), col("n_vec"))), k, col("cos").desc)
      .select(col("q_id"), col("n_id"), col("rnk"), round(col("cos"), 6).as("cos_sim"))
  }

  /** The deterministic training sample every trainer draws: the `n`
    * rows with the smallest portable hash of `id` — PortableHash family
    * member i=1 as a column, h = (3*(id mod P) + 8) mod P, P = 10^9+7 —
    * ties to the lower id. Corpus-order-independent and engine-portable,
    * computed as a distributed top-k, never a full collect.
    */
  private def hashSample(df: DataFrame, id: Column, n: Int): DataFrame = {
    val P = 1000000007L
    df.withColumn("h", (lit(3L) * (id % P) + 8L) % P)
      .orderBy(col("h").asc, id.asc)
      .limit(n)
  }

  /** TRAINED IVF coarse quantizer: spherical k-means, fully replayable
    * — the coarse-quantizer counterpart of [[pqTrainCodebookLocal]].
    *
    * The deterministic lowest-id centroids ([[AnnSpec.LowestId]]) exist so the
    * oracle can replay the exact partition, but arbitrary corpus
    * points make lopsided cells and recall pays. This trainer uses the
    * same replayability recipe as the PQ trainer: a bounded
    * deterministic sample (smallest portable hash of id, distributed
    * top-k — never a full collect), lowest-id init, fixed-order
    * driver-local iterations. Spherical variant because IVF assignment
    * is max-cosine: points and centroids live on the unit sphere
    * (assignment = max dot, ties to lower index; update = member mean
    * re-normalized; empty cells and zero-norm means keep the previous
    * centroid). Returns dense centroid ids 0..nlist-1.
    */
  def ivfTrainCentroidsLocal(corpus: DataFrame, nlist: Int = 32,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[(Long, Array[Double])] = {
    val sample = hashSample(corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")), col("id"), sampleN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (sample.isEmpty) return Array.empty // empty shard: no centroids, empty search
    def unit(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = sample.map(s => unit(s._2))
    val d = pts.head.length
    // deterministic farthest-point (k-center) seeding: seed 0 is the
    // lowest-id sample point; each next seed is the point least similar
    // (min of max-cos) to the seeds so far, ties to the lowest id —
    // spreads the initial centers over the sphere where lowest-id
    // seeds can start clumped, and stays bit-replayable
    val nc = math.min(nlist, pts.length)
    val seedIdx = new Array[Int](nc)
    val maxCos = Array.fill(pts.length)(Double.NegativeInfinity)
    seedIdx(0) = 0
    var s0 = 1
    while (s0 < nc) {
      val last = pts(seedIdx(s0 - 1))
      var i = 0
      while (i < pts.length) {
        var dot = 0.0; var j = 0
        while (j < d) { dot += pts(i)(j) * last(j); j += 1 }
        if (dot > maxCos(i)) maxCos(i) = dot
        i += 1
      }
      var best = -1; var bestCos = Double.MaxValue
      i = 0
      while (i < pts.length) {
        // strict improve: ties to lower index
        if (maxCos(i) < bestCos - 1e-15) { bestCos = maxCos(i); best = i }
        i += 1
      }
      seedIdx(s0) = best
      s0 += 1
    }
    val cent = Array.tabulate(nc)(c => pts(seedIdx(c)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cent.length)(new Array[Double](d))
      val counts = new Array[Long](cent.length)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.NegativeInfinity; var c = 0
        while (c < cent.length) {
          var dot = 0.0; var i = 0
          while (i < d) { dot += p(i) * cent(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c } // strict >: ties to lower index
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < cent.length) {
        if (counts(c) > 0) {
          var s = 0.0; var i = 0
          while (i < d) { s += sums(c)(i) * sums(c)(i); i += 1 }
          val n = math.sqrt(s)
          if (n > 0.0) {
            i = 0
            while (i < d) { cent(c)(i) = sums(c)(i) / n; i += 1 }
          } // zero-norm mean: keep previous centroid
        } // empty cell: keep previous centroid
        c += 1
      }
      it += 1
    }
    cent.zipWithIndex.map { case (cv, c) => (c.toLong, cv) }
  }

  /** FIXED-POINT spherical k-means: the trained coarse quantizer in
    * pure integer arithmetic, so training is exactly SQL-replayable
    * (the s23 oracle unrolls these iterations in DuckDB and must
    * reproduce every centroid bit-for-bit).
    *
    * Why integers: the double-accumulation trainer above is bit-stable
    * only under ONE summation order — an oracle replaying it in SQL
    * would need order-pinned float folds everywhere, one rounding apart
    * from red. Integer sums commute, so the only engine-sensitive ops
    * left are floor/sqrt/division, all IEEE-exact on these magnitudes:
    *
    *   - quantize: qv_i = floor(x_i · 512) (×2^9 is exact on doubles)
    *   - seeds: farthest-point (k-center) over the ‖·‖≈2^15-renormalized
    *     sample — seed 0 is the hash-order first point, each next seed
    *     the point whose max integer dot against the seeds so far is
    *     smallest (ties → lowest position)
    *   - assign: argmax_c of the integer dot qv·cent_c, ties → lowest c
    *   - update: per-dim integer sums (commutative), renormalized to
    *     ‖c‖ ≈ 2^15 via v_i·32768 / ⌊√‖v‖²⌋ (truncating division —
    *     DuckDB's `//` and Scala's `Long./` agree); empty or zero-sum
    *     cells keep their previous centroid
    *
    * Bounds: ‖x‖≈1 ⇒ |qv_i| ≤ 512, per-dim sums ≤ 4096·512 = 2^21,
    * ‖sum‖² ≤ 64·2^42 = 2^48 < 2^53 (exact sqrt domain), dot ≤
    * 64·512·2^15 = 2^30 — everything fits a Long with headroom.
    * Returns integer-valued doubles (exact ≤ 2^53) so the centroids
    * drop into the cosine probe/search dataflow unchanged.
    */
  def ivfTrainCentroidsFp(corpus: DataFrame, nlist: Int = 32,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding",
      scaleQ: Long = 512L, normQ: Long = 32768L,
      hashSeed: Boolean = false): Array[(Long, Array[Double])] = {
    // keep the (h, id) hash order — seed positions index into it
    val sample: Array[Array[Long]] = hashSample(corpus
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * scaleQ).cast("long")).as("qv")), col("id"), sampleN)
      .collect()
      .map(_.getSeq[Long](1).toArray)
    if (sample.isEmpty) return Array.empty
    val n = sample.length
    val d = sample.head.length
    val nc = math.min(nlist, n)
    // ‖v‖² > 0: v·32768 / ⌊√‖v‖²⌋, truncating; ‖v‖² = 0: null (caller
    // keeps the previous centroid — mirrors the oracle's CASE)
    def renorm(v: Array[Long]): Array[Long] = {
      var n2 = 0L; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      if (n2 == 0L) null
      else {
        val is = math.floor(math.sqrt(n2.toDouble)).toLong
        val out = new Array[Long](v.length)
        i = 0
        while (i < v.length) { out(i) = v(i) * normQ / is; i += 1 }
        out
      }
    }
    // Seeding (both modes in exact integers over rp = points
    // renormalized to ‖·‖ ≈ 2^15, so dots are comparable across pairs):
    //  - k-center (default): seed 0 = first point in hash order, each
    //    next seed the point whose max-dot against the seeds so far is
    //    SMALLEST (ties → lowest position). Best spread, but the oracle
    //    must unroll nlist-1 seed rounds — nlist is baked into the SQL.
    //  - hashSeed: seeds = rp positions 0..nc-1 (the hash order IS the
    //    random permutation — standard random k-means init). One SQL
    //    filter `pos < nlist`, so nlist can be a RUNTIME value derived
    //    from count(*): the corpus-scaled graph family depends on this.
    // No epsilon folds either way — exact Longs, replayed verbatim.
    val rp = sample.map { p => val r = renorm(p); if (r == null) p else r }
    val seedPos = new Array[Int](nc)
    if (hashSeed) {
      var s0 = 0
      while (s0 < nc) { seedPos(s0) = s0; s0 += 1 }
    } else {
      val maxDot = Array.fill(n)(Long.MinValue)
      seedPos(0) = 0
      var s0 = 1
      while (s0 < nc) {
        val last = rp(seedPos(s0 - 1))
        var i = 0
        while (i < n) {
          var dot = 0L; var j = 0
          while (j < d) { dot += rp(i)(j) * last(j); j += 1 }
          if (dot > maxDot(i)) maxDot(i) = dot
          i += 1
        }
        var best = 0; var bestDot = Long.MaxValue
        i = 0
        while (i < n) {
          if (maxDot(i) < bestDot) { bestDot = maxDot(i); best = i } // strict <: ties to lower pos
          i += 1
        }
        seedPos(s0) = best
        s0 += 1
      }
    }
    val cent = Array.tabulate(nc)(c => rp(seedPos(c)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nc)(new Array[Long](d))
      val counts = new Array[Long](nc)
      // assignment is the O(|sample|·nc·d) term — independent per point
      // (cent is read-only here, bestC writes are disjoint), so the
      // parallel scan is bit-identical to the serial one; accumulation
      // stays serial (O(|sample|·d), cheap) to keep it trivially exact
      val bestC = new Array[Int](sample.length)
      java.util.stream.IntStream.range(0, sample.length).parallel().forEach { pi =>
        val p = sample(pi)
        var best = 0; var bestDot = Long.MinValue; var c = 0
        while (c < nc) {
          var dot = 0L; var i = 0
          while (i < d) { dot += p(i) * cent(c)(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c } // strict >: ties to lower c
          c += 1
        }
        bestC(pi) = best
      }
      var pi = 0
      while (pi < sample.length) {
        val p = sample(pi); val best = bestC(pi)
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
        pi += 1
      }
      var c = 0
      while (c < nc) {
        if (counts(c) > 0) {
          val r = renorm(sums(c))
          if (r != null) cent(c) = r
        }
        c += 1
      }
      it += 1
    }
    cent.zipWithIndex.map { case (cv, c) => (c.toLong, cv.map(_.toDouble)) }
  }

  /** BIG-BIG k-NN GRAPH via the IVF-partitioned block join — every
    * vector's top-k neighbors, the precursor of semantic dedup /
    * clustering over a whole corpus. Unlike the bounded-query top-k
    * family ([[annTopK]] broadcasts the query side), BOTH
    * sides here are the full corpus, so nothing is broadcast except
    * the trained centroid table:
    *
    *   1. train the coarse quantizer ([[ivfTrainCentroidsFp]] —
    *      fixed-point, SQL-replayable, KB-sized asset),
    *   2. ONE corpus × broadcast-centroids scan ranks each vector's
    *      `nprobe` nearest lists with a bounded
    *      [[graft.functions.TopKCosAgg]] state (O(nprobe) per vector,
    *      partial-aggregatable — no window sort over the n × nlist
    *      product). List 1 of the ranking IS the IVF assignment, so
    *      routing both sides costs one aggregation,
    *   3. the candidate join is a plain shuffle EQUI-join on the list
    *      id — queries meet exactly the corpus vectors in their probed
    *      cells, never all-pairs. No broadcast hint: at benchmark
    *      scale AQE may still pick broadcast, at 100 TB it degrades to
    *      a shuffled hash join whose key (the cell id) is the physical
    *      partitioning — skewed cells surface as ordinary AQE join
    *      skew,
    *   4. per-query top-k is again the bounded aggregator: per-cell
    *      candidates fold into O(k) partial states map-side ("per-cell
    *      exact top-k"), and the final shuffle merges n·nprobe partial
    *      states instead of n·nprobe·cell_size scored rows.
    *
    * Growing nlist ∝ corpus keeps cell populations — and therefore
    * per-item cost — constant. Tie order everywhere: higher cosine,
    * then lower id (the board convention, replayed by the oracle).
    */
  def ivfKnnGraphTrainedFp(corpus: DataFrame, k: Int,
      nlist: Int = 32, nprobe: Int = 4, iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfKnnGraphFromTrained(corpus,
      ivfTrainCentroidsFp(corpus, nlist, iters, sampleN, idCol, vecCol),
      k, nprobe, idCol, vecCol)

  /** [[ivfKnnGraphTrainedFp]] over ALREADY-TRAINED centroids — an
    * evaluation that derives several tables from one quantizer (s40
    * trains once, then prices flat routing, the window-rank candidate
    * count, and the graph itself) passes the shared `trained` instead
    * of re-running the sample-collect + driver Lloyd per consumer.
    */
  private[graft] def ivfKnnGraphFromTrained(corpus: DataFrame,
      trained: Array[(Long, Array[Double])], k: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    // one scan routes every vector ([[topLists]]): probes[1] = assignment,
    // probes[1..nprobe] = the query-side lists. Scope-persisted: both
    // sides of the candidate join derive from it, and without the cache
    // the O(n·nlist) routing scan runs twice (the .explain showed two full
    // corpus × centroid aggregation branches under the join).
    val routed = persist(topLists(corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .crossJoin(centFrame(corpus.sparkSession, trained)), nprobe))
    knnGraphTailFromRouted(routed, k)
  }

  /** Both super-table builders (and their oracle replays) depend on two
    * [[ivfTrainCentroidsFp]] output invariants: (1) centroid ids are
    * positional (ids == 0..nc-1, so "first centroid" ≡ "min c_id" and
    * the SQL's ORDER BY c_id LIMIT agrees with array position), and
    * (2) centroid doubles are exactly integral (the trainer emits
    * ⌊·⌋-quantized Longs as doubles), so `.toLong` truncation is
    * lossless and integer-dot replays are exact. Asserted here rather
    * than silently assumed, so a future trainer change cannot break
    * oracle replay without failing fast.
    */
  private def requireTrainedInvariants(
      trained: Array[(Long, Array[Double])]): Unit = {
    var i = 0
    while (i < trained.length) {
      require(trained(i)._1 == i.toLong,
        s"trained centroid ids must be positional: id ${trained(i)._1} at index $i")
      val cv = trained(i)._2
      var j = 0
      while (j < cv.length) {
        require(cv(j) == cv(j).toLong.toDouble,
          s"trained centroid values must be integral: cent($i)($j) = ${cv(j)}")
        j += 1
      }
      i += 1
    }
  }

  /** The CORPUS-SCALED router's super-centroid table: supers = the
    * first `ns` trained centroids (under [[ivfTrainCentroidsFp]]'s
    * hashSeed mode the centroid order is the hash-random sample order,
    * so a prefix is a uniform pick — the same reasoning that makes the
    * seeds themselves valid), every centroid assigned to its
    * argmax-integer-dot super (strict-> ties → lowest super id, the
    * [[kCenterSuperTable]] convention). Unlike the k-center pass this
    * needs NO sequential seed rounds, so the oracle can derive `ns`
    * from count(*) at runtime — the property the corpus-derived-nlist
    * family needs. Driver-side over ≤nc rows (a planning step).
    */
  private[graft] def firstNsSuperTable(trained: Array[(Long, Array[Double])],
      ns0: Int)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Long, Seq[Double])]) = {
    requireTrainedInvariants(trained)
    superTable(trained, Array.range(0, math.min(ns0, trained.length)))
  }

  /** The two-level router's super-centroid table: a farthest-point
    * (k-center) pass over the trained centroid table in the trainer's
    * own exact-integer dot discipline (seed 0 = centroid 0; each next
    * seed = argmin of max dot to the seeds so far, strict-< ties →
    * lowest c_id), then every centroid assigned to its argmax-dot
    * super (strict-> ties → lowest super ordinal). Driver-side over
    * ≤nlist rows — a planning step, shared by the operator and the
    * s40 evaluation row so they can never diverge. Returns
    * (supers (s_id, s_vec), centroid table (s_id, c_id, c_vec)).
    */
  private[graft] def kCenterSuperTable(trained: Array[(Long, Array[Double])],
      superList: Int)
      : (Seq[(Long, Seq[Double])], Seq[(Long, Long, Seq[Double])]) = {
    requireTrainedInvariants(trained)
    val cvs: Array[Array[Long]] = trained.map(_._2.map(_.toLong))
    val nc = cvs.length
    val ns = math.min(superList, nc)
    val seedPos = new Array[Int](ns)
    val maxDot = Array.fill(nc)(Long.MinValue)
    seedPos(0) = 0
    var s0 = 1
    while (s0 < ns) {
      val last = cvs(seedPos(s0 - 1))
      var i = 0
      while (i < nc) {
        val dt = dotL(cvs(i), last)
        if (dt > maxDot(i)) maxDot(i) = dt
        i += 1
      }
      var best = 0; var bestDot = Long.MaxValue
      i = 0
      while (i < nc) {
        if (maxDot(i) < bestDot) { bestDot = maxDot(i); best = i }
        i += 1
      }
      seedPos(s0) = best
      s0 += 1
    }
    superTable(trained, seedPos)
  }

  /** Both super tables from the chosen super positions `seeds`: supers
    * (s_id, s_vec) = the trained centroids at those positions, and
    * every centroid assigned to its argmax-integer-dot super (strict >:
    * ties → lowest super ordinal) as (s_id, c_id, c_vec).
    */
  private def superTable(trained: Array[(Long, Array[Double])], seeds: Array[Int])
      : (Seq[(Long, Seq[Double])], Seq[(Long, Long, Seq[Double])]) = {
    val cvs: Array[Array[Long]] = trained.map(_._2.map(_.toLong))
    val cAssign = cvs.map { cv =>
      var best = 0; var bestDot = Long.MinValue; var s = 0
      while (s < seeds.length) {
        val dt = dotL(cv, cvs(seeds(s)))
        if (dt > bestDot) { bestDot = dt; best = s }
        s += 1
      }
      best.toLong
    }
    val supers = Seq.tabulate(seeds.length)(s =>
      (s.toLong, cvs(seeds(s)).map(_.toDouble).toSeq))
    val centRows = trained.toSeq.zipWithIndex.map {
      case ((cid, cv), ci) => (cAssign(ci), cid, cv.toSeq)
    }
    (supers, centRows)
  }

  /** Exact integer dot product of two equal-length centroid vectors. */
  private def dotL(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** TWO-LEVEL (hierarchical) trained routing for the big-big k-NN
    * graph — the IVF-tree answer to the one term of
    * [[ivfKnnGraphTrainedFp]] that grows when nlist scales with the
    * corpus: the flat corpus × nlist routing scan is O(n·nlist) =
    * O(n²/cell) under the nlist ∝ n convention, while here every row
    * picks the best of `superList` SUPER-centroids first and then
    * ranks only the centroids assigned to that super cell —
    * O(n·(superList + nlist/superList)), minimized at superList ≈
    * √nlist (the standard coarse-quantizer tree; same trick
    * [[semanticDedup]] documents at `hierarchicalAbove`, here for the
    * TRAINED quantizer).
    *
    * Determinism end to end, so the oracle replays everything:
    * super-centroids are a farthest-point (k-center) pass over the
    * trained centroid table in the trainer's own exact-integer dot
    * discipline (seed 0 = centroid 0; each next = argmin of max dot,
    * ties → lowest c_id); per-centroid super assignment is argmax
    * integer dot (ties → lowest super ordinal); row routing is the
    * same max-cos/lowest-id tie rule at both levels. The IVF-tree
    * approximation applies: a row near a super-cell boundary may probe
    * a different (never larger) candidate set than the flat scan —
    * Knn2LevelSpec pins the superList=1 case to the flat graph
    * row-for-row and holds the recall floor at the registered config.
    */
  def ivfKnnGraphTrainedFp2L(corpus: DataFrame, k: Int,
      nlist: Int = 32, nprobe: Int = 4, superList: Int = 6,
      superProbe: Int = 3,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(superList >= 1 && superProbe >= 1,
      s"superList/superProbe must be >= 1, got $superList/$superProbe")
    ivfKnnGraph2LFromTrained(corpus,
      ivfTrainCentroidsFp(corpus, nlist, iters, sampleN, idCol, vecCol),
      k, nprobe, superList, superProbe, idCol, vecCol)
  }

  /** [[ivfKnnGraphTrainedFp2L]] over ALREADY-TRAINED centroids — the
    * trained-injection twin of [[ivfKnnGraphFromTrained]] for the
    * two-level arm.
    */
  private[graft] def ivfKnnGraph2LFromTrained(corpus: DataFrame,
      trained: Array[(Long, Array[Double])], k: Int, nprobe: Int,
      superList: Int, superProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    if (trained.isEmpty)
      return emptyGraph(corpus)
    val (superRows, centRows) = kCenterSuperTable(trained, superList)
    val routed = twoLevelRouted(corpus, superRows, centRows, nprobe,
      superProbe, idCol, vecCol)
    knnGraphTailFromRouted(routed, k)
  }

  /** Shared two-level routing scan: every row picks its `superProbe`
    * best super cells (superList-row broadcast — multi-probe at the
    * tree's top level, the standard recall repair for boundary rows a
    * single cell would strand), then ranks only the probed super
    * cells' centroids (cells are disjoint, so the union never
    * duplicates a centroid). Returns the persisted
    * (id, probes, vec) frame both the graph tail and the PQ pipeline
    * consume — probes[1] is the hard assignment.
    */
  private[graft] def twoLevelRouted(corpus: DataFrame,
      superRows: Seq[(Long, Seq[Double])],
      centRows: Seq[(Long, Long, Seq[Double])],
      nprobe: Int, superProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    import corpus.sparkSession.implicits._
    // level 1 ranks the supers, which ride in topLists' (c_id, c_vec) slots
    val supers = broadcast(superRows.toDF("c_id", "c_vec"))
    val centT = broadcast(centRows.toDF("s_id", "c_id", "c_vec"))
    val lvl1 = topLists(corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
        .crossJoin(supers), superProbe)
      .select(col("id"), explode(col("probes")("_1")).as("s_id"), col("vec"))
    persist(topLists(lvl1.join(centT, Seq("s_id")), nprobe))
  }

  /** [[ivfKnnGraphTrainedFp]]'s tail over a routed (id, probes, vec)
    * frame: probes[1] = assignment, shuffle equi-join on the cell id,
    * bounded top-k merge. The block-join stage every graph build
    * shares.
    */
  private[graft] def knnGraphTailFromRouted(routed: DataFrame,
      k: Int): DataFrame =
    rankedEdges(cellPairs(probesOf(routed), assignedOf(routed)), k)

  /** A routed (id, probes, vec) frame's neighbor side: (n_id, n_vec,
    * c_id = probes[1], the hard assignment).
    */
  private def assignedOf(routed: DataFrame): DataFrame = routed.select(col("id").as("n_id"),
    col("vec").as("n_vec"), element_at(col("probes"), 1)("_1").as("c_id"))

  /** A routed frame's query side: one (q_id, q_vec, c_id) row per probed list. */
  private def probesOf(routed: DataFrame): DataFrame = routed.select(col("id").as("q_id"),
    col("vec").as("q_vec"), explode(col("probes")("_1")).as("c_id"))

  /** (q_id, n_id, cos) of every probe meeting an assigned vector in its
    * cell — a shuffle EQUI-join on the cell id, never all-pairs; NULL
    * cosines (zero-norm vectors) dropped before the bounded aggregate.
    */
  private def cellPairs(probes: DataFrame, assigned: DataFrame): DataFrame =
    probes.join(assigned, Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("n_vec")))
      .filter(col("cos").isNotNull)
      .select(col("q_id"), col("n_id"), col("cos"))

  /** Per-query top-k of (q_id, n_id, cos) pairs at FULL precision —
    * the stored edge form, so re-merging never reorders a near-tie.
    */
  private def topEdges(pairs: DataFrame, k: Int): DataFrame = pairs
    .groupBy(col("q_id"))
    .agg(topCos(k)(col("n_id"), col("cos")).as("nbrs"))
    .select(col("q_id"), explode(col("nbrs")).as("e"))
    .select(col("q_id"), col("e")("_1").as("n_id"), col("e")("_2").as("cos"))

  /** Per-query top-k of (q_id, n_id, cos) pairs as the published graph
    * (q_id, rnk, n_id, cos_sim) — rounding only at output.
    */
  private def rankedEdges(pairs: DataFrame, k: Int): DataFrame = pairs
    .groupBy(col("q_id"))
    .agg(topCos(k)(col("n_id"), col("cos")).as("nbrs"))
    .select(col("q_id"), posexplode(col("nbrs")))
    .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
      col("col")("_1").as("n_id"), round(col("col")("_2"), 6).as("cos_sim"))

  /** The k-NN graph answer over an empty quantizer (no corpus). */
  private def emptyGraph(corpus: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    Seq.empty[(Long, Long, Long, Double)].toDF("q_id", "rnk", "n_id", "cos_sim")
  }

  /** Corpus-derived IVF geometry — the production scaling convention
    * the fixed-config family documents but leaves to the caller:
    * nlist grows with the corpus so expected cell population stays at
    * `targetList` (the candidate block join's per-item cost), with a
    * floor of 32 so tiny corpora keep the registered behavior. The
    * DuckDB oracle derives the same value from count(*):
    * greatest(32, ceil(n / targetList)).
    */
  def scaledNlist(n: Long, targetList: Int = 64): Int =
    math.max(32L, math.ceil(n.toDouble / targetList).toLong).toInt

  /** Super-cell count for the two-level router: ceil(sqrt(nc)) — the
    * minimizer of the routing cost ns + superProbe·nc/ns up to the
    * superProbe constant; IEEE sqrt is correctly rounded, so Scala and
    * DuckDB agree bit-for-bit.
    */
  def scaledSuperList(nc: Int): Int =
    math.max(1, math.ceil(math.sqrt(nc.toDouble)).toInt)

  /** CORPUS-SCALED big-big k-NN graph — the registered production
    * configuration of the graph-build family, and the scale-honest
    * default: every config knob that must grow with the corpus is
    * DERIVED from it instead of fixed.
    *
    *   - nlist = max(32, ceil(n / targetList)) keeps expected cell
    *     population (the candidate block join's per-item fan-in) at
    *     `targetList` regardless of corpus size — at fixed nlist that
    *     fan-in grows ∝ n and the join's total work is quadratic
    *     (BENCH_scale100_r13 measured s30's marginal s/copy rising
    *     0.93 → 1.78 from 30× to 100× for exactly this reason).
    *   - routing is the two-level (IVF-tree) scan of
    *     [[ivfKnnGraphTrainedFp2L]]: O(n·(ns + superProbe·nlist/ns))
    *     with ns = ceil(sqrt(nlist)) — the flat O(n·nlist) scan is the
    *     OTHER quadratic term once nlist ∝ n. (At 100 TB one more tree
    *     level bounds routing at O(n·∛nlist²)… the standard k-level
    *     coarse-quantizer extension; two levels hold to ~10⁸ vectors.)
    *   - training stays the bounded driver-side planning step
    *     (SURVEY §3.1 class): hash-seeded fixed-point Lloyd over the
    *     deterministic `sampleN` sample. hashSeed (seeds = the first
    *     nlist hash-order sample points) replaces the k-center pass so
    *     the DuckDB oracle can derive nlist from count(*) at runtime —
    *     the k-center seeding must unroll nlist-1 SQL rounds and
    *     therefore pins nlist at query-authoring time. nc is capped at
    *     sampleN; a deployment past nlist ≈ sampleN scales sampleN (or
    *     trains distributed) — documented, not silently assumed.
    *
    * Everything downstream of routing is [[ivfKnnGraphTrainedFp]]'s
    * block join verbatim: shuffle equi-join on the cell id, bounded
    * top-k aggregator, cos desc / id asc ties. Fully deterministic —
    * the oracle replays count → nlist/ns derivation, training, both
    * routing levels, and the exact rank end to end.
    */
  def knnGraphScaledFp(corpus: DataFrame, k: Int,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    scaledRouter(corpus, targetList, nprobe, superProbe, iters, sampleN, idCol, vecCol)
      .fold(emptyGraph(corpus)) { case (_, route) => knnGraphTailFromRouted(route(corpus), k) }
  }

  /** [[knnGraphScaledFp]]'s derived quantizer: nlist from the corpus
    * count, hash-seeded fixed-point training, the first-prefix super
    * table — and the two-level routing it defines, as a function so the
    * maintenance operators route a second frame through the SAME frozen
    * tables. None = empty corpus.
    */
  private def scaledRouter(corpus: DataFrame, targetList: Int, nprobe: Int,
      superProbe: Int, iters: Int, sampleN: Int, idCol: String, vecCol: String)
      : Option[(Array[(Long, Array[Double])], DataFrame => DataFrame)] = {
    val trained = ivfTrainCentroidsFp(corpus, scaledNlist(corpus.count(), targetList),
      iters, sampleN, idCol, vecCol, hashSeed = true)
    if (trained.isEmpty) None
    else {
      val (superRows, centRows) = firstNsSuperTable(trained, scaledSuperList(trained.length))
      Some((trained, (df: DataFrame) => twoLevelRouted(df, superRows, centRows, nprobe,
        superProbe, idCol, vecCol)))
    }
  }

  /** Graph-routed ANN — beam search over the [[ivfKnnGraphTrainedFp]]
    * k-NN graph: the DiskANN/HNSW-shaped search arm the quantization
    * family (IVF/PQ/JL/matryoshka) doesn't cover. Entry points come
    * from a hash-sampled navigation layer (corpus ids ≡ 0 mod
    * `seedMod` — the flat stand-in for HNSW's sparse upper level):
    * each query exact-scores that 1/seedMod slice once and keeps its
    * top-`beam`. Then `rounds` expand-score-prune steps walk the
    * graph: frontier → neighbor edges (equi-join on the node id),
    * dedup, EXACT cosine re-score (id-keyed equi-join back to the
    * corpus vectors, queries broadcast), bounded top-`beam` fold
    * ([[graft.functions.TopKCosAgg]] — cos desc, id asc, the board
    * convention). Every step is deterministic, so the DuckDB oracle
    * replays the entire search — graph construction (trained
    * quantizer included) and all beam rounds.
    *
    * Scale shape: the graph is an O(n·graphK) build-once asset; per
    * query each round moves O(beam·graphK) id rows through equi-joins
    * — INDEPENDENT of corpus size, the property that makes graph ANN
    * the serving-side winner. The seed scan is |queries| broadcast
    * rows × n/seedMod corpus rows (1/seedMod of the s01 brute-force
    * bytes); growing seedMod ∝ corpus keeps entry cost constant while
    * the graph keeps recall local.
    */
  def graphBeamSearch(corpus: DataFrame, queries: DataFrame, k: Int,
      beam: Int = 16, rounds: Int = 3, seedMod: Int = 64,
      graphK: Int = 10, undirected: Boolean = true,
      nlist: Int = 32, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val graph = persist(knnEdges(corpus, graphK, undirected, nlist, nprobe,
        idCol, vecCol)) // read once per beam round
    graphBeamSearchOver(graph, corpus, queries, k, beam, rounds, seedMod,
      idCol, vecCol)
  }

  /** (node, edge_to) walk edges from the [[ivfKnnGraphTrainedFp]]
    * graph. `undirected` adds the REVERSED edges (DiskANN-style
    * bidirectional links): the GraphAnnProbe sweep measured it as the
    * single biggest navigability lever at identical walk cost —
    * recall@5 0.376 → 0.600 at graphK=5/beam=16/rounds=3, because a
    * hub's in-neighbors become reachable THROUGH the hub instead of
    * only from it. Doubles edge count to ≤ 2·n·graphK; still O(n).
    */
  def knnEdges(corpus: DataFrame, graphK: Int, undirected: Boolean,
      nlist: Int = 32, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g0 = ivfKnnGraphTrainedFp(corpus, graphK, nlist, nprobe,
        idCol = idCol, vecCol = vecCol)
      .select(col("q_id").as("node"), col("n_id").as("edge_to"))
    symmetrizeEdges(g0, undirected)
  }

  /** Undirected edge symmetrization via explode, NOT a self-union: a
    * union scans (and RE-EXECUTES) the whole upstream graph build once
    * per branch — for the routed block-join builds that doubles the
    * row's dominant cost (s35 measured ~2x build task-time from the
    * union spelling). Same output, one pass, then the same distinct.
    */
  private def symmetrizeEdges(g0: DataFrame, undirected: Boolean): DataFrame =
    if (!undirected) g0
    else g0.select(explode(array(
        struct(col("node"), col("edge_to")),
        struct(col("edge_to").as("node"), col("node").as("edge_to")))).as("e"))
      .select(col("e.node").as("node"), col("e.edge_to").as("edge_to"))
      .distinct()

  /** [[knnEdges]] on the corpus-scaled build path — walk edges derived
    * from [[knnGraphScaledFp]] (count-derived nlist, hash-seed
    * training, two-level routing) instead of the fixed-nlist flat
    * build. The registered serving family (s35/s36/s37/st50) builds
    * its graph here so the BUILD arm carries the same scale guarantee
    * the s30 family does: expected cell population stays at
    * `targetList` as the corpus grows, and routing is O(n·(√nlist +
    * superProbe·√nlist)) instead of O(n·nlist).
    */
  def knnEdgesScaled(corpus: DataFrame, graphK: Int, undirected: Boolean,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val g0 = knnGraphScaledFp(corpus, graphK, targetList, nprobe, superProbe,
        idCol = idCol, vecCol = vecCol)
      .select(col("q_id").as("node"), col("n_id").as("edge_to"))
    symmetrizeEdges(g0, undirected)
  }

  /** [[graphBeamSearch]] with the graph built by [[knnEdgesScaled]] —
    * the registered s35 shape since round 14: the serving walk is
    * unchanged (corpus-size-independent per query), only the build arm
    * moves to the corpus-scaled two-level path.
    */
  def graphBeamSearchScaled(corpus: DataFrame, queries: DataFrame, k: Int,
      beam: Int = 16, rounds: Int = 3, seedMod: Int = 64,
      graphK: Int = 10, undirected: Boolean = true,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val graph = persist(knnEdgesScaled(corpus, graphK, undirected,
        targetList, nprobe, superProbe, idCol, vecCol)) // read once per beam round
    graphBeamSearchOver(graph, corpus, queries, k, beam, rounds, seedMod,
      idCol, vecCol)
  }

  /** [[graphBeamSearch]] over a PREBUILT (node, edge_to) graph — the
    * multi-arm evaluation path (s36 measures recall at rounds 0/1/2
    * against one shared graph instead of retraining per arm).
    */
  def graphBeamSearchOver(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, beam: Int = 8, rounds: Int = 2,
      seedMod: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    graphBeamSearchRoundsOver(graph, corpus, queries, k, beam,
      Seq(rounds), seedMod, idCol, vecCol).head._2

  /** [[graphBeamSearchOver]] read out at SEVERAL round counts from ONE
    * progressive walk: the beam state after round r is identical
    * whether or not more rounds follow (each round only derives a new
    * frame), so a rounds-0/1/2/3 recall curve (s36) walks the graph
    * once and snapshots the checkpointed beam at each requested round —
    * previously each arm re-ran seed + r rounds from scratch, paying
    * 1+2+3 redundant round-steps and 3 redundant seed scans. Returns
    * (rounds, result) in the caller's order.
    */
  def graphBeamSearchRoundsOver(graph: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, beam: Int, roundsWanted: Seq[Int],
      seedMod: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, DataFrame)] = {
    import corpus.sparkSession.implicits._
    require(roundsWanted.nonEmpty && roundsWanted.forall(_ >= 0),
      s"roundsWanted must be non-empty, >= 0 each; got $roundsWanted")
    require(k <= beam, s"k=$k must be <= beam=$beam (the final read is a beam prefix)")
    val topB = topCos(beam)
    // seed scan + one score join per round
    val vecs = persist(corpus
      .select(col(idCol).cast("long").as("nid"), col(vecCol).as("nvec")))
    val q = broadcast(queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("q_vec")))
    // exact-score candidate ids against their query, keep top-beam
    def prune(cands: DataFrame): DataFrame = cands
      .join(vecs, cands("n_id") === vecs("nid"))
      .join(q, "q_id")
      .withColumn("cos", cosine(col("q_vec"), col("nvec")))
      .filter(col("cos").isNotNull)
      .groupBy(col("q_id"))
      .agg(topB(col("n_id"), col("cos")).as("beam"))
    // The seed and every round's beam are cut through
    // CacheScope.checkpoint: without the cut the logical plan NESTS
    // (round r's plan contains round r-1's whole DAG) and multi-arm
    // compositions (s36's three-round arms, s47/s48's per-shard
    // scatters) spend more wall-clock in Catalyst analysis than in
    // data. The cut frame is also the snapshot: its O(queries·beam)
    // blocks are written once and serve both the next round and a
    // readout at that round, so no arm recomputes another arm's prefix.
    var beamed = checkpoint(vecs.filter(col("nid") % seedMod === 0)
      .crossJoin(q)
      .filter(col("nid") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_vec"), col("nvec")))
      .filter(col("cos").isNotNull)
      .groupBy(col("q_id"))
      .agg(topB(col("nid"), col("cos")).as("beam")))
    val snaps = scala.collection.mutable.ArrayBuffer(beamed)
    for (_ <- 1 to roundsWanted.max) {
      val frontier = beamed.select(col("q_id"),
        explode(col("beam")("_1")).as("n_id"))
      val expanded = frontier.join(graph, frontier("n_id") === graph("node"))
        .select(col("q_id"), col("edge_to").as("n_id"))
      beamed = checkpoint(prune(frontier.unionByName(expanded)
        .filter(col("n_id") =!= col("q_id"))
        .distinct()))
      snaps += beamed
    }
    def readout(b: DataFrame): DataFrame = b
      .select(col("q_id"), posexplode(col("beam")))
      .filter(col("pos") < k)
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rnk"),
        col("col")("_1").as("n_id"), round(col("col")("_2"), 6).as("cos_sim"))
    roundsWanted.map(r => r -> readout(snaps(r)))
  }

  /** ROUTED SCATTER-GATHER TOP-K, the fully-distributed batch twin of
    * the st64 stream (every streaming serving row has one: s35↔st50,
    * s43↔st59): rank shards per query against the sparse navigation
    * slice (vec_id % routerMod), scatter each query to its top
    * `probeShards` shards' walk arms ([[graphBeamSearchOver]] over the
    * stored per-shard assets), and gather with an exact top-k merge by
    * (rounded cos DESC, id ASC). Every stage is a DataFrame plan: the
    * router is one broadcast cross join against the O(corpus/routerMod)
    * summary + a partial max + a bounded window; the scatter is a
    * left-semi join per arm; no data-sized driver structure anywhere —
    * the spelling a 100 TB batch reranker runs.
    */
  def scatterGatherTopK(s: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, nShards: Int = 4, probeShards: Int = 2,
      k: Int = 5, beam: Int = 16, rounds: Int = 3, seedMod: Int = 64,
      routerMod: Int = 64, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    scatterGatherMerge(scatterGatherPartials(s, dir, queries, nShards,
      probeShards, k, beam, rounds, seedMod, routerMod, graphK,
      targetList, nprobe, superProbe, idCol, vecCol), k)

  /** The per-shard PARTIALS of the routed scatter: each walked arm's
    * top-k tagged with the query's shard rank `srn` (1 = best summary
    * shard). The breadth-m merged result is derivable from any
    * maxBreadth ≥ m partials by filtering srn ≤ m — how the s48
    * frontier evaluates three breadths from ONE scatter.
    */
  def scatterGatherPartials(s: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, nShards: Int, maxBreadth: Int,
      k: Int, beam: Int = 16, rounds: Int = 3, seedMod: Int = 64,
      routerMod: Int = 64, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxBreadth >= 1 && maxBreadth <= nShards,
      s"maxBreadth=$maxBreadth must be in [1, nShards=$nShards]")
    val emb = persist(s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
        Mixture.rendezvousShardCol(col("vec_id").cast("long"), nShards)
          .as("shard"))) // one scan feeds the summary and every arm's slice
    val q = queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("q_vec"))
    val summary = emb.filter(col("vec_id") % routerMod === 0)
      .select(col("shard").as("s_shard"), col("embedding").as("s_vec"))
    // read by every arm's scatter and the srn tag join
    val routed = persist(q.crossJoin(broadcast(summary))
      .withColumn("c", cosine(col("q_vec"), col("s_vec")))
      .filter(!isnan(col("c")) && col("c").isNotNull)
      .groupBy(col("q_id"), col("s_shard"))
      .agg(max(col("c")).as("score"))
      .withColumn("srn", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("s_shard").asc)))
      .filter(col("srn") <= maxBreadth)
      .select(col("q_id").as("r_qid"), col("s_shard"), col("srn")))
    val arms = (0 until nShards).map { sh =>
      val shardCorpus = emb.filter(col("shard") === sh).drop("shard")
      val armRouted = routed.filter(col("s_shard") === sh)
      // normalize the caller's (idCol, vecCol) at the API boundary:
      // shardCorpus is already (vec_id, embedding), so the walk runs
      // under the default names for BOTH sides — forwarding the
      // caller's names into graphBeamSearchOver would apply them to
      // the corpus too and break any non-default caller
      val routedQ = queries
        .join(armRouted, queries(idCol).cast("long") === col("r_qid"),
          "left_semi")
        .select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("embedding"))
      val graph = persist(ensureShardKnnIndex(s, dir, nShards, sh,
        graphK, targetList, nprobe, superProbe))
      graphBeamSearchOver(graph, shardCorpus, routedQ, k, beam, rounds,
          seedMod)
        .join(armRouted.select(col("r_qid"), col("srn")),
          col("q_id") === col("r_qid"))
        .select(col("q_id"), col("srn"), col("n_id"), col("cos_sim"),
          lit(sh.toLong).as("shard"))
    }
    arms.reduce(_ unionByName _)
  }

  /** The exact top-k GATHER over [[scatterGatherPartials]] rows,
    * optionally restricted to the breadth-m prefix of the shard
    * ranking: (rounded cos DESC, id ASC), slices disjoint so no dedup.
    */
  def scatterGatherMerge(partials: DataFrame, k: Int,
      m: Int = Int.MaxValue): DataFrame = {
    keepTop(partials.filter(col("srn") <= m), k, col("cos_sim").desc, "mrnk")
      .select(col("q_id"), col("mrnk").cast("long").as("rnk"), col("n_id"),
        col("cos_sim"), col("shard"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space coarsely, then compare pairs ONLY within each
    * cluster — a document is a semantic duplicate when a lower-id
    * member of its own cluster is within `minCos`. This is the
    * embedding-space counterpart of the MinHash/SimHash lexical dedups:
    * it drops re-phrasings and translations that share no n-grams.
    *
    * Scale shape: the all-pairs product is confined to each cluster —
    * one corpus scan against `nlist` broadcast centroids (the
    * [[annTopK]] coarse quantizer, same deterministic lowest-id
    * centroid convention so an oracle can replay the assignment), then
    * ONE equi-join on the cluster id. At 100 TB the cluster id is the
    * shuffle key and per-cluster work is O((n/nlist)^2) instead of
    * O(n^2); skewed clusters surface to AQE as ordinary join skew.
    *
    * Choosing nlist: growing nlist ∝ corpus keeps per-cluster
    * population (and the pair join's per-item cost) constant, but a
    * FLAT O(n·nlist) assignment scan would then grow per-item (the
    * round-8 ladder measured it at 1.75× per item at 30×). Above
    * `hierarchicalAbove` centroids the assignment therefore goes
    * two-level (the standard coarse-quantizer tree): rows pick the
    * best of ~√nlist SUPER-centroids (the `superList` lowest ids),
    * then argmax only among the centroids pre-assigned to that super
    * cell — O(n·(superList + nlist/superList)) instead of O(n·nlist),
    * deterministic and replayable (both levels are the same
    * max-cos/lowest-id-tie rule). Cluster contents differ slightly
    * from the flat argmax (a row near a cell boundary may land in a
    * neighboring cell — the approximation every IVF tree makes); the
    * keep-lowest verdict semantics are unchanged. The registered
    * oracle query runs nlist = 32 ≤ `hierarchicalAbove`, i.e. the
    * exact flat path.
    *
    * Returns one row per corpus vector: (idCol, c_id, dup_of, keep)
    * where `dup_of` is the LOWEST id of any same-cluster neighbor
    * within `minCos` (null when none — deterministic canonical
    * representative, matching the keep-lowest convention of
    * [[graft.operators.Dedup]]), and `keep = dup_of IS NULL`.
    */
  def semanticDedup(corpus: DataFrame, nlist: Int = 32, minCos: Double = 0.95,
      idCol: String = "vec_id", vecCol: String = "embedding",
      superList: Int = 32, hierarchicalAbove: Int = 128): DataFrame = {
    require(nlist >= 1, s"nlist=$nlist must be positive")
    require(superList >= 1 && hierarchicalAbove >= superList,
      s"superList=$superList must be in [1, hierarchicalAbove=$hierarchicalAbove]")
    val cent = lowestIdCentroids(corpus, nlist, idCol, vecCol)
    val rows = corpus.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    val bestOf = (cands: DataFrame) => assignNearest(cands, "n_id", "n_vec", "n_vec")
    val picked =
      if (nlist <= hierarchicalAbove) bestOf(rows.crossJoin(cent))
      else {
        // level 1: the superList lowest-id centroids are the super
        // cells; every centroid is pre-assigned to one (tiny cross;
        // supers take assignNearest's c_id/c_vec slots)
        val supers = broadcast(cent.filter(col("c_id") < superList))
        val centCell = broadcast(assignNearest(
            cent.toDF("cid", "cvec").crossJoin(supers), "cid", "cvec", "cvec")
          .select(col("c_id").as("s_id"), col("cid").as("c_id"), col("cvec").as("c_vec")))
        // level 2: rows pick their super cell, then argmax among only
        // that cell's centroids (equi-join on s_id)
        val rowCell = assignNearest(rows.crossJoin(supers), "n_id", "n_vec", "n_vec")
          .withColumnRenamed("c_id", "s_id")
        bestOf(rowCell.join(centCell, "s_id"))
      }
    val assigned = persist(picked
      .withColumn("nrm", norm(col("n_vec"))))
    val dup = assigned.as("x").join(assigned.as("y"),
        col("x.c_id") === col("y.c_id") && col("y.n_id") < col("x.n_id"))
      .filter(dot(col("x.n_vec"), col("y.n_vec")) / (col("x.nrm") * col("y.nrm")) >= minCos)
      .groupBy(col("x.n_id").as("n_id"))
      .agg(min(col("y.n_id")).as("dup_of"))
    assigned.join(dup, Seq("n_id"), "left")
      .select(col("n_id").as(idCol), col("c_id"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Embedding-space decontamination: flag every corpus vector whose
    * cosine against ANY eval-set vector reaches `minCos`, reporting
    * the best-matching eval id (max cos, ties to the lowest eval id —
    * the argmax convention shared with [[assignNearest]]).
    * The semantic sibling of [[graft.operators.Dedup.contamination]]'s
    * n-gram overlap: it catches paraphrased/reworded benchmark leakage
    * that exact n-grams miss.
    *
    * Same size contract as d10: `evalIsBenchmarkSized = true` is the
    * caller vouching that the eval set is benchmark-sized (thousands
    * of vectors), which buys the EXACT verdict — one corpus scan
    * against the broadcast eval set with a partial-aggregatable argmax
    * (map-side combine collapses to one row per corpus vector before
    * any shuffle). Without the vouch the probe is centroid-BLOCKED:
    * both sides coarse-assign to the corpus-derived `nlist` centroids
    * ([[semanticDedup]]'s quantizer) and only same-cell pairs meet —
    * an equi-join on the cell id that scales to eval sets of any size,
    * trading exactness for the usual IVF boundary approximation (a
    * corpus row whose best eval match sits in a neighboring cell scores
    * against its own cell's eval rows only; recall is measured in
    * SemanticContaminationSpec).
    *
    * Returns one row per corpus vector:
    * (idCol, eval_id, cos_sim, contaminated) — eval_id/cos_sim null in
    * the blocked path when the row's cell holds no eval vectors.
    */
  def semanticContamination(corpus: DataFrame, eval: DataFrame,
      minCos: Double = 0.8, evalIsBenchmarkSized: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding",
      evalIdCol: String = "eval_id", evalVecCol: String = "embedding",
      nlist: Int = 32): DataFrame = {
    val rows = corpus.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec"))
    val ev = eval.select(col(evalIdCol).cast("long").as("e_id"), col(evalVecCol).as("e_vec"))
    val best = (cands: DataFrame) => cands
      .withColumn("cos_e", cosine(col("n_vec"), col("e_vec")))
      .groupBy(col("n_id"))
      .agg(max(struct(col("cos_e"), (-col("e_id")).as("neg_e"), col("e_id"))).as("b"))
      .select(col("n_id"), col("b.e_id").as("eval_id"), col("b.cos_e").as("cos_e"))
    val scored =
      if (evalIsBenchmarkSized) best(rows.crossJoin(broadcast(ev)))
      else {
        val cent = lowestIdCentroids(corpus, nlist, idCol, vecCol)
        val evCell = assignNearest(ev.crossJoin(cent), "e_id", "e_vec", "e_vec")
        val matched = best(assignNearest(rows.crossJoin(cent), "n_id", "n_vec", "n_vec")
          .join(evCell, "c_id"))
        rows.select(col("n_id")).join(matched, Seq("n_id"), "left")
      }
    scored.select(col("n_id").as(idCol), col("eval_id"),
      round(col("cos_e"), 6).as("cos_sim"),
      coalesce((col("cos_e") >= minCos).cast("long"), lit(0L)).as("contaminated"))
  }

  /** Product-quantization ADC (Jégou et al. 2011) — the ANN scorer that
    * shrinks the SCAN itself: each vector is stored as `m` small codes
    * (one per subspace) instead of `d` floats, and query-to-vector
    * distance is approximated as the sum of `m` precomputed
    * query-to-codeword distances (Asymmetric Distance Computation —
    * codes meet the exact query, not a quantized one).
    *
    * The LowestId codebook — subspace `j`'s codewords are the
    * sub-vectors of the `ncode` lowest-id corpus vectors, no trained
    * k-means — lets an external engine replicate the exact encoding;
    * the Trained one ([[pqTrainCodebookLocal]]) trades that for recall.
    * All distances are sequential left folds over per-element doubles —
    * deterministic and engine-portable; argmin/top-k ties break to the
    * lower id.
    *
    * Dataflow at scale: encoding is one corpus scan + a broadcast
    * codebook join + a partial-aggregatable argmin (in production the
    * codes are the build-once [[ensurePqIndex]] asset, passed as
    * `codes`); the search is ONE scan of the code table (m integers per
    * vector, a 32x narrower read than the raw floats at d=64) against
    * broadcast per-query LUTs, with a per-row O(m) fold — no shuffle of
    * the corpus, no all-pairs float work.
    *
    * Under Ivf — the production shape every real vector store runs —
    * the coarse quantizer prunes WHICH lists a query reads and PQ
    * shrinks WHAT each read costs: the code table joins the (n_id →
    * list) assignment once, then the probe set — (q_id, c_id) pairs x
    * the per-query LUT, both tiny — BROADCASTS into ONE equi-join on the
    * list id. That join IS the prune. No residual encoding, so the ADC
    * values equal the flat scan's for every probed neighbor and an
    * external engine can replay both halves independently. Recall is the
    * PRODUCT of the two approximations (a neighbor must be in a probed
    * list AND rank under the quantized distance).
    */
  private def scorePq(corpus: DataFrame, queries: DataFrame, k: Int, pq: AnnSpec.Pq,
      source: AnnSpec.Source, ivf: Option[(DataFrame, Int)]): DataFrame = {
    val (cb, ncode) =
      if (source == AnnSpec.LowestId)
        (pqCodebook(corpus, pq.m, pq.ncode, IdCol, VecCol), pq.ncode)
      else {
        val trained = pqTrainCodebookLocal(corpus, pq.m, pq.ncode)
        (cbFrame(corpus.sparkSession, trained), trained.map(_.length).max)
      }
    val codes = pq.codes.getOrElse(
      pqEncodeCb(pqSubspaced(corpus, "n_id", pq.m, IdCol, VecCol), cb, "c_id", "n_id"))
    val lut = adcLut(pqSubspaced(queries, "q_id", pq.m, IdCol, VecCol), cb, "c_id",
      pq.m, ncode, "q_id")
    val met = ivf match {
      case None => codes.crossJoin(broadcast(lut))
      case Some((cent, nprobe)) =>
        val assigned = assignNearest(rowsOf(corpus, "n_id", "n_vec").crossJoin(cent),
          "n_id", "n_vec")
        val probeLut = probeLists(queries, cent, nprobe).select(col("q_id"), col("c_id"))
          .join(lut, "q_id")
        codes.join(assigned, "n_id").join(broadcast(probeLut), Seq("c_id"))
    }
    keepTop(met.filter(col("n_id") =!= col("q_id")).withColumn("adc", pqAdc(pq.m, ncode)),
        k, col("adc").asc)
      .select(col("q_id"), col("n_id"), col("rnk"), round(col("adc"), 6).as("adc_d2"))
  }

  /** Subspace-local squared L2 — sequential left fold (deterministic). */
  private def pqD2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, t) => acc + t)

  /** One row per (vector, subspace): (outId, keep..., j, sub) with sub
    * the double-cast slice j of the vector. Width d/m is computed per
    * row; a row whose dimension is NOT a multiple of m fails the query
    * with an explicit error (a truncating split would silently drop the
    * trailing d % m elements from every distance).
    */
  private def pqSubspaced(df: DataFrame, outId: String, m: Int,
      idCol: String, vecCol: String, keep: String*): DataFrame = {
    val subW = (org.apache.spark.sql.functions.size(col("vec")) / lit(m)).cast("int")
    val dimOk = assert_true(
      org.apache.spark.sql.functions.size(col(vecCol)) % lit(m) === 0,
      concat(lit(s"graft.pq: embedding dimension must be a multiple of m=$m; got dim="),
        org.apache.spark.sql.functions.size(col(vecCol)).cast("string")))
    val keys = col(outId) +: keep.map(col)
    df.select((col(idCol).cast("long").as(outId) +: keep.map(col)) :+
        // assert_true yields null on pass, so the `when` always takes
        // this branch — it exists to keep the guard in the plan
        when(dimOk.isNull,
          transform(col(vecCol), x => x.cast("double"))).as("vec"): _*)
      .select(keys :+ col("vec") :+ explode(sequence(lit(0), lit(m - 1))).as("j"): _*)
      .select(keys :+ col("j") :+ slice(col("vec"), col("j") * subW + 1, subW).as("sub"): _*)
  }

  /** The deterministic codebook: (j, c_id, cv) — subspace j's codewords
    * are the sub-vectors of the ncode lowest-id corpus vectors. Tiny
    * (m x ncode rows), always broadcast.
    */
  private def pqCodebook(corpus: DataFrame, m: Int, ncode: Int,
      idCol: String, vecCol: String): DataFrame =
    broadcast(pqSubspaced(corpus.filter(col(idCol) < ncode), "c_id", m, idCol, vecCol)
      .select(col("j"), col("c_id"), col("sub").as("cv")))

  /** Encode the corpus: (n_id, codes) with codes[j] the argmin codeword
    * of subspace j (ties to lower code id). One corpus scan + broadcast
    * codebook join + partial-aggregatable argmin. In production this is
    * a build-once asset — see [[ensurePqIndex]].
    */
  def pqEncode(corpus: DataFrame, m: Int = 8, ncode: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqEncodeCb(pqSubspaced(corpus, "n_id", m, idCol, vecCol),
      pqCodebook(corpus, m, ncode, idCol, vecCol), "c_id", "n_id")

  /** [[pqEncode]] of [[pqSubspaced]] rows against an explicit
    * (j, `cw`, cv) codebook frame: (keys..., codes).
    */
  private def pqEncodeCb(sub: DataFrame, cb: DataFrame, cw: String,
      keys: String*): DataFrame =
    sub.join(cb, "j")
      .groupBy(keys.map(col) :+ col("j"): _*)
      .agg(min(struct(pqD2(col("sub"), col("cv")).as("d"), col(cw))).as("best"))
      .groupBy(keys.map(col): _*)
      .agg(transform(sort_array(collect_list(struct(col("j"), col(s"best.$cw").as("c")))),
        e => e("c")).as("codes"))

  /** Flat ADC LUT per `keys` group of [[pqSubspaced]] query rows:
    * lut[j*ncode + cw + 1] = d2(query slice j, codeword cw). Built by
    * EXPLICIT slot placement (a map keyed j*ncode + cw, expanded to a
    * dense array with unused slots = +inf), so codeword ids only need to
    * be < ncode — gaps in the corpus id space below ncode cannot
    * misalign the lookup. The hot scan keeps its O(1) `element_at` per
    * subspace.
    */
  private def adcLut(sub: DataFrame, cb: DataFrame, cw: String, m: Int, ncode: Int,
      keys: String*): DataFrame =
    sub.join(cb, "j")
      .groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(struct(
        (col("j") * ncode + col(cw)).cast("int").as("slot"),
        pqD2(col("sub"), col("cv")).as("d")))).as("lutm"))
      .select(keys.map(col) :+
        transform(sequence(lit(0), lit(m * ncode - 1)),
          p => coalesce(element_at(col("lutm"), p), lit(Double.MaxValue))).as("lut"): _*)

  /** The per-row O(m) ADC fold over a `codes` array and a `lut` array. */
  private def pqAdc(m: Int, ncode: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + element_at(col("lut"),
        (j * ncode + element_at(col("codes"), j + 1) + 1).cast("int")))

  /** The deterministic codebook collected to the driver —
    * `cb(j)(c)` = codeword c of subspace j. m x ncode x (d/m) doubles
    * (2 KB at the defaults): a sanctioned broadcast-scale planning
    * step, used to encode STREAMING rows per-row in a typed kernel
    * (a stream side cannot run the aggregate encode).
    */
  def pqCodebookLocal(corpus: DataFrame, m: Int = 8, ncode: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[(Long, Array[Double])]] = {
    val rows = pqCodebook(corpus, m, ncode, idCol, vecCol)
      .collect()
      .map(r => (r.getAs[Int]("j"), r.getAs[Long]("c_id"),
        r.getAs[scala.collection.Seq[Double]]("cv").toArray))
    // empty corpus -> m empty codeword lists (encode degrades to code 0,
    // the asset is empty, every probe row lands is_new)
    Array.tabulate(m) { j =>
      rows.filter(_._1 == j).sortBy(_._2).map(t => (t._2, t._3))
    }
  }

  /** Per-row PQ encode against a collected codebook — value-identical
    * to [[pqEncode]]'s aggregate argmin (sequential-fold d2, ties to
    * the lower code id; emits the codeword's ID, which is a corpus id
    * and need not be dense). Used by the streaming probe.
    */
  def pqEncodeLocal(vec: Array[Double], cb: Array[Array[(Long, Array[Double])]]): Array[Long] = {
    val m = cb.length
    val subW = vec.length / m
    Array.tabulate(m) { j =>
      val cws = cb(j)
      var best = 0L
      var bestD = Double.MaxValue
      var c = 0
      while (c < cws.length) {
        val cv = cws(c)._2
        var d = 0.0
        var i = 0
        while (i < subW) {
          val t = vec(j * subW + i) - cv(i)
          d += t * t
          i += 1
        }
        // strict <: on a tie the earlier (lower-id, sorted) codeword wins
        if (d < bestD) { bestD = d; best = cws(c)._1 }
        c += 1
      }
      best
    }
  }

  /** TRAINED PQ codebook: per-subspace Lloyd k-means, fully replayable.
    *
    * The deterministic lowest-id codebook ([[pqCodebook]]) exists so an
    * external engine can replicate the exact encoding — that is what
    * the oracle-checked queries use — but its codewords are arbitrary
    * corpus points, not cluster centers, and recall pays for that.
    * This trainer recovers the recall without giving up replayability:
    *
    *  - TRAINS ON A BOUNDED SAMPLE (the standard PQ practice — faiss
    *    trains codebooks on ~10-100k vectors regardless of corpus
    *    size): the `sampleN` vectors with the smallest portable hash
    *    of their id — a deterministic, corpus-order-independent draw
    *    computed as a distributed top-k, never a full collect.
    *  - DETERMINISTIC INIT: the lowest-id sample subvectors (the
    *    deterministic codebook of the sample).
    *  - Lloyd iterations run driver-local over the sample in fixed
    *    id order with sequential summation — bit-replayable. Empty
    *    clusters keep their previous centroid.
    *
    * Returns `cb(j)(c) = (c, centroid)` — codeword "ids" are DENSE
    * ranks 0..ncode-1 (they are trained centers, not corpus points).
    * Used by [[annTopK]]'s Trained codebooks, or fed to
    * [[pqEncodeLocal]] for streaming rows. Recall deltas vs the
    * deterministic codebook are measured in AnnRecallSpec.
    */
  def pqTrainCodebookLocal(corpus: DataFrame, m: Int = 8, ncode: Int = 16,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[(Long, Array[Double])]] = {
    val sample = hashSample(corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v")), col("id"), sampleN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    if (sample.isEmpty) // empty shard: empty codebook, empty search
      return Array.fill(m)(Array.empty[(Long, Array[Double])])
    val d = sample.head._2.length
    require(d % m == 0, s"graft.pq: embedding dimension must be a multiple of m=$m; got dim=$d")
    val subW = d / m
    Array.tabulate(m) { j =>
      def slice(v: Array[Double]) = java.util.Arrays.copyOfRange(v, j * subW, (j + 1) * subW)
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
        s
      }
      val pts = sample.map(s => slice(s._2))
      // init: sample's lowest-id subvectors (ids are already sorted).
      // Farthest-point seeding was tried here and measured WORSE
      // (0.330 vs 0.360 recall@10) — in low-D subspaces it chases L2
      // outliers; the spherical IVF trainer is where it pays.
      val cent = Array.tabulate(math.min(ncode, pts.length))(c => pts(c).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cent.length)(new Array[Double](subW))
        val counts = new Array[Long](cent.length)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cent.length) {
            val dd = d2(p, cent(c))
            if (dd < bestD) { bestD = dd; best = c } // strict <: ties to lower index
            c += 1
          }
          var i = 0
          while (i < subW) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        var c = 0
        while (c < cent.length) {
          if (counts(c) > 0) {
            var i = 0
            while (i < subW) { cent(c)(i) = sums(c)(i) / counts(c); i += 1 }
          } // empty cluster: keep previous centroid
          c += 1
        }
        it += 1
      }
      cent.zipWithIndex.map { case (cv, c) => (c.toLong, cv) }
    }
  }

  /** A local codebook (trained or collected) as a broadcast (j, c_id,
    * cv) frame — the shape [[pqEncodeCb]]/[[adcLut]] consume.
    */
  private def cbFrame(s: org.apache.spark.sql.SparkSession,
      cb: Array[Array[(Long, Array[Double])]]): DataFrame = {
    import s.implicits._
    broadcast(cb.zipWithIndex.flatMap { case (cws, j) =>
      cws.map { case (cid, cv) => (j, cid, cv.toSeq) }
    }.toSeq.toDF("j", "c_id", "cv"))
  }

  /** RESIDUAL ADC — the exact faiss IVFPQ shape: each corpus vector is
    * PQ-encoded as its residual `v - centroid(v)` against its assigned
    * coarse centroid, and each query builds one LUT PER PROBED LIST from
    * its own residual against that list's centroid. Residuals are much
    * smaller than raw vectors (the coarse quantizer removes the dominant
    * direction), so the same m x ncode codebook spends its codewords on
    * fine structure — measurably better recall than raw-vector ADC at
    * identical code size (AnnRecallSpec).
    *
    * LowestId codebook: subspace slices of the ncode lowest-id residuals
    * PAST the centroid range — the nlist lowest ids are the LowestId
    * centroids themselves, which assign to themselves with residual ZERO
    * (a codebook of zeros degenerates ADC to id order).
    * Codeword ids re-based to dense 0..ncode-1. Fully deterministic, so
    * the oracle replays s16's whole composition. Trained codebook:
    * [[pqTrainCodebookLocal]] run over the deterministic hash-sample of
    * the RESIDUALS — the quantity the codebook actually encodes.
    *
    * Dataflow is [[scorePq]]'s with one twist: the LUT is keyed on
    * (q_id, c_id), not q_id — still a broadcast of nprobe x m x ncode
    * doubles per query against ONE equi-join on the list id.
    */
  private def scoreResidual(corpus: DataFrame, queries: DataFrame, k: Int,
      cent: DataFrame, ivf: AnnSpec.Ivf, r: AnnSpec.PqResidual,
      source: AnnSpec.Source): DataFrame = {
    val (m, ncode, nlist) = (r.m, r.ncode, ivf.nlist)
    def res(v: String) = zip_with(col(v), col("c_vec"),
      (a, b) => a.cast("double") - b.cast("double"))
    // not persisted: the codebook and the codes (c_id carried through
    // pqSubspaced) are its only readers, and at sf0.01 building the
    // cache cost more jobs and task time than re-running the argmax
    val assigned = assignNearest(rowsOf(corpus, "n_id", "n_vec").crossJoin(cent),
        "n_id", "n_vec", "n_vec", "c_vec")
      .select(col("n_id"), col("c_id"), res("n_vec").as("res"))
    val cb =
      if (source == AnnSpec.LowestId)
        broadcast(pqSubspaced(
            assigned.filter(col("n_id") >= nlist && col("n_id") < nlist + ncode)
              .select((col("n_id") - nlist).as("rid"), col("res")),
            "c_id2", m, "rid", "res")
          .select(col("j"), col("c_id2").as("cw"), col("sub").as("cv")))
      else cbFrame(corpus.sparkSession, pqTrainCodebookLocal(
          assigned.select(col("n_id").as(IdCol), col("res").as(VecCol)), m, ncode))
        .select(col("j"), col("c_id").as("cw"), col("cv"))
    val codes = pqEncodeCb(pqSubspaced(assigned, "n_id", m, "n_id", "res", "c_id"),
      cb, "cw", "n_id", "c_id")
    val probes = probeLists(queries, cent, ivf.nprobe)
      .select(col("q_id"), col("c_id"), res("q_vec").as("qres"))
    val lut = adcLut(pqSubspaced(probes, "q_id", m, "q_id", "qres", "c_id"), cb, "cw",
      m, ncode, "q_id", "c_id")
    val met = codes.join(broadcast(lut), Seq("c_id")).filter(col("n_id") =!= col("q_id"))
    keepTop(met.withColumn("adc", pqAdc(m, ncode)), k, col("adc").asc)
      .select(col("q_id"), col("n_id"), col("rnk"), round(col("adc"), 6).as("adc_d2"))
  }

  /** Per-subspace Lloyd k-means over quantized residual slices in pure
    * integer arithmetic — the residual-codebook half of s24's
    * SQL-replayable training (the coarse half is
    * [[ivfTrainCentroidsFp]]). `sample` rows are whole quantized
    * residual vectors in deterministic hash order. Per subspace j:
    * seeds at positions ⌊cw·n/ncw⌋, assignment by min integer L2
    * (ties → lowest cw), update = per-dim truncating integer mean;
    * empty cells keep their previous codeword. Returns [j][cw][sub].
    */
  private[graft] def pqTrainCodebookFp(sample: Array[Array[Long]], m: Int,
      ncode: Int, iters: Int): Array[Array[Array[Long]]] = {
    if (sample.isEmpty) return Array.empty
    val n = sample.length
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sub = d / m
    val ncw = math.min(ncode, n)
    def sliceOf(p: Array[Long], j: Int): Array[Long] =
      java.util.Arrays.copyOfRange(p, j * sub, (j + 1) * sub)
    val cb = Array.tabulate(m) { j =>
      Array.tabulate(ncw)(cw => sliceOf(sample((cw.toLong * n / ncw).toInt), j))
    }
    var it = 0
    while (it < iters) {
      var j = 0
      while (j < m) {
        val sums = Array.fill(ncw)(new Array[Long](sub))
        val counts = new Array[Long](ncw)
        sample.foreach { p =>
          var best = 0; var bestD2 = Long.MaxValue; var cw = 0
          while (cw < ncw) {
            var d2 = 0L; var i = 0
            while (i < sub) {
              val t = p(j * sub + i) - cb(j)(cw)(i); d2 += t * t; i += 1
            }
            if (d2 < bestD2) { bestD2 = d2; best = cw } // strict <: ties to lower cw
            cw += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(j * sub + i); i += 1 }
          counts(best) += 1
        }
        var cw = 0
        while (cw < ncw) {
          if (counts(cw) > 0) {
            var i = 0
            while (i < sub) { cb(j)(cw)(i) = sums(cw)(i) / counts(cw); i += 1 }
          }
          cw += 1
        }
        j += 1
      }
      it += 1
    }
    cb
  }

  /** Quantized residual vs the assigned centroid (column c_vec, a
    * ×2^15 fixed-point centroid): rescaled to unit norm (/2^15 — an
    * exact power-of-two division), quantized at ×2^12 (floor — exact).
    */
  private def fpResidual(vec: Column): Column = zip_with(vec, col("c_vec"),
    (a, b) => floor((a.cast("double") - b / 32768.0d) * 4096.0d).cast("long"))

  /** The residual codebook's training rows: the quantized residuals
    * (qres) of the `n`-row hash sample of an (n_id, qres) frame.
    */
  private def fpResidualSample(assigned: DataFrame, n: Int): Array[Array[Long]] =
    hashSample(assigned, col("n_id"), n).select(col("qres")).collect()
      .map(_.getSeq[Long](0).toArray)

  /** FIXED-POINT residual ADC — s24's path: the faiss-IVFPQ recipe with
    * BOTH trainings SQL-replayable. Residuals against the TrainedFp
    * centroids are [[fpResidual]]s; the residual codebook is
    * [[pqTrainCodebookFp]]'s integer Lloyd over the deterministic
    * hash-sample of those residuals. ADC is the exact INTEGER sum of
    * per-subspace squared distances — the oracle replays training,
    * encoding, probing, and scoring bit-for-bit (no float folds
    * anywhere past the probe cosines, which follow the proven s04 fold
    * pattern).
    *
    * Bounds: |res_i| ≤ ~2 ⇒ |qres_i| ≤ 2^13; per-subspace d² ≤
    * 8·(2^14)² = 2^31; ADC ≤ 2^34 — Longs with headroom.
    *
    * `rerankC` is the ADC candidate budget of the exact-integer rerank:
    * -1 = 8k (the faiss-style refine default), 0 = rank by ADC alone.
    * Measured at sf0.01/50 queries: ADC-only recall@10 0.310 -> 0.494
    * with C=4k -> 0.514 with C=8k — 0.514 is exactly the trained-IVF
    * nprobe=4 list-coverage ceiling, i.e. the rerank recovers
    * EVERYTHING the 8x32 codebook loses; past C=8k the knob to turn is
    * nprobe (0.688 at 8, 0.892 at 16), not C.
    */
  private def scoreResidualFp(corpus: DataFrame, queries: DataFrame, k: Int,
      cent: DataFrame, nprobe: Int, r: AnnSpec.PqResidual): DataFrame = {
    import corpus.sparkSession.implicits._
    val (m, sub) = (r.m, 64 / r.m)
    val cBudget = if (r.rerankC == -1) 8 * k else r.rerankC
    // assignment (the max-struct argmax: cos DESC, c_id ASC — the tie
    // rule the oracle's row_number spells — not a 32x-corpus window
    // shuffle) + quantized residual, persisted: the residual-sample
    // collect and the encode pass both read it
    val assigned = persist(
      assignNearest(rowsOf(corpus, "n_id", "n_vec").crossJoin(cent),
          "n_id", "n_vec", "n_vec", "c_vec")
        .select(col("n_id"), col("c_id"), fpResidual(col("n_vec")).as("qres")))
    val cbArr = pqTrainCodebookFp(fpResidualSample(assigned, 4096), m, r.ncode, 10)
    val cb = broadcast(cbArr.zipWithIndex.flatMap { case (cws, j) =>
      cws.zipWithIndex.map { case (cv, cw) => (j, cw.toLong, cv.toSeq) }
    }.toSeq.toDF("j", "cw", "cv"))
    def d2Fp(a: Column, b: Column) = aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, t) => acc + t)
    def subspaced(df: DataFrame, keys: Seq[Column]) = df
      .select(keys :+ posexplode(transform(sequence(lit(0), lit(m - 1)),
        j => slice(col("qres"), j * sub + 1, lit(sub)))): _*)
      .withColumnRenamed("pos", "j").withColumnRenamed("col", "slice")
    // encode: best codeword per (corpus vector, subspace)
    val codes = subspaced(assigned, Seq(col("n_id"), col("c_id")))
      .join(cb, "j")
      .groupBy(col("n_id"), col("c_id"), col("j"))
      .agg(min(struct(d2Fp(col("slice"), col("cv")).as("d2"), col("cw"))).as("b"))
      .select(col("n_id"), col("c_id"), col("j"), col("b.cw").as("cw"))
    val probes = probeLists(queries, cent, nprobe)
      .select(col("q_id"), col("c_id"), fpResidual(col("q_vec")).as("qres"))
    // LUT: integer d² of the query's residual slice vs every codeword
    val lut = subspaced(probes, Seq(col("q_id"), col("c_id")))
      .join(cb, "j")
      .select(col("q_id"), col("c_id"), col("j"), col("cw"),
        d2Fp(col("slice"), col("cv")).as("d2"))
    val adc = codes.join(broadcast(lut), Seq("c_id", "j", "cw"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("n_id"), col("c_id"))
      .agg(sum(col("d2")).as("adc_fp"))
    if (cBudget <= 0)
      keepTop(adc, k, col("adc_fp").asc)
        .select(col("q_id"), col("n_id"), col("rnk"), col("adc_fp"))
    else {
      // exact-integer rerank over the ADC top-C: the centroid cancels
      // in qres_q - qres_n (both are vs the candidate's list centroid),
      // so Σ(qres_q[i]-qres_n[i])² is ×2^24-scaled exact L2 of (q-n)
      // up to the ±1/dim quantization floor — cross-list comparable,
      // commutative integer sums, SQL-replayable. Candidates stay
      // bounded at C per query; both joins are slim equi-joins.
      val cands = keepTop(adc, cBudget, col("adc_fp").asc, "crn")
        .join(probes.select(col("q_id"), col("c_id"), col("qres").as("q_qres")),
          Seq("q_id", "c_id"))
        .join(assigned.select(col("n_id"), col("qres").as("n_qres")), Seq("n_id"))
        .withColumn("d2_fp", d2Fp(col("q_qres"), col("n_qres")))
      keepTop(cands, k, col("d2_fp").asc)
        .select(col("q_id"), col("n_id"), col("rnk"), col("adc_fp"), col("d2_fp"))
    }
  }

  /** PQ-COMPRESSED BIG-BIG k-NN GRAPH — [[ivfKnnGraphTrainedFp]]'s
    * block join at ADC cost: both sides are the full corpus, but the
    * candidate join's neighbor payload is the `m`-byte PQ code word
    * instead of the d-dimensional vector, and scoring is the exact
    * integer ADC of [[graft.functions.AdcFp]]. This is the shape that
    * actually builds the semantic-dedup graph at 100 TB: the s30 block
    * join shuffles d·8 bytes per candidate row (512 B at d=64), this
    * one ~8·8 B of codes + the per-(q, probed-list) residual — and the
    * rerank touches only the ADC top-`cBudget` per query.
    *
    * Training recipe is s24's verbatim ([[ivfTrainCentroidsFp]] coarse
    * quantizer + [[pqTrainCodebookFp]] integer Lloyd residual codebook
    * on the deterministic hash-sample), so the DuckDB oracle replays
    * the ENTIRE build — training, encoding, routing, ADC, and rerank —
    * bit for bit. Encode and ADC run as codegen kernels
    * ([[graft.functions.PqEncodeFp]]/[[graft.functions.AdcFp]], the
    * codebook a KB-sized reference object) rather than the n·m·ncode
    * explode-join spelling: the s33 lesson applied before the hot path
    * shipped. The final ranks by the exact-integer rerank d2_fp (the
    * centroid cancels within a probed list, s24's move), ties to the
    * lower id.
    */
  def pqKnnGraphTrainedFp(corpus: DataFrame, k: Int,
      nlist: Int = 32, nprobe: Int = 4, m: Int = 8, ncode: Int = 32,
      iters: Int = 10, sampleN: Int = 4096, cBudget: Int = 40,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cBudget >= k,
      s"need cBudget >= k >= 1, got k=$k cBudget=$cBudget")
    val cent = centFrame(corpus.sparkSession,
      ivfTrainCentroidsFp(corpus, nlist, iters, sampleN, idCol, vecCol))
    // ONE routing scan (s30's sanctioned corpus × broadcast-centroids
    // shape): probes[1] = the hard assignment, probes[1..nprobe] = the
    // query-side lists. Persisted — assignment, q-side residuals, and
    // the rerank all derive from it.
    val routed = persist(topLists(corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .crossJoin(cent), nprobe))
    pqGraphRanked(corpus,
      pqGraphPrepFromRouted(routed, cent, m, ncode, iters, sampleN), k, cBudget)
  }

  /** The PQ graph pipeline over a routed (id, probes, vec) frame, shared
    * by the flat-routed [[pqKnnGraphTrainedFp]] and the corpus-scaled
    * [[pqKnnGraphScaledFp]]: residual quantization vs the assigned
    * centroid, integer-Lloyd codebook on the deterministic hash-sample,
    * codegen encode/ADC ([[pqGraphPrepFromRouted]]), then bounded ADC
    * top-`cBudget` and exact-integer rerank ([[pqGraphRankFromPrep]]).
    * No prep (empty corpus) is the empty graph.
    */
  private def pqGraphRanked(corpus: DataFrame, prep: Option[PqGraphPrep], k: Int,
      cBudget: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    prep.fold(Seq.empty[(Long, Long, Int, Long, Long)]
      .toDF("q_id", "n_id", "rnk", "adc_fp", "d2_fp"))(pqGraphRankFromPrep(_, k, cBudget))
  }

  /** The cBudget-independent front of the PQ graph pipeline:
    * assignment + quantized residuals, the integer-Lloyd residual
    * codebook, codegen-encoded neighbor codes, and the per-(query,
    * probed list) residual query side. Split out so a multi-budget
    * evaluation (s41's cBudget 40/80 curve) trains, encodes and
    * routes ONCE and only re-runs the bounded top-C + rerank tail per
    * arm — previously each arm re-ran the whole pipeline. None = empty
    * corpus (no codebook to train).
    */
  private[graft] final case class PqGraphPrep(assigned: DataFrame,
      scored: DataFrame, qside: DataFrame)

  private[graft] def pqGraphPrepFromRouted(routed: DataFrame,
      cent: DataFrame, m: Int, ncode: Int, iters: Int, sampleN: Int): Option[PqGraphPrep] = {
    import org.apache.spark.sql.graftbridge.Bridge
    // neighbor side: hard assignment, ×2^12-quantized residual vs the
    // assigned list's centroid (exact ops only)
    val assigned = persist(assignedOf(routed)
      .join(cent, "c_id")
      .select(col("n_id"), col("c_id"), fpResidual(col("n_vec")).as("qres")))
    // residual codebook: integer Lloyd over the deterministic
    // hash-sample (bounded driver-planning step, the s23/s24 class)
    val cbArr = pqTrainCodebookFp(fpResidualSample(assigned, sampleN), m, ncode, iters)
    if (cbArr.isEmpty) return None // empty corpus: nothing to encode
    val ncw = cbArr.head.length
    val sub = cbArr.head.head.length
    val flat: Array[Long] = {
      val out = new Array[Long](m * ncw * sub)
      var p = 0
      for (j <- 0 until m; cw <- 0 until ncw; i <- 0 until sub) {
        out(p) = cbArr(j)(cw)(i); p += 1
      }
      out
    }
    def encodeCol(q: Column) = Bridge.column(graft.functions.PqEncodeFp(
      Bridge.expression(q), flat, m, ncw, sub))
    def adcCol(q: Column, c: Column) = Bridge.column(graft.functions.AdcFp(
      Bridge.expression(q), Bridge.expression(c), flat, m, ncw, sub))
    val coded = assigned.withColumn("codes", encodeCol(col("qres")))
    // query side: one row per (q, probed list) with the residual vs
    // THAT list's centroid — candidates in a list score against it
    val qside = persist(probesOf(routed)
      .join(cent, "c_id")
      .select(col("q_id"), col("c_id"), fpResidual(col("q_vec")).as("q_qres")))
    // block join on the list id (shuffle equi-join — never all-pairs)
    // + codegen ADC: budget-INDEPENDENT, so it is computed (and
    // persisted, slim: four integer columns, O(n·nprobe·cell))
    // once — every cBudget arm reads this frame instead of re-running
    // the join and the ADC kernel
    val scored = persist(qside
      .join(coded.select(col("n_id"), col("c_id"), col("codes")), Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("adc_fp", adcCol(col("q_qres"), col("codes")))
      .filter(col("adc_fp").isNotNull)
      .select(col("q_id"), col("c_id"), col("n_id"), col("adc_fp")))
    Some(PqGraphPrep(assigned, scored, qside))
  }

  /** The per-cBudget tail of the PQ graph pipeline: bounded ADC top-C
    * per query (−adc is exact in a double: adc ≤ 2^34 ≪ 2^53), then
    * the exact-integer rerank of the bounded candidates — slim
    * id-keyed equi-joins, d2_fp = scaled exact L2 of q−n (the centroid
    * cancels).
    */
  private[graft] def pqGraphRankFromPrep(prep: PqGraphPrep, k: Int,
      cBudget: Int): DataFrame = {
    // direct callers (s41's budget arms) bypass pqKnnGraphScaledFp's
    // guard; a cBudget < k would silently truncate instead of failing
    require(k >= 1 && cBudget >= k,
      s"need 1 <= k <= cBudget; got k=$k, cBudget=$cBudget")
    import org.apache.spark.sql.graftbridge.Bridge
    val topC = topCos(cBudget)
    val cand = prep.scored
      .groupBy(col("q_id"))
      .agg(topC(col("n_id"), -col("adc_fp").cast("double")).as("cand"))
      .select(col("q_id"), explode(col("cand")).as("e"))
      .select(col("q_id"), col("e")("_1").as("n_id"),
        (-col("e")("_2")).cast("long").as("adc_fp"))
    keepTop(cand
        .join(prep.assigned.select(col("n_id"), col("c_id"),
          col("qres").as("n_qres")), Seq("n_id"))
        .join(prep.qside, Seq("q_id", "c_id"))
        .withColumn("d2_fp", Bridge.column(graft.functions.L2Fp(
          Bridge.expression(col("q_qres")), Bridge.expression(col("n_qres"))))),
        k, col("d2_fp").asc)
      .select(col("q_id"), col("n_id"), col("rnk"), col("adc_fp"), col("d2_fp"))
  }

  /** INCREMENTAL k-NN GRAPH MAINTENANCE — the d09/st44 build-once/
    * probe-incrementally pattern applied to [[knnGraphScaledFp]]'s
    * asset: geometry and quantizer are FROZEN on the base corpus (the
    * nightly index job), and an arriving shard is folded in WITHOUT
    * rebuilding —
    *
    *   1. arriving vectors route through the frozen two-level tables
    *      (O(|new|·(ns + superProbe·nlist/ns)) — never re-scanning the
    *      base),
    *   2. new queries rank the base+new members of their probed cells,
    *   3. base vectors MERGE-upsert: candidate pairs (base q, new n)
    *      come from the slim probes(base) ⋈ assigned(new) cell-id
    *      equi-join — O(|base probes| · |new|/nlist) rows, not a
    *      rebuild — and fold into the stored top-k.
    *
    * EXACTLY equal to the batch rebuild over the same frozen quantizer
    * (the DuckDB oracle replays the batch spelling; the engine runs
    * THIS incremental dataflow): for a base query, top-k(C_base ∪
    * C_new) = top-k(top-k(C_base) ∪ C_new) because any survivor from
    * C_base survives C_base's own top-k, and the bounded aggregator's
    * tie order (cos desc, id asc) is preserved under pre-truncation.
    * The stored edge keeps the FULL-precision cosine (rounding only at
    * output) so re-merging never reorders a near-tie.
    */
  def knnGraphIncrementalFp(base: DataFrame, arriving: DataFrame, k: Int,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val route = scaledRouter(base, targetList, nprobe, superProbe, iters, sampleN,
        idCol, vecCol) match {
      case Some((_, r)) => r
      case None => return emptyGraph(base)
    }
    val routedB = route(base)
    val routedN = route(arriving)
    // the frozen asset: base top-k at FULL precision (production
    // persists this; built once, then only merged into)
    val baseEdges = topEdges(cellPairs(probesOf(routedB), assignedOf(routedB)), k)
    // increments: base queries meet ONLY the arriving assignments;
    // arriving queries rank base+new members of their probed cells
    val updates = cellPairs(probesOf(routedB), assignedOf(routedN))
    val newEdges = cellPairs(probesOf(routedN),
      assignedOf(routedB).unionByName(assignedOf(routedN)))
    rankedEdges(baseEdges.unionByName(updates).unionByName(newEdges), k)
  }

  /** TOMBSTONE-AWARE k-NN GRAPH MAINTENANCE — the delete half of the
    * d26 story: a takedown batch (GDPR erasure, copyright removal,
    * contaminated-source purge) must leave the 100 TB graph asset as
    * if the deleted vectors had never been indexed, WITHOUT a rebuild.
    * Geometry and quantizer stay FROZEN on the build-time corpus (the
    * asset's nightly training run — deleting rows does not retrain),
    * and the tombstones fold in incrementally:
    *
    *   1. deleted queries' adjacency rows drop (an id anti-join),
    *   2. AFFECTED queries — survivors holding >= 1 deleted neighbor
    *      in their stored top-k — re-rank their probed cells over the
    *      SURVIVING assignments only (O(|affected|·nprobe·targetList),
    *      never a corpus rescan),
    *   3. every other query keeps its stored edges VERBATIM — exact,
    *      because its stored top-k all survive and survive their own
    *      pre-truncation (deleting non-top-k candidates cannot change
    *      a top-k that kept all its members).
    *
    * EXACTLY equal to the batch rebuild over the survivors under the
    * same frozen routing — the DuckDB oracle replays that rebuild
    * spelling (training over everyone, routing over survivors); the
    * engine runs THIS incremental dataflow. Stored edges keep the
    * full-precision cosine (rounding only at output) so the repair
    * merge never reorders a near-tie.
    *
    * `deletedIds` is one id column; at 100 TB a takedown batch is
    * vanishingly small next to the corpus, so its joins broadcast —
    * but nothing here REQUIRES that: all three steps are plain
    * anti/semi equi-joins AQE can shuffle if a purge is corpus-sized.
    */
  def knnGraphTombstoneFp(corpus: DataFrame, deletedIds: DataFrame, k: Int,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // empty takedown batch: the repair dataflow degenerates to the
    // stored graph (live filter drops nothing, zero affected queries),
    // so skip the corpus count + full quantizer training it would
    // otherwise pay and return the plain scaled build
    if (deletedIds.isEmpty)
      return knnGraphScaledFp(corpus, k, targetList, nprobe, superProbe,
        iters, sampleN, idCol, vecCol)
    val routed = scaledRouter(corpus, targetList, nprobe, superProbe, iters, sampleN,
        idCol, vecCol) match {
      case Some((_, route)) => route(corpus)
      case None => return emptyGraph(corpus)
    }
    val del = deletedIds.select(
      deletedIds(deletedIds.columns.head).cast("long").as("del_id"))
    val asg = assignedOf(routed)
    val prb = probesOf(routed)
    // the frozen asset: full-corpus top-k at FULL precision (production
    // reads this from parquet; built once, then only repaired)
    val baseEdges = persist( // read by the live filter and the affected scan
      topEdges(cellPairs(prb, asg), k))
    val liveEdges = baseEdges
      .join(del, baseEdges("q_id") === del("del_id"), "left_anti")
    val affected = liveEdges
      .join(del, liveEdges("n_id") === del("del_id"), "left_semi")
      .select(col("q_id")).distinct()
    val untouched = liveEdges
      .join(affected, Seq("q_id"), "left_anti")
    // repair: affected queries re-rank the SURVIVING members of their
    // probed cells — the frozen probes bound the candidate set
    val repairs = topEdges(cellPairs(
      prb.join(affected, Seq("q_id"), "left_semi"),
      asg.join(del, asg("n_id") === del("del_id"), "left_anti")), k)
    rankedEdges(untouched.unionByName(repairs), k)
  }

  /** CORPUS-SCALED PQ k-NN graph — [[knnGraphScaledFp]]'s derived
    * geometry (nlist = max(32, ceil(n/targetList)), hash-seeded
    * trainer, two-level routing with ns = ceil(sqrt(nc)) first-prefix
    * supers) feeding [[pqGraphRanked]]'s compressed pipeline: the
    * candidate block join carries m codeword longs instead of the
    * d-dim vector, ADC scores, exact-integer top-`cBudget` rerank.
    * The registered production shape for building the semantic-dedup
    * graph at 100 TB — constant cell population AND 1/8 candidate-join
    * bytes. Fully deterministic; the oracle replays count → geometry,
    * training, routing, codebook, encode, ADC, and rerank end to end.
    */
  def pqKnnGraphScaledFp(corpus: DataFrame, k: Int,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      m: Int = 8, ncode: Int = 32,
      iters: Int = 10, sampleN: Int = 4096, cBudget: Int = 40,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cBudget >= k,
      s"need cBudget >= k >= 1, got k=$k cBudget=$cBudget")
    pqGraphRanked(corpus, pqKnnGraphScaledPrep(corpus, targetList, nprobe, superProbe,
      m, ncode, iters, sampleN, idCol, vecCol), k, cBudget)
  }

  /** The cBudget-independent front of [[pqKnnGraphScaledFp]] (count →
    * scaled nlist → hash-seed training → two-level routing →
    * [[pqGraphPrepFromRouted]]): a multi-budget evaluation (s41) runs
    * it once and prices each budget with [[pqGraphRankFromPrep]]
    * alone. None = empty corpus.
    */
  private[graft] def pqKnnGraphScaledPrep(corpus: DataFrame,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3,
      m: Int = 8, ncode: Int = 32, iters: Int = 10, sampleN: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): Option[PqGraphPrep] = {
    scaledRouter(corpus, targetList, nprobe, superProbe, iters, sampleN, idCol, vecCol)
      .flatMap { case (trained, route) => pqGraphPrepFromRouted(route(corpus),
        centFrame(corpus.sparkSession, trained), m, ncode, iters, sampleN) }
  }

  /** Build-once PQ code asset over the embeddings table (the ANN twin
    * of [[Dedup.ensureSignatureIndex]]'s dedup index): encode once,
    * publish with a content-fingerprint marker, serve every later
    * search from the 32x-narrower code table. Same freshness contract:
    * part-file fingerprint mismatch → rebuild; atomic marker publish.
    */
  def ensurePqIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      m: Int = 8, ncode: Int = 32): DataFrame =
    Assets.ensureParquetAsset(s,
        s"graft_pq_index_${m}_${ncode}_${Assets.tagOf(dir)}",
        new java.io.File(dir, "embeddings.parquet")) {
      pqEncode(s.read.parquet(s"$dir/embeddings.parquet"), m, ncode)
    }

  /** Build-once UNDIRECTED kNN-graph asset — the serving-side index
    * the graph-ANN search ([[graphBeamSearchOver]]) walks. Same
    * content-fingerprinted lifecycle as [[ensurePqIndex]] /
    * [[graft.operators.Dedup.ensureSignatureIndex]]: built from the
    * corpus once (the expensive trained-quantizer block join), stored
    * as (node, edge_to) parquet in the warehouse dir, rebuilt only
    * when the source files change. At 100 TB this is the nightly
    * index-build job; every query-time search reads the asset and
    * never re-trains. Since round 14 the build arm is
    * [[knnEdgesScaled]] (count-derived nlist, two-level routing) so
    * the nightly job carries the same scale guarantee the s30 family
    * does.
    */
  def ensureKnnGraphIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      graphK: Int = 10, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame = {
    val tag = Assets.tagOf(dir)
    Assets.ensureParquetAsset(s,
        s"graft_knn_graph2l_${graphK}_${targetList}_${nprobe}_${superProbe}_$tag",
        new java.io.File(dir, "embeddings.parquet"),
        // retire stale generations: the pre-round-14 flat-build assets
        // (graft_knn_graph_*, no "2l") for the same source tag would
        // otherwise accumulate forever in the warehouse dir
        retire = n => n.startsWith("graft_knn_graph_") && n.contains(s"_$tag")) {
      knnEdgesScaled(s.read.parquet(s"$dir/embeddings.parquet"), graphK,
        undirected = true, targetList, nprobe, superProbe)
    }
  }

  /** Build-once UPSERT-MAINTAINED walk-edge asset — the graph d26's
    * incremental merge-upsert maintains (frozen base-trained
    * quantizer, the family's %10==7 benchmark arrival batch folded
    * in), stored UNDIRECTED in [[ensureKnnGraphIndex]]'s (node,
    * edge_to) shape so serving (s44) reads the LSM store's maintained
    * generation instead of re-folding the maintenance stream on every
    * query.
    */
  def ensureUpsertedKnnIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, graphK: Int = 10, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    Assets.ensureParquetAsset(s,
        s"graft_knn_upserted_${graphK}_${targetList}_${nprobe}_" +
          s"${superProbe}_${Assets.tagOf(dir)}",
        new java.io.File(dir, "embeddings.parquet")) {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val g0 = knnGraphIncrementalFp(
          emb.filter(col("vec_id") % 10 =!= 7),
          emb.filter(col("vec_id") % 10 === 7),
          k = graphK, targetList = targetList, nprobe = nprobe,
          superProbe = superProbe)
        .select(col("q_id").as("node"), col("n_id").as("edge_to"))
      symmetrizeEdges(g0, undirected = true)
    }
  }

  /** Build-once RANKED k-NN graph asset — the published (q_id, rnk,
    * n_id, cos_sim) top-k table the takedown/upsert family reads (the
    * "frozen published asset" st54's notices join and s42's compactor
    * repairs). Same fingerprinted lifecycle as [[ensureKnnGraphIndex]]
    * (which stores the degree-k WALK edges instead); recorded in the
    * asset manifest as generation 0.
    */
  def ensureRankedKnnIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 5, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame =
    Assets.ensureParquetAsset(s,
        rankedIndexName(dir, k, targetList, nprobe, superProbe),
        new java.io.File(dir, "embeddings.parquet")) {
      knnGraphScaledFp(s.read.parquet(s"$dir/embeddings.parquet"), k,
        targetList, nprobe, superProbe)
    }

  private def rankedIndexName(dir: String, k: Int, targetList: Int,
      nprobe: Int, superProbe: Int): String =
    s"graft_knn_ranked_${k}_${targetList}_${nprobe}_${superProbe}_${Assets.tagOf(dir)}"

  /** MANIFEST READOUT + serving check for the ranked asset: one row
    * per recorded generation with the manifest's numbers AND the
    * actual stored table's row count (`n_rows_read` — the engine
    * re-reads the parquet the manifest points at), plus the serving
    * flag (highest generation). Hash-green against the oracle's
    * from-scratch replay proves manifest metadata == stored reality ==
    * recomputed truth — the lifecycle invariant a 100 TB operator
    * needs before trusting a compaction generation.
    */
  def rankedAssetManifest(s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 5, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame = {
    import s.implicits._
    val base = rankedIndexName(dir, k, targetList, nprobe, superProbe)
    val gens = Assets.manifest(s, base)
    val serving = gens.lastOption.map(_.generation).getOrElse(-1L)
    gens.map { g =>
      val name = if (g.generation == 0L) base else s"${base}_gen${g.generation}"
      val nRead = s.read.parquet(Assets.assetPath(s, name)).count()
      (s"knn_ranked_${k}_${targetList}_${nprobe}_$superProbe",
        g.generation, g.nRows, g.nTombstones, g.nUpserts,
        g.generation == serving, nRead)
    }.toDF("asset", "generation", "n_rows", "n_tombstones", "n_upserts",
      "serving", "n_rows_read")
  }

  /** READ PATH of the ranked-asset lifecycle — the table the manifest
    * says is SERVING, read back from storage. A deployment's query
    * tier never hardcodes a generation: it asks
    * [[graft.operators.Assets.servingGeneration]] (the highest
    * published one — generation 2 once [[compactUpsertKnnIndex]] has
    * flushed the WAL) and reads THAT parquet. This is the lookup the
    * s50 serving row routes through, so the manifest → stored-table →
    * serving composition is itself oracle-checked.
    */
  def servingRankedKnnIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 5, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame = {
    val base = rankedIndexName(dir, k, targetList, nprobe, superProbe)
    val gen = Assets.servingGeneration(s, base).map(_.generation)
      .getOrElse(0L)
    val name = if (gen == 0L) base else s"${base}_gen$gen"
    s.read.parquet(Assets.assetPath(s, name))
  }

  /** GENERATION-ROUTED SERVING (the s50 row): ensure the WAL flush has
    * published ([[compactUpsertKnnIndex]] — generation 2), ask the
    * manifest which generation serves, read THAT stored table, and
    * beam-walk it for the benchmark queries. The walk's navigation
    * structure is the applied top-k graph made undirected; the scoring
    * corpus is base ∪ arrivals (the gen-2 node set), so arriving
    * vectors are findable the moment the flush lands. Per-query cost
    * is corpus-independent (seed slice + bounded beam rounds); only
    * the ensured flush scales with the corpus, and it is a build-once
    * asset outside the serving loop.
    */
  def generationRoutedServing(s: org.apache.spark.sql.SparkSession,
      dir: String, nOwners: Int = 4, k: Int = 5, beam: Int = 16,
      rounds: Int = 3, seedMod: Int = 64,
      maskIds: Option[DataFrame] = None): DataFrame = {
    // ensure the lifecycle is current WITHOUT re-pricing the flush on
    // every serve: the base ensure is fingerprint-guarded (a corpus
    // change rebuilds it and RESETS the manifest to generation 0), so
    // a manifest already at generation >= 2 means the stored flush
    // was published against this exact corpus — its intent signature
    // was validated when it landed, and the WAL (a deterministic
    // function of the corpus) need not be recomputed per query. Only
    // a fresh/reset manifest pays the flush. `k` names BOTH the asset
    // family and the walk readout, so the guard, the flush, and the
    // walk can never address different generations.
    ensureRankedKnnIndex(s, dir, k)
    val baseName = rankedIndexName(dir, k, 64, 4, 3)
    if (Assets.servingGeneration(s, baseName).forall(_.generation < 2L))
      compactUpsertKnnIndex(s, dir, k = k, nOwners = nOwners) // WAL → gen 2
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val stored = servingRankedKnnIndex(s, dir, k)
      .select(col("q_id").as("node"), col("n_id").as("edge_to"))
    val graph = persist(
      stored.unionByName(stored.select(col("edge_to").as("node"),
          col("node").as("edge_to"))).distinct()) // read once per beam round
    val all = emb
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 100000L).as("vec_id"),
        col("embedding")))
    // s43's takedown contract on the LATEST generation (s51): masked
    // ids cannot seed, hold a beam slot, or be returned — the stored
    // asset is untouched, so takedowns cost zero builds even against
    // the freshly flushed generation
    val scoring = maskIds.fold(all)(m => all.join(
      m.select(m(m.columns.head).cast("long").as("vec_id")),
      Seq("vec_id"), "left_anti"))
    graphBeamSearchOver(graph, scoring,
      emb.filter(col("vec_id") < 5), k = k, beam = beam, rounds = rounds,
      seedMod = seedMod)
  }

  /** Build-once PER-SHARD walk-edge asset — st58/st60's nightly
    * per-shard index job: [[knnEdgesScaled]] over the rendezvous
    * shard `sh` of `nShards`, published under its own manifest. Each
    * asset (and the replica a serving arm collects from it) is
    * O(corpus/nShards).
    */
  def ensureShardKnnIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      nShards: Int, sh: Int, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    Assets.ensureParquetAsset(s,
        shardIndexName(dir, nShards, sh, graphK, targetList, nprobe, superProbe),
        new java.io.File(dir, "embeddings.parquet")) {
      knnEdgesScaled(
        s.read.parquet(s"$dir/embeddings.parquet")
          .filter(Mixture.rendezvousShardCol(
            col("vec_id").cast("long"), nShards) === sh),
        graphK, undirected = true, targetList, nprobe, superProbe)
    }
  }

  private[graft] def shardIndexName(dir: String, nShards: Int, sh: Int,
      graphK: Int, targetList: Int, nprobe: Int, superProbe: Int): String =
    s"graft_knn_shard_${nShards}_${sh}_${graphK}_${targetList}_" +
      s"${nprobe}_${superProbe}_${Assets.tagOf(dir)}"

  /** Build-once PER-OWNER upsert-serving slices — the asset behind the
    * streaming upsert-intent family (st53/st61): each IVF cell's
    * members, probers, their vectors, and the probers' stored top-k
    * admission thresholds, keyed by the cell's rendezvous OWNER among
    * `nOwners` serving workers. Built as ONE distributed job (the
    * two-level routing, the graph-tail threshold aggregate, and two
    * shuffle equi-joins — nothing corpus-sized ever touches the
    * driver), written owner-clustered so a serving worker's read scans
    * only its own O((1+nprobe)·corpus/nOwners) slice. Same
    * fingerprint-guarded lifecycle as [[ensureShardKnnIndex]].
    *
    * Columns: (id, cell, role 'm'|'p'|'v', owner, vec, thr, thr_cnt).
    * Role 'm' rows partition the corpus by assigned cell (the
    * new-arrival candidate pool) and role 'p' rows fan each id to
    * every probed cell (the upsert-notification pool) — both are
    * NARROW (no vector). The vector and the admission threshold (the
    * published graph's 5th-best ROUNDED cosine + row count) ride on
    * ONE role 'v' row per (owner, id): an id's (1+nprobe) cell rows
    * would otherwise each carry a 64-float copy, multiplying the
    * stored asset, the scan, and every serving worker's collected
    * slice ~(1+nprobe)× for no information.
    */
  def ensureUpsertOwnerSlices(s: org.apache.spark.sql.SparkSession,
      dir: String, nOwners: Int, k: Int = 5, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame =
    Assets.ensureParquetAsset(s,
        upsertSliceName(dir, nOwners, k, nprobe, superProbe),
        new java.io.File(dir, "embeddings.parquet")) {
      val base = s.read.parquet(s"$dir/embeddings.parquet")
      val trained = ivfTrainCentroidsFp(base, scaledNlist(base.count()),
        hashSeed = true)
      val (superRows, centRows) = firstNsSuperTable(trained,
        scaledSuperList(trained.length))
      val routedB = twoLevelRouted(base, superRows, centRows, nprobe,
        superProbe, "vec_id", "embedding")
      val probExp = routedB.select(col("id"),
        posexplode(col("probes")("_1")))
      val members = probExp.filter(col("pos") === 0)
        .select(col("id"), col("col").as("cell"), lit("m").as("role"))
      val probers = probExp
        .select(col("id"), col("col").as("cell"), lit("p").as("role"))
      val thr = knnGraphTailFromRouted(routedB, k)
        .groupBy(col("q_id").as("id"))
        .agg(min(col("cos_sim")).as("thr"),
          count(lit(1)).cast("long").as("thr_cnt"))
      val cellRows = members.unionByName(probers)
        .withColumn("owner", Mixture.rendezvousShardCol(col("cell"), nOwners))
      val narrow = cellRows.select(col("id"), col("cell"), col("role"),
        col("owner"), lit(null).cast("array<float>").as("vec"),
        lit(null).cast("double").as("thr"),
        lit(null).cast("long").as("thr_cnt"))
      val vecRows = cellRows.select(col("id"), col("owner")).distinct()
        .join(base.select(col("vec_id").cast("long").as("id"),
          col("embedding").as("vec")), Seq("id"))
        .join(thr, Seq("id"), "left")
        .select(col("id"), lit(-1L).as("cell"), lit("v").as("role"),
          col("owner"), col("vec"), col("thr"), col("thr_cnt"))
      narrow.unionByName(vecRows)
        .repartition(col("owner"))
        .sortWithinPartitions("owner", "cell", "role", "id")
    }

  private[graft] def upsertSliceName(dir: String, nOwners: Int, k: Int,
      nprobe: Int, superProbe: Int): String =
    s"graft_upsert_slices_v2_${nOwners}_${k}_${nprobe}_" +
      s"${superProbe}_${Assets.tagOf(dir)}"

  /** SHARD-FLEET MANIFEST READOUT — [[rankedAssetManifest]]'s audit
    * over the per-shard assets: one row per shard with the manifest's
    * recorded count, the stored table's actual count, and the serving
    * generation. Hash-green against the oracle's per-shard
    * recomputation proves the FLEET's metadata == storage ==
    * recomputed truth — what a 100 TB operator checks before trusting
    * a rollout across serving shards.
    */
  def shardAssetManifest(s: org.apache.spark.sql.SparkSession, dir: String,
      nShards: Int, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3): DataFrame = {
    import s.implicits._
    (0 until nShards).map { sh =>
      ensureShardKnnIndex(s, dir, nShards, sh, graphK, targetList,
        nprobe, superProbe)
      val name = shardIndexName(dir, nShards, sh, graphK, targetList,
        nprobe, superProbe)
      val gens = Assets.manifest(s, name)
      val serving = gens.lastOption.map(_.generation).getOrElse(-1L)
      gens.map { g =>
        val genName =
          if (g.generation == 0L) name else s"${name}_gen${g.generation}"
        val nRead = s.read.parquet(Assets.assetPath(s, genName)).count()
        (s"knn_shard_${nShards}_${graphK}", sh.toLong, g.generation,
          g.nRows, g.generation == serving, nRead)
      }
    }.reduce(_ ++ _)
      .toDF("asset", "shard", "generation", "n_rows", "serving",
        "n_rows_read")
  }

  /** TOMBSTONE COMPACTION of the ranked asset — s42's incremental
    * dataflow ([[knnGraphTombstoneFp]]: frozen quantizer, deleted
    * queries dropped, affected survivors re-ranked, untouched rows
    * verbatim) run as an ASSET-LIFECYCLE step: the repaired graph is
    * published as generation `max+1` next to the base asset and
    * recorded in the manifest with the takedown batch size, so a
    * serving operator can ask [[graft.operators.Assets.servingGeneration]]
    * which table to read. The tombstone dataflow folds the FULL
    * accumulated takedown set against the base asset (not a delta vs
    * the previous compaction), so the compactor always publishes
    * generation 1 — recompaction from base — and is idempotent per
    * (source fingerprint, tombstone set): the generation dir carries
    * the deleted-set signature in its marker and a replayed batch is
    * not rebuilt, while a GROWN batch republishes the generation and
    * its manifest row.
    */
  def compactRankedKnnIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, deletedIds: DataFrame, k: Int = 5, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, sum, coalesce, lit}
    val base = rankedIndexName(dir, k, targetList, nprobe, superProbe)
    ensureRankedKnnIndex(s, dir, k, targetList, nprobe, superProbe)
    val gen = 1L
    val del = deletedIds
      .select(deletedIds(deletedIds.columns.head).cast("long").as("del_id"))
    // order-free exact signature of the takedown batch: count + sum —
    // enough to key idempotence for a replayed batch (a different batch
    // with identical count+sum would still produce a fresh generation
    // number on the next distinct compaction)
    val sig = del.agg(count(lit(1)).cast("long"),
      coalesce(sum(col("del_id")), lit(0L))).head()
    val (nDel, sumDel) = (sig.getLong(0), sig.getLong(1))
    Assets.ensureParquetAsset(s, s"${base}_gen$gen",
        new java.io.File(dir, "embeddings.parquet"),
        extraFp = s"tombstones|$nDel|$sumDel",
        generation = gen, nTombstones = nDel) {
      knnGraphTombstoneFp(s.read.parquet(s"$dir/embeddings.parquet"), del,
        k, targetList, nprobe, superProbe)
    }
  }

  /** UPSERT APPLICATION over the ranked asset — the write half of the
    * s42 lifecycle (the LSM memtable flush): st53's write-ahead intent
    * log folds into the stored generation-0 graph and publishes as
    * generation 2, recorded in the manifest with the intent-batch size
    * (`n_upserts`), idempotent per (source fingerprint, intent-set
    * signature) exactly like [[compactRankedKnnIndex]]'s tombstone
    * generation. The application is pure relational algebra over the
    * STORED rounded readouts:
    *
    *   - arriving ids adopt their `new_topk` rows verbatim (the WAL
    *     already carries the merged global rank),
    *   - base queries holding >= 1 admitted `upsert` candidate re-rank
    *     stored ∪ candidates by (cos_sim DESC, id ASC) and keep top-k
    *     — stored and candidate id spaces are disjoint (+100000), so
    *     no dedup,
    *   - every other base row keeps its stored edges VERBATIM — exact,
    *     because admission emitted every candidate that could enter.
    *
    * This is the serving tier's state BETWEEN nightly rebuilds, not a
    * claim of equality with [[knnGraphIncrementalFp]]'s full merge:
    * the WAL defers exact rounded ties to the batch merger and carries
    * no arriving↔arriving edges (both documented in st53's contract) —
    * the nightly d26 job is what compacts those in. The DuckDB oracle
    * replays the frozen build, every intent, and this application.
    */
  def compactUpsertKnnIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 5, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3, nOwners: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val baseName = rankedIndexName(dir, k, targetList, nprobe, superProbe)
    val base = ensureRankedKnnIndex(s, dir, k, targetList, nprobe,
      superProbe)
    // Published-flush fast path: the WAL is a deterministic function
    // of the corpus, so when generation 2 is already stored against
    // THIS exact source fingerprint (its intent signature was
    // validated when it landed) the flush — and the WAL recompute the
    // signature alone used to cost on every serve — is skipped and the
    // stored generation is read back. A corpus change fails the
    // fingerprint check (and the base rebuild resets the manifest),
    // and a WAL/apply kernel change bumps the `#algo` tag below, so
    // this can never serve a stale flush.
    val upsertAlgoFp = s"upsert-apply-v1|owners=$nOwners"
    if (Assets.freshIgnoringExtra(s, s"${baseName}_gen2",
          new java.io.File(dir, "embeddings.parquet"), upsertAlgoFp) &&
        Assets.manifest(s, baseName).exists(_.generation == 2L))
      return s.read.parquet(Assets.assetPath(s, s"${baseName}_gen2"))
    val intents = persist(
      graft.streaming.Streaming.streamGraphUpsert(s, dir, k, nprobe,
        superProbe, nOwners)) // signature + both apply arms
    // order-free exact signature of the intent batch (the tombstone
    // generation's idempotence convention)
    val sig = intents.agg(count(lit(1)).cast("long"),
      coalesce(sum(col("q_id") + col("n_id")), lit(0L)).cast("long")).head()
    val (nUp, sumUp) = (sig.getLong(0), sig.getLong(1))
    Assets.ensureParquetAsset(s, s"${baseName}_gen2",
        new java.io.File(dir, "embeddings.parquet"),
        extraFp = s"upserts|$nUp|$sumUp",
        generation = 2L, nUpserts = nUp, algoFp = upsertAlgoFp) {
      val ups = intents.filter(col("kind") === "upsert")
        .select(col("q_id"), col("n_id"), col("cos_sim"))
      val newRows = intents.filter(col("kind") === "new_topk")
        .select(col("q_id"), col("rnk").cast("long").as("rnk"),
          col("n_id"), col("cos_sim"))
      val affected = ups.select(col("q_id")).distinct()
      val keep = base.join(affected, Seq("q_id"), "left_anti")
        .select(col("q_id"), col("rnk").cast("long").as("rnk"),
          col("n_id"), col("cos_sim"))
      val rer = base.join(affected, Seq("q_id"), "left_semi")
        .select(col("q_id"), col("n_id"), col("cos_sim"))
        .unionByName(ups)
        .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("n_id").asc)).cast("long"))
        .filter(col("rnk") <= k)
        .select(col("q_id"), col("rnk"), col("n_id"), col("cos_sim"))
      keep.unionByName(rer).unionByName(newRows)
    }
  }

  /** Density clustering of embeddings — DBSCAN generalized from the
    * 2-D euclidean core to n-D cosine space, on the similarity graph:
    * a point is core iff it has >= minPts neighbors at cosine >=
    * minCos (count includes self, like [[graft.core.LocalDBSCAN]]);
    * clusters are connected components of the core-core subgraph
    * ([[ConnectedComponents.assign]] — threshold-gated driver
    * union-find / distributed large-star-small-star rounds, identical
    * min-id labels either way); border points attach to the
    * lowest-labeled adjacent core cluster. Labels are the component's
    * minimum core id (deterministic); noise is -1.
    *
    * Nothing collects to the driver: core-ness is an aggregate, core
    * filtering is semi/anti joins, labeling is joins (AQE broadcasts
    * the small sides at test scale; at corpus scale they shuffle).
    *
    * The neighbor graph defaults to the exact O(n^2) cosine join (the
    * correctness baseline); for big corpora pass `neighborPairs` — an
    * undirected pair list `(id_a, id_b)` such as [[lshNeighborPairs]]
    * emits, already thresholded to `minCos` — and the rest of the
    * pipeline (degree aggregate, CC, border attach) is unchanged.
    * That is the 100 TB path: bucket join to build the graph, no
    * all-pairs product anywhere in the plan.
    */
  def cosineDBSCAN(corpus: DataFrame, minCos: Double, minPts: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      neighborPairs: Option[DataFrame] = None): DataFrame = {
    val nb = neighborPairs match {
      case Some(p) =>
        // symmetrize: each undirected pair becomes two directed edges.
        // explode, not self-union — a union would scan (and recompute)
        // the expensive pair-building plan once per branch.
        p.select(col("id_a").cast("long").as("ia"),
            col("id_b").cast("long").as("ib"))
          .select(explode(array(
            struct(col("ia"), col("ib")),
            struct(col("ib").as("ia"), col("ia").as("ib")))).as("e"))
          .select(col("e.ia").as("ia"), col("e.ib").as("ib"))
      case None =>
        val e = persist(corpus
          .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
          .withColumn("nrm", norm(col("vec"))))
        e.as("a").join(e.as("b"), col("a.id") =!= col("b.id"))
          .withColumn("cos", dot(col("a.vec"), col("b.vec")) / (col("a.nrm") * col("b.nrm")))
          .filter(col("cos") >= minCos)
          .select(col("a.id").as("ia"), col("b.id").as("ib"))
    }
    GraphDBSCAN.labels(corpus.select(col(idCol).cast("long").as(idCol)),
      nb, minPts, idCol)
  }

  /** Bucketed approximate neighbor pairs: vectors sharing an LSH bucket,
    * exact-verified to `minCosine`. Shuffles by bucket key only.
    */
  def lshNeighborPairs(corpus: DataFrame, minCosine: Double, nPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      hyperplaneBucket(col(vecCol), nPlanes).as("bucket"))
    b.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id"))
      .withColumn("cos", cosine(col("x.vec"), col("y.vec")))
      .filter(col("cos") >= minCosine)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Banded multi-signature LSH neighbor pairs — the tunable-recall scale
    * path. The single-signature form ([[lshNeighborPairs]]) couples
    * precision and recall to one knob: more planes means smaller buckets
    * but lost recall, so bucket count is effectively capped (2^8 = 256
    * at the default) and the per-bucket self-join is O((n/256)^2) —
    * quadratic again at corpus scale. Banding decouples the two: `bands`
    * independent signatures of `planesPerBand` planes each; a pair is a
    * candidate iff ANY band agrees. Raise `planesPerBand` for small
    * buckets (2^16 per band at the default — bucket population scales
    * down with corpus growth), raise `bands` to buy recall back.
    *
    * All bands pack into ONE long signature (plane t*r+j is band t's bit
    * j), computed in a single vector pass by [[hyperplaneBucket]];
    * per-band buckets are shift/mask extractions. Candidate pairs dedup
    * WITHOUT a `distinct` (no extra shuffle): a pair is emitted only from
    * the FIRST band where the signatures agree — a pure bit filter over
    * the two packed longs, unrolled per band into codegen-native
    * shift/xor/compare conditions.
    */
  def bandedLshNeighborPairs(corpus: DataFrame, minCosine: Double,
      bands: Int = 4, planesPerBand: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1 && bands * planesPerBand <= 64,
      s"packed signature must fit one long: bands=$bands * planesPerBand=$planesPerBand")
    val r = planesPerBand
    val mask = if (r == 64) -1L else (1L << r) - 1L
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"),
      hyperplaneBucket(col(vecCol), bands * r).as("sig"))
    val withBand = base
      .select(col("id"), col("vec"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bucket", expr(s"shiftright(sig, band * $r)").bitwiseAND(lit(mask)))
    val xorSig = col("x.sig").bitwiseXOR(col("y.sig"))
    // first-agreeing-band predicate: joined on band t, keep the row only
    // if every band t' < t disagrees (nonzero xor in its r-bit block)
    val firstAgree = (0 until bands).map { t =>
      (0 until t).foldLeft(col("x.band") === lit(t)) { (acc, tp) =>
        acc && (shiftright(xorSig, tp * r).bitwiseAND(lit(mask)) =!= lit(0L))
      }
    }.reduce(_ || _)
    withBand.as("x").join(withBand.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .filter(firstAgree)
      .withColumn("cos", cosine(col("x.vec"), col("y.vec")))
      .filter(col("cos") >= minCosine)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Sign-bit binary signature of an embedding: bit d set iff
    * component d is strictly positive, packed into one long (dims past
    * 64 ignored). 1 bit per dimension — a 32x narrower representation
    * than float32 whose Hamming distance tracks angular distance.
    * Codegen-native ([[graft.functions.SignPackExpr]]).
    */
  def signPack(vec: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.SignPackExpr(Bridge.expression(vec)))
  }

  /** The exact stage of the two-stage ANN family: the (tiny) top-cand
    * candidates (q_id, q_vec, n_id, ...) broadcast into an equi-join on
    * n_id that fetches only their full vectors from `full` (n_id, n_vec),
    * then rank by exact cosine.
    */
  private def rerankCos(full: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    keepTop(full.join(broadcast(candidates), "n_id")
      .withColumn("cos", cosine(col("q_vec"), col("n_vec"))), k, col("cos").desc)

  /** Binary-quantization ANN with exact rerank — the third compressed
    * ANN family beside PQ/ADC and IVF ([[annTopK]]), and
    * the cheapest candidate generator of the three: the corpus is
    * represented as ONE long per vector ([[signPack]]), so the
    * candidate stage scans 8 bytes/row instead of 256 (float32 d=64)
    * and scores each row with a single xor+popcount against the
    * broadcast query signatures. The top `cand` candidates per query by
    * (Hamming, id) are then exact-reranked: a broadcast semi-join pulls
    * only those `|Q| * cand` full vectors for the true-cosine top-k.
    *
    * Scale shape: candidate scan is narrow + codegen (bit_count over a
    * bitwiseXOR); the per-query top-cand row_number is pushed to a
    * per-partition partial by Spark's WindowGroupLimit, so no partition
    * ever materializes the full |Q| x corpus score list; the rerank
    * join broadcasts the tiny candidate set against the (pruned) full
    * scan. At 100 TB the signature column is the thing you persist
    * beside the embeddings (d09/s13's build-once asset contract applies
    * verbatim — 8 bytes/vector, 1/32 of the raw embedding bytes).
    */
  def binaryRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cand: Int = 40, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cand >= k, s"need cand >= k >= 1, got k=$k cand=$cand")
    val sigs = corpus.select(col(idCol).as("n_id"), signPack(col(vecCol)).as("n_sig"))
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      signPack(col(vecCol)).as("q_sig")))
    val candidates = keepTop(sigs.join(q, col("n_id") =!= col("q_id"))
        .withColumn("hamming", bit_count(col("n_sig").bitwiseXOR(col("q_sig"))).cast("long")),
        cand, col("hamming").asc, "crnk")
      .select(col("q_id"), col("q_vec"), col("n_id"), col("hamming"))
    rerankCos(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), candidates, k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("hamming"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Scalar-quantization (int8) ANN with exact rerank — the fourth
    * compressed ANN family beside PQ and IVF ([[annTopK]])
    * and sign-bit ([[binaryRerankTopK]]), sitting between binary and
    * PQ on the fidelity/size curve: [[int8Quantize]]'s per-vector
    * symmetric codes are 1 byte/dim (4x narrower than float32), and
    * the candidate score is the INTEGER dot product of two code
    * arrays — exact, order-independent arithmetic, so candidate
    * selection is a deterministic (idot, id) ordering the oracle
    * replays bit-for-bit (the float ANN stages can only be replayed
    * because their expression trees match; integer scores remove even
    * that caveat). Per-vector scales cancel out of the RANKING for a
    * fixed query (score = idot · qscale · nscale with nscale varying —
    * idot alone is the rank proxy; the exact rerank absorbs the
    * residual misordering, measured in AnnRecallSpec).
    *
    * Scale shape: identical to [[binaryRerankTopK]] — narrow
    * codes-column candidate scan, WindowGroupLimit keeps the per-query
    * top-cand partial, broadcast-candidate equi-join fetches only
    * |Q|·cand full vectors for the true-cosine top-k. At 100 TB the
    * codes column is the persisted build-once asset (1/4 of the raw
    * embedding bytes, SIMD-friendly integer products).
    */
  def sq8RerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cand: Int = 40, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cand >= k, s"need cand >= k >= 1, got k=$k cand=$cand")
    val candidates = keepTop(int8Pairs(corpus, queries, idCol, vecCol),
        cand, col("idot").desc, "crnk")
      .select(col("q_id"), col("q_vec"), col("n_id"), col("idot"))
    rerankCos(corpus.select(col(idCol).cast("long").as("n_id"), col(vecCol).as("n_vec")),
        candidates, k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("idot"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** The int8 candidate scan of [[sq8RerankTopK]] and [[mipsTopK]]:
    * every (query, corpus) pair with the INTEGER dot product idot of
    * their symmetric int8 codes (per vector scale = max|x| / 127,
    * code_i = floor(x_i/scale + 0.5), all-zero for a zero vector) and
    * the corpus vector's scale n_scale; the queries broadcast with their
    * raw vectors q_vec for the rerank.
    */
  private def int8Pairs(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    def codes(df: DataFrame, side: String): DataFrame = {
      val v = transform(col(vecCol), x => x.cast("double"))
      val scale = array_max(transform(v, x => abs(x))) / 127.0
      val cs = when(scale === 0, transform(v, _ => lit(0L)))
        .otherwise(transform(v, x => floor(x / scale + 0.5).cast("long")))
      df.select(col(idCol).cast("long").as(s"${side}_id"), cs.as(s"${side}_codes"),
        scale.as(s"${side}_scale"))
    }
    val q = broadcast(codes(queries, "q")
      .join(queries.select(col(idCol).cast("long").as("q_id"),
        col(vecCol).as("q_vec")), "q_id"))
    codes(corpus, "n").join(q, col("n_id") =!= col("q_id"))
      .withColumn("idot", aggregate(
        zip_with(col("q_codes"), col("n_codes"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
  }

  /** MIPS — maximum inner product search (the recommendation-retrieval
    * metric: score = raw q·v, NOT cosine — unnormalized corpora rank
    * differently under the two, which is exactly why MIPS exists as
    * its own problem). Same two-stage shape as [[sq8RerankTopK]]:
    * int8-code INTEGER dot products drive the candidate stage, but —
    * unlike the cosine reranks, where per-vector scales cancel — the
    * candidate ORDER here must dequantize by the corpus vector's own
    * scale: the raw code dot ranks by q·v / max|v|, a cosine-like
    * score that systematically penalizes exactly the high-norm vectors
    * MIPS should favor. So candidates rank by idot × n_scale (the
    * query's scale is constant within a query partition and cannot
    * change the order — one exact long×double multiply, engine-
    * portable). WindowGroupLimit keeps both rank stages partial, and
    * the exact rerank re-scores the `cand` survivors by the full-
    * precision dot product via the codegen
    * [[graft.functions.DotProduct]] kernel. At corpus scale the
    * candidate stage reads 1 byte/dim + one double; only cand
    * rows/query fetch the full vector.
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      cand: Int = 40, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cand >= k, s"need cand >= k >= 1, got k=$k cand=$cand")
    val candidates = keepTop(int8Pairs(corpus, queries, idCol, vecCol)
        .withColumn("sdot", col("idot").cast("double") * col("n_scale")),
        cand, col("sdot").desc, "crnk")
      .select(col("q_id"), col("q_vec"), col("n_id"), col("idot"))
    val full = corpus.select(col(idCol).cast("long").as("n_id"),
      col(vecCol).as("n_vec"))
    keepTop(full.join(broadcast(candidates), "n_id")
        .withColumn("ip", dot(col("q_vec"), col("n_vec"))), k, col("ip").desc)
      .select(col("q_id"), col("n_id"), col("rnk"), col("idot"),
        round(col("ip"), 6).as("ip"))
  }

  /** Matryoshka/prefix-dimension two-stage ANN: coarse-score on the
    * FIRST `prefixDims` components only (matryoshka-trained embeddings
    * order information by prefix, so a short prefix is itself a valid
    * low-rank embedding), keep the top `cand` per query, exact-rerank
    * on the full vector. The coarse pass reads prefixDims/d of the
    * embedding bytes (d=64, prefix=16: a 4x narrower scan — persist
    * the prefix as its own column at corpus scale and the scan prunes
    * to it); everything downstream is [[binaryRerankTopK]]'s rerank
    * shape: WindowGroupLimit keeps the candidate rank partial, the
    * full-vector fetch is a broadcast-candidate equi-join.
    */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDims: Int = 16, cand: Int = 40,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cand >= k && prefixDims >= 1,
      s"need cand >= k >= 1 and prefixDims >= 1, got k=$k cand=$cand prefixDims=$prefixDims")
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      slice(col(vecCol), 1, prefixDims).as("q_pre")))
    val pre = corpus.select(col(idCol).as("n_id"),
      slice(col(vecCol), 1, prefixDims).as("n_pre"))
    val candidates = keepTop(pre.join(q, col("n_id") =!= col("q_id"))
        .withColumn("pre_cos", cosine(col("q_pre"), col("n_pre"))),
        cand, col("pre_cos").desc, "crnk")
      .select(col("q_id"), col("q_vec"), col("n_id"), col("pre_cos"))
    rerankCos(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), candidates, k)
      .select(col("q_id"), col("n_id"), col("rnk"),
        round(col("pre_cos"), 6).as("pre_cos"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Johnson–Lindenstrauss random projection of an embedding column —
    * the dimensionality reduction the quantization family (int8 /
    * sign-bit / PQ / matryoshka prefix) does not cover: a DATA-
    * INDEPENDENT dense projection that preserves pairwise Euclidean
    * geometry for ANY embedding model (matryoshka prefixes only work
    * when the model was trained for them). The projection matrix is
    * Achlioptas's ±1 sign matrix (Achlioptas 2003: random signs
    * satisfy the JL lemma with the same constants as Gaussians),
    * derived from the Knuth-mix hash family the board's other
    * deterministic matrices use — no matrix is stored or shuffled;
    * every engine regenerates entry (i,j) from its indices.
    *
    * Exactness: inputs quantize to integers (floor(x·2^20)) so the
    * projected vector is a SUM OF INTEGERS — commutative, overflow-
    * safe (|y_j| <= 64·2^20 ≈ 2^26), bit-replayable in SQL. For unit-
    * ish vectors E[Σ_j (y_u[j]-y_v[j])²] = r·Σ_i (x_u[i]-x_v[i])²·2^40,
    * so projected integer L2 ranks like true L2 (JlProjectionSpec holds
    * the concentration and recall floors).
    */
  def jlProject(vec: Column, dims: Int, targetDims: Int): Column = {
    // sign = bit 7 of a two-round xorshift-multiply mix. One Knuth
    // multiply is NOT enough here: its low bit is the parity of k (for
    // even targetDims that collapses every matrix row to ±colsum), and
    // any single bit of k·A is a structured Weyl sequence over
    // consecutive k (measured: only 45% of pair distortions within
    // ±50% at r=16). The xorshift round avalanches: 87% within ±50%,
    // std 0.34 = the χ²₁₆ theory value (JlProjectionSpec holds both).
    // Evaluation is the codegen kernel (one primitive loop in
    // whole-stage codegen); the interpreted higher-order-function
    // formulation it replaced walked dims × targetDims lambda trees
    // per row and dominated s33's runtime (JlProfile: 6.6-7.3 s of
    // the 7.4-9.7 s total at sf0.1).
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.JlProject(
      Bridge.expression(vec), dims, targetDims))
  }

  /** Two-stage ANN with the JL projection as the coarse scorer —
    * [[matryoshkaTopK]]'s dataflow with projected integer L2 replacing
    * the prefix cosine: ONE map-only scan projects the corpus 64→16
    * (4× narrower coarse bytes, and integer arithmetic — no sqrt, no
    * division), candidates rank by exact-integer projected distance
    * (ascending, ties → lower id: a deterministic, engine-portable
    * coarse order), and the top `cand` per query rerank by exact
    * full-dim cosine. At 100 TB the projected column is the thing a
    * vector store materializes next to the raw embedding; the coarse
    * scan reads only it.
    */
  def jlTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Int = 64, targetDims: Int = 16, cand: Int = 40,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && cand >= k && targetDims >= 1,
      s"need cand >= k >= 1 and targetDims >= 1, got k=$k cand=$cand targetDims=$targetDims")
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      jlProject(col(vecCol), dims, targetDims).as("q_jl")))
    val pre = corpus.select(col(idCol).as("n_id"),
      jlProject(col(vecCol), dims, targetDims).as("n_jl"))
    val candidates = keepTop(pre.join(q, col("n_id") =!= col("q_id"))
        .withColumn("pre_d2",
          aggregate(zip_with(col("q_jl"), col("n_jl"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, v) => acc + v)),
        cand, col("pre_d2").asc, "crnk")
      .select(col("q_id"), col("q_vec"), col("n_id"), col("pre_d2"))
    rerankCos(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec")), candidates, k)
      .select(col("q_id"), col("n_id"), col("rnk"), col("pre_d2"),
        round(col("cos"), 6).as("cos_sim"))
  }
}
