package graft.operators

import graft.operators.CacheScope.{checkpoint, persist}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation: source/domain authority
  * scoring (the classic web-scale quality prior — a page linked from
  * high-authority pages is itself likely high-quality training data).
  *
  * The rank arithmetic is FIXED-POINT INTEGER end to end: ranks are
  * bigints in units of 1/`scaleFp`, every per-edge contribution is an
  * exact integer division, and each iteration's sum is a sum of
  * integers — exact under ANY aggregation order, so a batch SQL engine
  * replays the whole power iteration bit-for-bit (floating-point
  * PageRank sums differ in the last ULP across engines because the
  * reduction order differs; after a few iterations that leaks into
  * rounded output).
  *
  * Scale shape: each iteration is one equi-join (ranks to edges on
  * src) + one partial-aggregatable sum keyed by dst — the natural
  * shuffle key of the graph. Out-degrees are joined once, outside the
  * loop. Iterations chain with no driver-side data; each iteration's
  * table is cut through [[CacheScope.checkpoint]], exactly as
  * [[ConnectedComponents]] cuts its star rounds, so the plan stays
  * O(1) in the round count and `CacheScope.releaseSession` frees every
  * round's blocks.
  */
object Graph {

  /** Deterministic synthetic link graph over a node id column: node v
    * emits `fanout` edges whose destinations are a Knuth-multiplicative
    * hash of (v, j) folded into [0, nNodes) — the stand-in for a real
    * crawl's link table, replayable by the oracle engine.
    */
  def syntheticLinks(nodes: DataFrame, idCol: String, nNodes: Long,
      fanout: Int = 3): DataFrame =
    nodes.select(col(idCol).cast("long").as("src"),
        explode(sequence(lit(1L), lit(fanout.toLong))).as("j"))
      .select(col("src"),
        ((col("src") + col("j")) * lit(2654435761L) % lit(1000003L) % lit(nNodes))
          .as("dst"))

  /** Fixed-point PageRank with damping `dampNum/dampDen` for `iters`
    * power iterations. `nodes` must have a unique long `id` column;
    * `edges` (src, dst) may contain parallel edges (each counts).
    * Nodes with no out-edges contribute nothing (standard
    * dangling-mass drop); nodes with no in-edges settle at the base
    * rank. Returns (id, rank_fp) with rank_fp in units of 1/scaleFp.
    */
  def pageRankFixedPoint(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
      scaleFp: Long = 1000000000000L, dampNum: Long = 85,
      dampDen: Long = 100): DataFrame = {
    require(iters >= 1 && dampNum > 0 && dampDen > dampNum,
      s"need iters>=1 and 0 < dampNum < dampDen; got $iters, $dampNum/$dampDen")
    // Persisted: every iteration is cut, so each one plans and runs
    // apart and joins back to the node set — without the cache the node
    // derivation (t35's tokenize/explode/distinct) would rerun per
    // iteration instead of once
    val ns = persist(nodes)
    val n = ns.count()
    if (n == 0) return ns.select(col("id"), lit(0L).as("rank_fp"))
    val base = scaleFp * (dampDen - dampNum) / dampDen / n
    // Parallel edges collapse to ONE weighted row per (src, dst):
    // w parallel copies each contribute (r div deg), so the summed
    // contribution is exactly w * (r div deg) — bit-identical, but the
    // per-iteration join input shrinks from |edges| to |distinct
    // pairs| (TextRank co-occurrence graphs repeat pairs heavily).
    // Persisted: the edge derivation upstream (tokenize/explode/hash
    // for t35, the synthetic expansion for t21) would otherwise be
    // recomputed by every one of the `iters` chained iterations.
    val ew = edges.groupBy("src", "dst").agg(count(lit(1)).as("w"))
    val outDeg = ew.groupBy("src").agg(sum(col("w")).as("deg"))
    val e = persist(ew.join(outDeg, "src"))
    var r = ns.select(col("id"), lit(scaleFp / n).as("r"))
    for (_ <- 1 to iters) {
      val in = e.join(r, e("src") === r("id"))
        .select(col("dst"), expr("w * (r div deg)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      r = checkpoint(ns.join(in, ns("id") === in("dst"), "left")
        .select(ns("id"),
          (lit(base) + expr(s"($dampNum * coalesce(s, cast(0 as bigint))) div $dampDen"))
            .as("r")))
    }
    r.select(col("id"), col("r").as("rank_fp"))
  }

  /** Synchronous label propagation (Raghavan et al. 2007) with a
    * deterministic tie-break (highest neighbor-label count, then
    * smallest label). Labels seed with the node id; isolated nodes
    * keep their own. `sym` must be the SYMMETRIZED edge list (u, v);
    * `nodes` a single `id` column. Each round is one equi-join of the
    * label table to the edges + two partial-aggregatable hash
    * aggregates — the (node, label) count, then the
    * max(struct(cnt, -label)) argmax; never a window over nodes — and
    * a left join back to the node set. Each round's label table is
    * cut through [[CacheScope.checkpoint]], so the plan stays O(1) in
    * `rounds` and `CacheScope.releaseSession` frees every round.
    * Synchronous + exact tie-break = bit-replayable: the SQL oracle
    * unrolls the rounds as layered CTEs. Returns (id, lbl).
    */
  def labelPropagation(nodes: DataFrame, sym: DataFrame, rounds: Int): DataFrame = {
    var labels = nodes.select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to rounds) {
      val adopted = sym
        .join(labels.select(col("id").as("v"), col("lbl")), "v")
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("u").as("id"), (-col("m")("neg")).as("new_lbl"))
      labels = checkpoint(nodes.join(adopted, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("new_lbl"), col("id")).as("lbl")))
    }
    labels
  }
}
