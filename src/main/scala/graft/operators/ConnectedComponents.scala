package graft.operators

import graft.operators.CacheScope.checkpoint
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge DataFrame.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) expressed
  * as DataFrame aggregates + joins:
  *
  *   - large-star: every node connects each strictly-larger neighbor to
  *     the minimum of its neighborhood (including itself);
  *   - small-star: every node connects its smaller neighbors (and
  *     itself) to the minimum smaller neighbor.
  *
  * The alternation converges in O(log^2 n) rounds (in practice a few
  * rounds past the component diameter's log) to a star forest whose
  * roots are the per-component minimum ids — the same canonical label
  * the driver-side [[graft.core.UnionFind]] produces, so the two paths
  * are interchangeable and oracle results do not depend on which ran.
  *
  * Scale design: each round is two groupBy-min aggregates and two
  * equi-joins on the edge set — all shuffle-shaped, nothing ever
  * collects to the driver. Lineage is cut every round with
  * [[CacheScope.checkpoint]] so the logical plan stays O(1) across
  * iterations instead of nesting 20 self-joins deep; the session's
  * `CacheScope.releaseSession` frees every round's blocks. Round width
  * is the session's: AQE coalesces the small rounds' shuffles.
  *
  * [[assign]] is the threshold-gated entry point: small graphs (the
  * common case for near-dup verdicts at test scale — and the DBSCAN
  * cluster-alias graph, reference DBSCAN.scala:148-150) take the
  * driver union-find; anything bigger than `driverMaxEdges` runs the
  * distributed rounds. A 100 TB crawl's duplicate-pair graph is
  * O(corpus) and MUST take the distributed path — the driver path would
  * OOM collecting billions of pairs.
  */
object ConnectedComponents {

  /** Above this many candidate edges the driver union-find is replaced
    * by distributed large-star/small-star rounds. 2M edges = 32 MB of
    * longs on the driver — comfortably collectable; the default only
    * exists so callers can force either path.
    */
  val DefaultDriverMax: Long = 2L * 1000 * 1000

  private val MaxRounds = 100 // star rounds converge in O(log^2 n)

  /** Canonical undirected edge set, oriented (u > v), self-loops and
    * duplicates dropped. Input: first two columns are integral node ids.
    */
  private def canon(edges: DataFrame): DataFrame = {
    val Array(a, b) = edges.columns.take(2)
    edges.select(
        greatest(col(a).cast("long"), col(b).cast("long")).as("u"),
        least(col(a).cast("long"), col(b).cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Large-star round: connect every strictly-larger neighbor of each
    * node to the min of its closed neighborhood. Output stays (u > v)
    * oriented because v > u >= m.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u")
      .agg(F.min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // no mid-round distinct: [[smallStar]]'s min-aggregate absorbs
    // duplicates and its final distinct dedups the round's output; the
    // extra exchange measured flat-to-slower at local[8] and local[32]
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
  }

  /** Small-star round over (u > v)-oriented edges: connect each node's
    * smaller neighbors (and the node) to its minimum smaller neighbor.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(F.min("v").as("m"))
    e.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Star-forest edges (node -> component-min root) for the undirected
    * graph given by the first two (integral) columns of `edges`.
    * Root nodes themselves do not appear on the left side;
    * [[forestMap]] adds them.
    */
  private def starEdges(edges: DataFrame): DataFrame = {
    // lazy cuts: the checksum aggregate is the action that materializes
    // each one, so a round costs ONE job (checkpoint write + checksum
    // together)
    var e = checkpoint(canon(edges))
    var checksum = checksumOf(e)
    var converged = false
    var it = 0
    while (!converged && it < MaxRounds) {
      val next = checkpoint(smallStar(largeStar(e)))
      val nextSum = checksumOf(next)
      converged = nextSum == checksum
      checksum = nextSum
      e = next
      it += 1
    }
    require(converged, s"connected components did not converge in $MaxRounds rounds")
    e
  }

  /** (row count, order-independent content hash) — two identical edge
    * sets in consecutive rounds mean the star forest is stable.
    */
  private def checksumOf(e: DataFrame): (Long, String) = {
    // decimal(38,0) sum: a plain long sum of 64-bit hashes overflows
    // (ANSI arithmetic)
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
    (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toString)
  }

  /** Star forest as `(id, component)`: non-roots appear as u, roots only as v. */
  private def forestMap(edges: DataFrame): DataFrame = {
    val star = starEdges(edges)
    star.select(col("u").as("id"), col("v").as("component"))
      .union(star.select(col("v"), col("v")).distinct()
        .toDF("id", "component"))
  }

  /** Component assignment `(id, component)` for every node incident to
    * an edge: component = minimum reachable id (roots map to
    * themselves). Threshold-gated: graphs with at most `driverMaxEdges`
    * edges run the exact same union-find the oracle-scale tests always
    * ran; larger graphs run the distributed rounds. Both label
    * components by their minimum id, so the output is identical either
    * way.
    */
  def componentMap(edges: DataFrame,
      driverMaxEdges: Long = DefaultDriverMax): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val e = canon(edges)
    if (driverMaxEdges <= 0L) {
      // forced-distributed caller (q51/q74/s32's convention): the gate
      // probe below would partially execute the edge pipeline — often
      // the query's most expensive stage (q74's levenshtein self-join)
      // — just to learn what the caller already declared. Skip it.
      return forestMap(e)
    }
    // Gate WITHOUT a dedicated count job: collect at most
    // driverMaxEdges + 1 canonical edges in one bounded pass
    // (CollectLimitExec evaluates partitions incrementally). If the
    // probe came back under the threshold it IS the whole edge set —
    // feed the union-find directly, zero extra pipeline executions
    // (the r2 persist+count gate re-materialized the full upstream
    // LSH candidate pipeline and cost d08 +76%).
    val lim = (math.min(driverMaxEdges, Int.MaxValue - 8L) + 1L).toInt
    val probe = e.limit(lim).collect()
    if (probe.length < lim) {
      val uf = new graft.core.UnionFind[Long]
      probe.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      val m = uf.elements.toSeq.groupBy(uf.find).iterator.flatMap {
        case (_, members) =>
          val root = members.min
          members.map(m => (m, root))
      }.toSeq
      m.toDF("id", "component")
    } else {
      // big graph: one extra full pass to seed the distributed rounds
      // (starEdges cuts its input with a checkpoint, so nothing upstream
      // is re-read after the first round)
      forestMap(e)
    }
  }

  /** Total component assignment over an explicit node set (first column,
    * integral): nodes isolated from every edge map to themselves.
    */
  def assign(edges: DataFrame, nodes: DataFrame,
      driverMaxEdges: Long = DefaultDriverMax): DataFrame = {
    val mapping = componentMap(edges, driverMaxEdges)
    val idCol = nodes.columns.head
    nodes.select(col(idCol).cast("long").as("id")).distinct()
      .join(mapping.withColumnRenamed("id", "mid"), col("id") === col("mid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }
}
