package graft.operators

import graft.operators.CacheScope.persist
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DBSCAN on an explicit neighbor graph — the n-D distributed
  * formulation. The 2-D spatial pipeline ([[DistributedDBSCAN]])
  * space-partitions and runs the local core per partition (the
  * reference's architecture, reference: DBSCAN.scala:80-242); in n-D
  * cosine or euclidean space the Spark-first shape is instead: build
  * eps-neighbor EDGES with a bucket equi-join (LSH buckets for cosine,
  * projection grid cells for euclidean), then label with joins and
  * aggregates — core-ness is a degree aggregate, clusters are connected
  * components of the core-core subgraph, border points attach to the
  * lowest-labeled adjacent core cluster. Nothing collects to the driver
  * ([[ConnectedComponents.assign]] gates driver union-find vs
  * distributed large-star/small-star by edge count).
  *
  * [[graft.core.LocalDBSCANND]] is the same algorithm run single-task;
  * GraphDBSCANSpec asserts the two agree (same core set, same noise
  * set, same core partition) on random n-D data.
  */
object GraphDBSCAN {

  /** DBSCAN labels over a directed neighbor graph.
    *
    * @param ids one row per point, a single long column named `idCol`
    * @param nb  directed neighbor edges (`ia`, `ib`), both directions
    *            present for every neighbor pair, no self-loops; must
    *            already be thresholded (cos >= minCos / dist <= eps)
    * @return (`idCol`, cluster_rep, flag) — cluster_rep is the
    *         component's minimum core id (deterministic), noise = -1
    */
  def labels(ids: DataFrame, nb0: DataFrame, minPts: Int,
      idCol: String = "vec_id"): DataFrame = {
    val nb = persist(nb0)
    val core = persist(nb.groupBy(col("ia")).count()
      .filter(col("count") + 1 >= minPts) // neighbor count includes self
      .select(col("ia").as("id")))
    val coreEdges = nb
      .join(core.select(col("id").as("ia")), "ia", "left_semi")
      .join(core.select(col("id").as("ib")), "ib", "left_semi")
    val coreLab = ConnectedComponents.assign(coreEdges, core)
      .select(col("id"), col("component").as("core_rep"))
    val borderLab = nb
      .join(core.select(col("id").as("ia")), "ia", "left_anti") // non-core left side
      .join(coreLab.select(col("id").as("ib"), col("core_rep").as("rep")), "ib")
      .groupBy(col("ia").as("id"))
      .agg(min(col("rep")).as("border_rep"))
    ids
      .join(coreLab, col(idCol) === coreLab("id"), "left")
      .drop(coreLab("id"))
      .join(borderLab, col(idCol) === borderLab("id"), "left")
      .drop(borderLab("id"))
      .select(col(idCol),
        coalesce(col("core_rep"), col("border_rep"), lit(-1L)).as("cluster_rep"),
        when(col("core_rep").isNotNull, "core")
          .when(col("border_rep").isNotNull, "border")
          .otherwise("noise").as("flag"))
  }

  /** Squared euclidean distance of two array columns — codegen'd
    * sequential fold ([[graft.functions.ArrayDistSq]]).
    */
  def distSq(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.ArrayDistSq(Bridge.expression(a), Bridge.expression(b)))
  }

  /** Distributed euclidean DBSCAN over n-D vector points.
    *
    * The neighbor join is grid-bucketed on the first `gridDims`
    * coordinates: cells of side `eps`, one side exploded into its
    * 3^gridDims neighborhood, hash equi-join on the cell key, exact
    * full-dimension distance check on the survivors — the same
    * cell trick as the 2-D eps-join ([[SpatialJoin]]) and the n-D
    * local core's index ([[graft.core.LocalDBSCANND]]). Correct for
    * any dimension count (full-space distance bounds projected
    * distance); shuffles by cell key only, never all-pairs. Both
    * directions of each pair emerge naturally (each point's explosion
    * meets the other's home cell), giving exactly the directed graph
    * [[labels]] wants.
    */
  def euclidean(points: DataFrame, eps: Double, minPts: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      gridDims: Int = 2): DataFrame = {
    val base = points.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    def cellAt(d: Int, c: Column = col("vec")): Column =
      floor(element_at(c, d + 1) / eps).cast("long")
    val cellCols = (0 until gridDims).map(d => cellAt(d).as(s"c$d"))
    val home = base.select(col("id") +: col("vec") +: cellCols: _*)
    // explode one side into its 3^gridDims cell neighborhood
    val offsets = (0 until gridDims).foldLeft(Seq(Seq.empty[Int])) {
      (acc, _) => acc.flatMap(o => Seq(-1, 0, 1).map(o :+ _))
    }
    val offsetStructs = offsets.map(o => struct(o.zipWithIndex.map {
      case (v, d) => lit(v).as(s"o$d")
    }: _*))
    val probe = base
      .select(col("id"), col("vec"), explode(array(offsetStructs: _*)).as("off"))
      .select(col("id") +: col("vec") +: (0 until gridDims).map(d =>
        (cellAt(d) + col(s"off.o$d")).as(s"c$d")): _*)
    val cellKeys = (0 until gridDims).map(d => s"c$d")
    val nb = probe.as("a").join(home.as("b"),
        cellKeys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.id") =!= col("b.id") &&
          distSq(col("a.vec"), col("b.vec")) <= lit(eps * eps))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
    labels(base.select(col("id").as(idCol)), nb, minPts, idCol)
  }
}
