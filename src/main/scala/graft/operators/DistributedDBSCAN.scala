package graft.operators

import graft.core._
import graft.operators.CacheScope.persist
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rows shuffled to their spatial partition (duplicated into the eps
  * overlap zone of neighboring partitions).
  */
final case class Assigned(pid: Int, x: Double, y: Double)

/** Output of per-partition local clustering; `cluster` is partition-local. */
final case class Clustered(pid: Int, x: Double, y: Double, cluster: Int, flag: String)

/** A sighting of a margin-band point, keyed by the band-owning partition. */
final case class MergeCand(target: Int, src: Int, x: Double, y: Double, cluster: Int, flag: String)

/** Spatial partition with its eps margins: inner = main shrunk by eps
  * (exclusively-owned zone), outer = main grown by eps (overlap zone).
  */
final case class Margin(inner: Rect, main: Rect, outer: Rect)

final case class DBSCANModel(
    eps: Double,
    minPoints: Int,
    maxPointsPerPartition: Long,
    partitions: Seq[(Int, Rect)],
    labeled: DataFrame)

/** Distributed DBSCAN, Spark-first.
  *
  * Same macro-architecture as the reference (reference: DBSCAN.scala
  * :80-242 — grid histogram -> driver space plan -> duplicate/cluster ->
  * merge/relabel) but expressed as DataFrame/Dataset transformations over
  * immutable rows, with these scale-motivated deviations:
  *
  *   - Point->partition routing uses a broadcast STR R-tree
  *     ([[graft.core.BoxIndex]]) instead of a per-point linear scan of
  *     the margin list (reference: DBSCAN.scala:108-112): O(log P) per
  *     point, which matters when P ~ N/maxPointsPerPartition is large.
  *   - Cluster-alias detection is a relational equi self-join on point
  *     value (reference folds per group: DBSCAN.scala:266-291), so it
  *     shuffles only the eps-band rows and stays in codegen.
  *   - Cross-partition label merge is a commutative arg-max aggregate
  *     (prefer non-noise, then core over border, then lowest global id)
  *     instead of mutate-last-wins (reference: DBSCAN.scala:205-227) —
  *     deterministic under Spark task retries.
  *   - Aliases merge through the gated [[ConnectedComponents.assign]];
  *     global ids are the dense rank of each component's minimum
  *     `(pid, cluster)` (reference folds over arbitrary collect order:
  *     DBSCAN.scala:162-183), so numbering is reproducible.
  *   - Both reused branches are persisted (the reference recomputes the
  *     merge-candidate lineage at sink time — it only caches `clustered`,
  *     DBSCAN.scala:122).
  *   - Border semantics are the standard (Archery-style) border
  *     re-claim: its noise set is visit-order independent, which the
  *     sorted-group determinism above relies on. The reference's
  *     distributed path uses Naive semantics (no re-claim, reference:
  *     LocalDBSCANNaive.scala:105-108 dead check); `LocalDBSCAN` with
  *     `reclaimBorder = false` still runs it single-task.
  *
  * Actions per run: histogram collect, the component step's edge probe
  * (bounded by its gate; distributed rounds above it), the component-id
  * collect, and the caller's sink action.
  */
object DistributedDBSCAN {

  /** Replicates the reference's grid snap (DBSCAN.scala:300-304) as a
    * codegen'd column expression: truncate-toward-zero after shifting
    * negatives down one full cell.
    */
  def cornerExpr(c: Column, cell: Double): Column =
    (when(c < 0, c - cell).otherwise(c) / cell).cast("int").cast("double") * cell

  /** `pid << 32 | cluster`: both are >= 0, so node order is (pid, cluster) order. */
  private def node(pid: Column, cluster: Column): Column =
    shiftleft(pid.cast("long"), 32).bitwiseOR(cluster.cast("long"))

  def cluster(
      points: DataFrame,
      eps: Double,
      minPoints: Int,
      maxPointsPerPartition: Long = 250,
      xCol: String = "x",
      yCol: String = "y"): DBSCANModel = {

    val spark = points.sparkSession
    import spark.implicits._

    val cell = 2 * eps
    // Persisted: consumed by two passes (histogram job, duplicate-assign)
    // — at the default MEMORY_AND_DISK, so huge inputs degrade to spill,
    // not OOM.
    val pts = persist(points
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .as[Pt])

    // ---- Job 1: grid-cell histogram (partial+final agg, tiny result) ----
    val histogram = pts.toDF()
      .groupBy(
        cornerExpr($"x", cell).as("cx"),
        cornerExpr($"y", cell).as("cy"))
      .count()
      .collect()
      .map(r => (GridSnap.cellAtCorner(r.getDouble(0), r.getDouble(1), cell),
        r.getLong(2).toInt))
      .toSet

    // ---- Driver: cost-based space plan ----
    val plan = SpacePartitioner.partition(histogram, maxPointsPerPartition, cell)
    if (plan.isEmpty) {
      return DBSCANModel(eps, minPoints, maxPointsPerPartition, Nil,
        spark.emptyDataset[LabeledPt].toDF())
    }
    val margins: Array[Margin] = plan.map { case (main, _) =>
      Margin(main.shrink(eps), main, main.shrink(-eps))
    }.toArray

    val bIndex = spark.sparkContext.broadcast(
      BoxIndex.build(margins.zipWithIndex.map { case (m, i) => (m.outer, i) }.toSeq))
    val bMargins = spark.sparkContext.broadcast(margins)

    // ---- Duplicate-assign: replicate each point into every partition
    // whose outer (eps-grown) box contains it. ----
    val assigned: Dataset[Assigned] = pts.flatMap { p =>
      bIndex.value.query(p.x, p.y).iterator.map(id => Assigned(id, p.x, p.y))
    }

    // ---- Shuffle by spatial partition; local DBSCAN per group. Points
    // sorted within the group so labels are reproducible. ----
    val clustered: Dataset[Clustered] = persist(assigned
      .groupByKey(_.pid)
      .flatMapGroups { (pid, it) =>
        val arr = it.map(a => Pt(a.x, a.y)).toArray
        scala.util.Sorting.quickSort(arr)(Ordering.by((p: Pt) => (p.x, p.y)))
        new LocalDBSCAN(eps, minPoints, reclaimBorder = true)
          .fit(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
          .iterator
          .map(lp => Clustered(pid, lp.x, lp.y, lp.cluster, lp.flag))
      })

    // ---- Margin-band sightings: every clustered copy of a point lying in
    // some partition's eps border band, keyed by the band owner. ----
    val cands: Dataset[MergeCand] = persist(clustered.flatMap { c =>
      val ms = bMargins.value
      bIndex.value.query(c.x, c.y).iterator
        .filter { id =>
          val m = ms(id)
          m.main.contains(c.x, c.y) && !m.inner.almostContains(c.x, c.y)
        }
        .map(target => MergeCand(target, c.pid, c.x, c.y, c.cluster, c.flag))
    })

    // ---- Cluster-alias edges = two sightings of one point under
    // different (partition, local-cluster) ids, where at least one
    // sighting is CORE. A partition can only undercount a margin copy's
    // neighbors, so core-in-any-sighting == truly core, and a core
    // point's clusters are one cluster by definition. Border-border
    // sightings must NOT merge: a border point within eps of two
    // different clusters belongs to one of them, it does not connect
    // them (Ester et al. semantics; the reference aliases on any shared
    // non-noise point — reference DBSCAN.scala:266-291 — which
    // over-merges exactly there, verified against the exact-graph
    // oracle on the events sample). ----
    val nn = cands.filter(_.flag != Flag.Noise).toDF()
    val a = nn.select($"x", $"y", node($"src", $"cluster").as("an"), $"flag".as("af"))
    val b = nn.select($"x", $"y", node($"src", $"cluster").as("bn"), $"flag".as("bf"))
    val edges = a.join(b, Seq("x", "y"))
      .where($"an" < $"bn" && ($"af" === Flag.Core || $"bf" === Flag.Core))
      .select($"an", $"bn")

    // ---- Jobs 2-3: components of the alias graph over every non-noise
    // local cluster (ConnectedComponents gates driver union-find vs
    // distributed rounds by edge count). Global id = dense rank of the
    // component's minimum node, so numbering is reproducible. ----
    val nodes = clustered.filter(_.flag != Flag.Noise).toDF()
      .select(node($"pid", $"cluster"))
    val mappingDF = ConnectedComponents.assign(edges, nodes)
      .select(shiftright($"id", 32).cast("int"), $"id".bitwiseAND(0xffffffffL).cast("int"),
        dense_rank().over(Window.orderBy($"component")))
      .as[(Int, Int, Int)].collect().toSeq
      .toDF("pid", "cluster", "global")

    // All jobs that scan the raw points have run (histogram + the
    // clustering triggered by the component step above); downstream
    // lineage only references the persisted `clustered`/`cands`.
    pts.unpersist()

    val marginsDF = margins.zipWithIndex.map { case (m, i) =>
      (i, m.inner.x, m.inner.y, m.inner.x2, m.inner.y2)
    }.toSeq.toDF("pid", "ix", "iy", "ix2", "iy2")

    // ---- Inner points: exclusively owned, relabel via broadcast map. ----
    val labeledInner = clustered.toDF()
      .join(broadcast(marginsDF), Seq("pid"))
      .where($"x" > $"ix" && $"x" < $"ix2" && $"y" > $"iy" && $"y" < $"iy2")
      .join(broadcast(mappingDF), Seq("pid", "cluster"), "left")
      .select($"x", $"y",
        coalesce($"global", lit(0)).as("cluster"), $"flag")

    // ---- Border-band points: relabel every sighting, then one row per
    // physical point by commutative arg-max (non-noise wins, then core,
    // then lowest global id, then lowest source partition).
    //
    // CONTRACT: "physical point" = distinct (x, y). Coordinate-duplicate
    // input rows that land in a margin band collapse to ONE output row
    // (they are the same point to the clustering; every duplicate gets
    // the same label by definition), while duplicates strictly inside
    // one partition's inner box keep their input multiplicity. Callers
    // needing per-ROW output should join `labeled` back to their input
    // on (x, y) — reference behavior is the same modulo its own
    // duplicate handling (reference: DBSCAN.scala:138-146 keys margin
    // merges by point coordinates too). ----
    val mapForOuter = mappingDF
      .withColumnRenamed("pid", "m_pid")
      .withColumnRenamed("cluster", "m_cluster")
    val labeledOuter = cands.toDF()
      .join(broadcast(mapForOuter),
        $"src" === $"m_pid" && $"cluster" === $"m_cluster", "left")
      .select($"x", $"y", $"src", $"flag",
        coalesce($"global", lit(0)).as("gc"))
      .groupBy($"x", $"y")
      .agg(max(struct(
        ($"flag" =!= Flag.Noise).cast("int").as("nn"),
        when($"flag" === Flag.Core, 2).when($"flag" === Flag.Border, 1).otherwise(0).as("fr"),
        (-$"gc").as("ng"),
        (-$"src").as("ns"),
        $"gc".as("cluster"),
        $"flag".as("flag"))).as("best"))
      .select($"x", $"y", $"best.cluster".as("cluster"), $"best.flag".as("flag"))

    val labeled = labeledInner.unionByName(labeledOuter)

    DBSCANModel(eps, minPoints, maxPointsPerPartition,
      plan.map(_._1).zipWithIndex.map(_.swap), labeled)
  }
}
