package graft.core

import scala.annotation.tailrec

/** Cost-based binary space partitioning over a grid-cell histogram.
  *
  * Driver-side planning (input is the collected, O(#cells) histogram —
  * never raw points). Recursively splits the bounding box of all cells:
  * any box holding more than `maxPointsPerPartition` points is cut at the
  * grid line (along x or y) that best balances the two halves;
  * unsplittable overfull boxes are kept. Empty partitions are dropped.
  *
  * Mirrors the reference planner's cost semantics (reference:
  * EvenSplitPartitioner.scala:44-168 — cost = |count/2 -
  * countIn(candidate)|, canBeSplit when either side exceeds 2*cellSize,
  * counts sum fully-contained cells) with a deterministic tie-break
  * (lowest cost, then x-cuts before y-cuts, then smallest cut
  * coordinate) so plans are stable across runs.
  *
  * COST MODEL, fixed at the 30x scale rung: the reference enumerates a
  * candidate line at EVERY cellSize step across the box and scans every
  * cell per candidate — O(lines x cells) per split, which explodes on
  * large sparse extents (the 30x ladder corpus spans ~1.5M hours:
  * ~90k candidate lines x ~90k cells for the root split alone, minutes
  * of driver time; measured 127-257 s total planning at 3M points).
  * Candidates here are only the OCCUPIED cell boundaries inside the
  * box: any line in the empty gap between two occupied boundaries
  * fully contains exactly the same cell set as the boundary at the
  * gap's start, so its cost is identical and the restriction loses no
  * plan quality. Counts come from one sorted prefix-sweep per axis —
  * O(C log C) per split — and each half inherits only its own cells,
  * so the whole plan is O(C log C x depth), independent of the spatial
  * extent.
  */
object SpacePartitioner {

  type CellCount = (Rect, Int)

  def partition(
      cells: Set[CellCount],
      maxPointsPerPartition: Long,
      cellSize: Double): List[CellCount] = {
    if (cells.isEmpty) return Nil
    // re-snap every cell so all its edges are `k * cellSize`: a caller's
    // `corner + cell` edge can miss the next cell's corner by one ulp,
    // and a box that does not contain its cells is re-split forever
    val snapped = cells.toSeq
      .groupMapReduce(c => GridSnap.cellAtCorner(c._1.x, c._1.y, cellSize))(_._2)(_ + _)
      .toSet
    val bounding = boundingRect(snapped)
    // Sorted array for deterministic iteration; counts are over
    // fully-contained cells (cells are grid-aligned, cuts land on cell
    // boundaries, so no cell ever straddles a cut).
    val cellArr = snapped.toArray.sortBy(c => (c._1.x, c._1.y))
    val total = { var s = 0; cellArr.foreach(s += _._2); s }

    @tailrec
    def loop(remaining: List[(Rect, Array[CellCount], Int)],
             done: List[CellCount]): List[CellCount] =
      remaining match {
        case Nil => done
        case (rect, cs, count) :: rest =>
          val split =
            if (count > maxPointsPerPartition && canBeSplit(rect, cellSize))
              bestSplit(rect, cs)
            else None
          split match {
            case Some((a, b)) =>
              val (ca, cb) = cs.partition(c => a.contains(c._1))
              var na = 0; ca.foreach(na += _._2)
              loop((a, ca, na) :: (b, cb, count - na) :: rest, done)
            case None if count > maxPointsPerPartition =>
              // over budget with no occupied interior boundary: the box
              // carries empty margins around a single cell (a cut
              // can leave one). TIGHTEN to the cells' bounding rect —
              // the fixpoint the reference's geometric shaving loop
              // converges to — and requeue; a tight single-cell box is
              // cellSize wide, hence geometrically unsplittable, so
              // this fires at most once per box.
              val tight = boundingRect(cs.toSet)
              if (tight != rect) loop((tight, cs, count) :: rest, done)
              else loop(rest, (rect, count) :: done)
            case None =>
              loop(rest, (rect, count) :: done)
          }
      }

    loop(List((bounding, cellArr, total)), Nil)
      .filter(_._2 > 0)
      .reverse
  }

  /** Best balancing cut of `box` over its fully-contained cells, or
    * None when no interior occupied boundary exists (single-cell box —
    * geometrically unsplittable too, since cells are cellSize wide).
    * Candidates: each distinct interior cell END boundary per axis;
    * count at boundary v = cells ending at or before v (exactly the
    * cells fully contained in the sub-box up to v).
    */
  private def bestSplit(box: Rect, cellsInBox: Array[CellCount]): Option[(Rect, Rect)] = {
    var total = 0L
    cellsInBox.foreach(total += _._2)
    val half = total / 2

    // (cost, cut coordinate) with the lowest cost at the SMALLEST
    // coordinate (strict < keeps the first minimum)
    def axisBest(ends: Array[(Double, Int)], interiorMax: Double): Option[(Long, Double)] = {
      val sorted = ends.sortBy(_._1)
      var best: Option[(Long, Double)] = None
      var acc = 0L
      var i = 0
      while (i < sorted.length) {
        val v = sorted(i)._1
        acc += sorted(i)._2
        while (i + 1 < sorted.length && sorted(i + 1)._1 == v) {
          i += 1; acc += sorted(i)._2
        }
        if (v < interiorMax) {
          val cost = math.abs(half - acc)
          if (best.forall(_._1 > cost)) best = Some((cost, v))
        }
        i += 1
      }
      best
    }

    val xBest = axisBest(cellsInBox.map(c => (c._1.x2, c._2)), box.x2)
    val yBest = axisBest(cellsInBox.map(c => (c._1.y2, c._2)), box.y2)
    // lowest cost; x-cuts win ties (yBest only on strictly lower cost)
    val choice: Option[(Rect, Rect)] = (xBest, yBest) match {
      case (Some((xc, xv)), Some((yc, yv))) =>
        if (yc < xc) Some(cutY(box, yv)) else Some(cutX(box, xv))
      case (Some((_, xv)), None) => Some(cutX(box, xv))
      case (None, Some((_, yv))) => Some(cutY(box, yv))
      case _ => None
    }
    choice
  }

  private def cutX(box: Rect, v: Double): (Rect, Rect) = {
    val a = Rect(box.x, box.y, v, box.y2)
    (a, complement(a, box))
  }

  private def cutY(box: Rect, v: Double): (Rect, Rect) = {
    val a = Rect(box.x, box.y, box.x2, v)
    (a, complement(a, box))
  }

  /** The part of `boundary` not covered by `box` (box shares the lower-left
    * corner and one full side with the boundary, by construction).
    */
  private[core] def complement(box: Rect, boundary: Rect): Rect =
    if (box.y2 == boundary.y2) Rect(box.x2, box.y, boundary.x2, boundary.y2)
    else Rect(box.x, box.y2, boundary.x2, boundary.y2)

  private[core] def canBeSplit(box: Rect, cellSize: Double): Boolean =
    box.width > cellSize * 2 || box.height > cellSize * 2

  private[core] def boundingRect(cells: Set[CellCount]): Rect =
    cells.foldLeft(Rect(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)) {
      case (b, (c, _)) =>
        Rect(b.x.min(c.x), b.y.min(c.y), b.x2.max(c.x2), b.y2.max(c.y2))
    }
}
