package graft.core

/** 2-D geometry primitives for density clustering.
  *
  * Semantics follow the reference engine's spatial model
  * (reference: DBSCANRectangle.scala:22-52, DBSCANPoint.scala:21-31,
  * DBSCAN.scala:293-304) re-expressed as immutable value classes:
  *   - [[Rect.contains]] is closed on all four bounds
  *   - [[Rect.almostContains]] is strictly open (border excluded)
  *   - [[GridSnap.corner]] snaps a coordinate to its grid-cell corner,
  *     replicating the reference's truncate-toward-zero + extra-cell
  *     shift for negative inputs (an exact negative multiple of the
  *     cell size lands one full cell lower than `floor` would place it).
  *     The quirk is load-bearing: the space partitioner's candidate
  *     split lines are derived from these cells, so cell assignment
  *     must match bit-for-bit for plan parity.
  */
final case class Pt(x: Double, y: Double) {
  def distanceSquared(o: Pt): Double = {
    val dx = x - o.x
    val dy = y - o.y
    dx * dx + dy * dy
  }
}

/** Axis-aligned box: lower-left (x, y), upper-right (x2, y2). */
final case class Rect(x: Double, y: Double, x2: Double, y2: Double) {

  /** Closed containment of another box. */
  def contains(o: Rect): Boolean =
    x <= o.x && o.x2 <= x2 && y <= o.y && o.y2 <= y2

  /** Closed containment of a point. */
  def contains(px: Double, py: Double): Boolean =
    x <= px && px <= x2 && y <= py && py <= y2

  def contains(p: Pt): Boolean = contains(p.x, p.y)

  /** Strictly-open containment (point not on the border). */
  def almostContains(px: Double, py: Double): Boolean =
    x < px && px < x2 && y < py && py < y2

  def almostContains(p: Pt): Boolean = almostContains(p.x, p.y)

  /** Shrink all sides by `amount` (negative grows). */
  def shrink(amount: Double): Rect =
    Rect(x + amount, y + amount, x2 - amount, y2 - amount)

  def width: Double = x2 - x
  def height: Double = y2 - y
}

object GridSnap {

  /** Snap one coordinate to its cell corner (reference DBSCAN.scala:300-304):
    * truncate-toward-zero of (p / cell), with negatives pre-shifted one
    * whole cell so the result is always <= p. Note that for p an exact
    * negative multiple of `cell` this yields p - cell (the quirk).
    */
  def corner(p: Double, cell: Double): Double =
    ((shiftIfNegative(p, cell) / cell).toInt: Int) * cell

  private def shiftIfNegative(p: Double, cell: Double): Double =
    if (p < 0) p - cell else p

  /** The grid cell (as a Rect of side `cell`) containing (x, y). */
  def cellOf(x: Double, y: Double, cell: Double): Rect =
    cellAtCorner(corner(x, cell), corner(y, cell), cell)

  /** The grid cell whose lower-left corner is (cx, cy), a grid corner.
    * Cells are keyed by integer index and every edge is computed as
    * `k * cell`: `corner + cell` can miss the next cell's corner by one
    * ulp (5 * 0.1 + 0.1 = 0.6, 6 * 0.1 = 0.6000000000000001), and the
    * space partitioner then carries cells into boxes that do not
    * contain them.
    */
  def cellAtCorner(cx: Double, cy: Double, cell: Double): Rect = {
    val i = math.round(cx / cell)
    val j = math.round(cy / cell)
    Rect(i * cell, j * cell, (i + 1) * cell, (j + 1) * cell)
  }
}
