package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.io.Source

object Golden {
  /** (points, expected label per point). labeled_data.csv: x,y,label with
    * label 0 = noise, 1..3 = cluster (FIXTURES.md).
    */
  lazy val rows: Vector[(Pt, Int)] = {
    val src = Source.fromInputStream(getClass.getResourceAsStream("/labeled_data.csv"))
    try src.getLines().map { line =>
      val parts = line.split(',')
      (Pt(parts(0).toDouble, parts(1).toDouble), parts(2).toDouble.toInt)
    }.toVector
    finally src.close()
  }

  /** Checks `got` equals the golden labeling up to a bijection of
    * non-noise cluster ids (noise must map to noise).
    */
  def matchesUpToPermutation(got: Map[Pt, Int]): Either[String, Unit] = {
    val expected = rows.toMap
    if (got.size != expected.size)
      return Left(s"size mismatch: got ${got.size}, expected ${expected.size}")
    val mapping = scala.collection.mutable.HashMap.empty[Int, Int]
    val inverse = scala.collection.mutable.HashMap.empty[Int, Int]
    val bad = expected.iterator.flatMap { case (p, exp) =>
      got.get(p) match {
        case None => Some(s"missing point $p")
        case Some(g) =>
          if ((g == 0) != (exp == 0)) Some(s"noise mismatch at $p: got $g expected $exp")
          else if (g == 0) None
          else {
            val m = mapping.getOrElseUpdate(g, exp)
            val inv = inverse.getOrElseUpdate(exp, g)
            if (m != exp || inv != g) Some(s"inconsistent mapping at $p: got $g expected $exp")
            else None
          }
      }
    }.take(5).toList
    if (bad.isEmpty) Right(()) else Left(bad.mkString("; "))
  }
}

class LocalDBSCANSpec extends AnyFunSuite with Matchers {

  test("golden fixture: eps=0.3 minPoints=10 reproduces labels up to permutation") {
    val pts = Golden.rows.map(_._1)
    val labeled = new LocalDBSCAN(0.3, 10).fit(pts)
    val got = labeled.map(lp => Pt(lp.x, lp.y) -> lp.cluster).toMap
    Golden.matchesUpToPermutation(got) shouldBe Right(())
  }

  test("golden fixture with reclaimBorder: labels match regardless of visit order") {
    // Standard DBSCAN (border re-claim) has a visit-order-independent
    // noise set; verify golden parity under a different (sorted) order.
    val pts = Golden.rows.map(_._1).sortBy(p => (p.x, p.y))
    val labeled = new LocalDBSCAN(0.3, 10, reclaimBorder = true).fit(pts)
    val got = labeled.map(lp => Pt(lp.x, lp.y) -> lp.cluster).toMap
    Golden.matchesUpToPermutation(got) shouldBe Right(())
  }

  test("finds 3 clusters and 18 noise points on the golden fixture") {
    val labeled = new LocalDBSCAN(0.3, 10).fit(Golden.rows.map(_._1))
    labeled.map(_.cluster).toSet.filter(_ != 0) should have size 3
    labeled.count(_.flag == Flag.Noise) shouldBe 18
  }

  test("core points have at least minPoints neighbors within eps") {
    val pts = Golden.rows.map(_._1)
    val labeled = new LocalDBSCAN(0.3, 10).fit(pts)
    val epsSq = 0.3 * 0.3
    labeled.filter(_.flag == Flag.Core).take(50).foreach { c =>
      val p = Pt(c.x, c.y)
      pts.count(_.distanceSquared(p) <= epsSq) should be >= 10
    }
  }

  test("empty and tiny inputs") {
    new LocalDBSCAN(0.3, 10).fit(Vector.empty) shouldBe empty
    val one = new LocalDBSCAN(0.3, 10).fit(Vector(Pt(1, 1)))
    one.head.flag shouldBe Flag.Noise
    one.head.cluster shouldBe 0
  }

  test("all points within eps of each other form one cluster when n >= minPoints") {
    val pts = (0 until 12).map(i => Pt(i * 0.01, 0.0)).toVector
    val labeled = new LocalDBSCAN(0.3, 10).fit(pts)
    labeled.map(_.cluster).toSet shouldBe Set(1)
    all(labeled.map(_.flag)) shouldBe Flag.Core
  }
}

class GeometrySpec extends AnyFunSuite with Matchers {
  test("grid corner: positive floor") {
    GridSnap.corner(0.7, 0.6) shouldBe 0.6
    GridSnap.corner(0.0, 0.6) shouldBe 0.0
    GridSnap.corner(1.2, 0.6) shouldBe 1.2 +- 1e-12
  }
  test("grid corner: negative shift quirk (exact multiple lands one cell lower)") {
    GridSnap.corner(-0.1, 0.6) shouldBe -0.6
    // quirk: -0.6 is an exact multiple but shifts to -1.2 (reference DBSCAN.scala:303-304)
    GridSnap.corner(-0.6, 0.6) shouldBe -1.2
    GridSnap.corner(-0.7, 0.6) shouldBe -1.2
  }
  test("rect contains is closed, almostContains is open") {
    val r = Rect(0, 0, 1, 1)
    r.contains(0.0, 0.5) shouldBe true
    r.almostContains(0.0, 0.5) shouldBe false
    r.almostContains(0.5, 0.5) shouldBe true
    r.shrink(0.1) shouldBe Rect(0.1, 0.1, 0.9, 0.9)
    r.shrink(-0.1) shouldBe Rect(-0.1, -0.1, 1.1, 1.1)
  }
}

class SpacePartitionerSpec extends AnyFunSuite with Matchers {
  private def cellsFor(pts: Seq[Pt], cell: Double): Set[(Rect, Int)] =
    pts.groupBy(p => GridSnap.cellOf(p.x, p.y, cell))
      .map { case (r, ps) => (r, ps.size) }.toSet

  test("partitions cover all cells and respect the budget when splittable") {
    val pts = for { i <- 0 until 40; j <- 0 until 40 } yield Pt(i * 0.1, j * 0.1)
    val cells = cellsFor(pts, 0.6)
    val parts = SpacePartitioner.partition(cells, 300, 0.6)
    parts should not be empty
    // every cell is fully inside exactly one partition
    cells.foreach { case (c, _) =>
      parts.count(_._1.contains(c)) shouldBe 1
    }
    // counts add up
    parts.map(_._2).sum shouldBe pts.size
    all(parts.map(_._2)) should be <= 300
  }

  test("single overfull unsplittable cell is kept") {
    val cells = Set((Rect(0, 0, 0.6, 0.6), 1000))
    val parts = SpacePartitioner.partition(cells, 10, 0.6)
    parts shouldBe List((Rect(0, 0, 0.6, 0.6), 1000))
  }

  test("empty input yields no partitions") {
    SpacePartitioner.partition(Set.empty, 10, 0.6) shouldBe Nil
  }

  test("cells built as corner + cell terminate (one-ulp edges)") {
    // 5 * 0.1 + 0.1 = 0.6 but 6 * 0.1 = 0.6000000000000001: a cell's
    // far edge built as corner + cell can miss the next cell's corner
    val cell = 0.1
    val cells = (for { i <- 0 until 12; j <- 0 until 12 } yield {
      val (x, y) = ((185 + i) * cell, (588 + j) * cell)
      (Rect(x, y, x + cell, y + cell), 50)
    }).toSet
    // planned on a daemon thread: a planner that spins fails this
    // test instead of hanging the suite
    val result = new java.util.concurrent.atomic.AtomicReference[List[(Rect, Int)]]
    val planner = new Thread(() => result.set(SpacePartitioner.partition(cells, 100, cell)))
    planner.setDaemon(true)
    planner.start()
    planner.join(10000)
    val parts = result.get
    withClue("partition did not return within 10 s: ") { parts should not be null }
    cells.foreach { case (c, _) =>
      parts.count(_._1.contains(c.x + cell / 2, c.y + cell / 2)) shouldBe 1
    }
    parts.map(_._2).sum shouldBe 144 * 50
    all(parts.map(_._2)) should be <= 100
  }
}

class UnionFindSpec extends AnyFunSuite with Matchers {
  test("transitive connectivity") {
    val uf = new UnionFind[Int]
    uf.union(1, 2); uf.union(2, 3); uf.union(10, 11)
    uf.connected(1, 3) shouldBe true
    uf.connected(1, 10) shouldBe false
    uf.find(5) shouldBe 5
  }
}

class BoxIndexSpec extends AnyFunSuite with Matchers {
  test("query matches linear scan") {
    val rnd = new scala.util.Random(7)
    val boxes = (0 until 200).map { i =>
      val x = rnd.nextDouble() * 10; val y = rnd.nextDouble() * 10
      (Rect(x, y, x + rnd.nextDouble(), y + rnd.nextDouble()), i)
    }
    val idx = BoxIndex.build(boxes)
    (0 until 500).foreach { _ =>
      val px = rnd.nextDouble() * 11 - 0.5
      val py = rnd.nextDouble() * 11 - 0.5
      val expected = boxes.filter(_._1.contains(px, py)).map(_._2).toSet
      idx.query(px, py).toSet shouldBe expected
    }
  }
}
