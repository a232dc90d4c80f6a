package graft.operators

import graft.core.{Flag, Golden, Pt}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // production session shape: the eps-join rewrite is installed (it
    // no-ops on plans without a DistSq predicate)
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class DistributedDBSCANSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  test("distributed golden: eps=0.3 minPoints=10 maxPPP=250 matches labels up to permutation") {
    import spark.implicits._
    val df = Golden.rows.map(_._1).toDF()
    val model = DistributedDBSCAN.cluster(df, eps = 0.3, minPoints = 10,
      maxPointsPerPartition = 250)

    model.partitions.size should be >= 2 // 749 points / 250 budget forces splits

    val rows = model.labeled.collect()
    rows.length shouldBe 749
    val got = rows.map(r => Pt(r.getDouble(0), r.getDouble(1)) -> r.getInt(2)).toMap
    Golden.matchesUpToPermutation(got) shouldBe Right(())
  }

  test("distributed equals local on the golden fixture (cluster sets identical)") {
    import spark.implicits._
    val local = new graft.core.LocalDBSCAN(0.3, 10, reclaimBorder = true)
      .fit(Golden.rows.map(_._1))
    val localByCluster = local.filter(_.cluster != 0)
      .groupBy(_.cluster).values.map(_.map(p => (p.x, p.y)).toSet).toSet

    val df = Golden.rows.map(_._1).toDF()
    val model = DistributedDBSCAN.cluster(df, 0.3, 10, 250)
    val dist = model.labeled.collect().map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2)))
    val distByCluster = dist.filter(_._3 != 0)
      .groupBy(_._3).values.map(_.map(t => (t._1, t._2)).toSet).toSet

    distByCluster shouldBe localByCluster
  }

  test("deterministic: two runs produce identical labelings") {
    import spark.implicits._
    val df = Golden.rows.map(_._1).toDF()
    val r1 = DistributedDBSCAN.cluster(df, 0.3, 10, 250).labeled.collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    val r2 = DistributedDBSCAN.cluster(df, 0.3, 10, 250).labeled.collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getInt(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    r1 should contain theSameElementsInOrderAs r2
  }

  test("golden: non-noise cluster ids are exactly 1..k with no gaps") {
    import spark.implicits._
    val df = Golden.rows.map(_._1).toDF()
    val ids = DistributedDBSCAN.cluster(df, 0.3, 10, 250).labeled.collect()
      .map(_.getInt(2)).filter(_ != 0).distinct.sorted
    ids.toSeq shouldBe (1 to ids.length)
    ids.length shouldBe Golden.rows.map(_._2).filter(_ != 0).distinct.size
  }

  test("alias merge is transitive across many partitions: a long band is one cluster") {
    import spark.implicits._
    val band = for (i <- 0 to 1000; y <- Seq(0.0, 0.1)) yield Pt(i * 0.1, y)
    val model = DistributedDBSCAN.cluster(band.toDF(), eps = 0.3, minPoints = 3,
      maxPointsPerPartition = 50)
    model.partitions.size should be >= 5
    val rows = model.labeled.collect()
    rows.map(r => Pt(r.getDouble(0), r.getDouble(1))).toSet shouldBe band.toSet
    rows.map(_.getString(3)).distinct.toSeq shouldBe Seq(Flag.Core)
    rows.map(_.getInt(2)).distinct.toSeq shouldBe Seq(1)
  }

  test("single-partition case (budget above n) still works") {
    import spark.implicits._
    val df = Golden.rows.map(_._1).toDF()
    val model = DistributedDBSCAN.cluster(df, 0.3, 10, maxPointsPerPartition = 100000)
    val got = model.labeled.collect()
      .map(r => Pt(r.getDouble(0), r.getDouble(1)) -> r.getInt(2)).toMap
    Golden.matchesUpToPermutation(got) shouldBe Right(())
  }
}
