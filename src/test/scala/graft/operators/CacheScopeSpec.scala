package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The operator-cache lifecycle contract: composing the persisting
  * dedup operators and releasing the session's CacheScope leaves ZERO
  * residual cached RDDs — a long-lived session composing operators no
  * longer accumulates storage memory until eviction churn. Asserted on
  * the DELTA of persistent-RDD ids so concurrently-running suites
  * can't flake the check. Also: results must be unaffected by release
  * (a re-action recomputes from source).
  */
class CacheScopeSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = {
    import spark.implicits._
    val words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split(" ")
    val rnd = new scala.util.Random(5)
    (0 until 80).map { i =>
      (i.toLong, Seq.fill(15)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("composing d02+d04+d06 operators under a scope releases every cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val d = docs
    // the three operator shapes behind d02 / d04 / d06
    val jac = Dedup.jaccardPairs(d, "text", "doc_id", 3, 0.3)
    val lsh = Dedup.lshCandidatePairs(d, "text", "doc_id", 16, 4, 3)
    val sim = Dedup.simhashNearPairs(d, "text", "doc_id", 3)
    val counts = (jac.count(), lsh.count(), sim.count())
    val during = sc.getPersistentRDDs.keySet -- before
    during should not be empty // the caches actually engaged
    CacheScope.releaseSession(spark)
    val after = sc.getPersistentRDDs.keySet -- before
    after shouldBe empty
    // released results stay correct: re-running the actions recomputes
    (jac.count(), lsh.count(), sim.count()) shouldBe counts
    // release is idempotent
    noException should be thrownBy CacheScope.releaseSession(spark)
  }

  test("chunkOverlapPairs (m05) caches under the scope and releases clean") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pairs = Multimodal.chunkOverlapPairs(docs, "text", "doc_id",
      dfCap = 50, minOverlap = 0.1)
    val n = pairs.count()
    (sc.getPersistentRDDs.keySet -- before) should not be empty
    CacheScope.releaseSession(spark)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
    pairs.count() shouldBe n
  }

  test("in situ: the registered t17 pipeline under a managed scope releases clean") {
    // the REAL registered query's pipeline (not a synthetic compose):
    // run it end-to-end, release the session, assert the zero-residual
    // contract holds on a query the driver actually grades
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, lit}
    val sc = spark.sparkContext
    val docs0 = docs.withColumn("lang", lit("en"))
      .withColumn("text", concat($"text",
        lit(" " + Seq.fill(45)("the word of and to in play").mkString(" "))))
    val before = sc.getPersistentRDDs.keySet
    val out = graft.queries.NorthStar.curationPipeline(docs0)
    val n = out.count()
    (sc.getPersistentRDDs.keySet -- before) should not be empty // the persist engaged
    CacheScope.releaseSession(spark)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
    out.count() shouldBe n // released result recomputes identically
  }

  test("default scope is session-managed: releaseSession reclaims all") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // every operator persist is tracked in the per-session registry
    val lsh = Dedup.lshCandidatePairs(docs, "text", "doc_id")
    val n = lsh.count()
    val during = sc.getPersistentRDDs.keySet -- before
    during should not be empty
    CacheScope.releaseSession(spark)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
    lsh.count() shouldBe n // released result recomputes identically
    CacheScope.releaseSession(spark) // idempotent
  }

  test("releaseSession alone leaves nothing cached by dbscan_events and q44_triangles") {
    // the paper's DBSCAN pipeline (pts / clustered / cands) and the
    // relational graph rows persist inside the query builders; with no
    // clearCache after the release, anything left is an untracked cache
    releasesClean("dbscan_events", "q44_triangles")
  }

  test("checkpoint cuts the plan and releaseSession frees its blocks") {
    import spark.implicits._
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val base = (0L until 200L).toDF("id")
    var df = base
    for (_ <- 1 to 4) df = CacheScope.checkpoint(df.union(df).groupBy("id").count()
      .select($"id"))
    df.queryExecution.logical shouldBe a[LogicalRDD] // the leaf of the last cut
    df.count() shouldBe 200L
    (sc.getPersistentRDDs.keySet -- before) should not be empty
    CacheScope.releaseSession(spark)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  test("releaseSession alone frees the round state of every iterative row") {
    // q77 label propagation, q48 hops, t35 PageRank, q51 forced-distributed
    // CC rounds and s36's multi-readout beam walk: each cuts its rounds
    // through CacheScope.checkpoint, so the session release that frees
    // the persists frees the checkpoint blocks too — no context-wide
    // cleanup needed after a query
    releasesClean("q77_label_propagation", "q48_khop_reach", "t35_textrank_keywords",
      "q51_graph_components", "s36_graph_ann_recall")
  }

  test("releaseSession alone deletes stream scratch dirs and leaves no view") {
    // st01 runs through the memory sink; st58 (rendezvous shard), st61
    // (cell owner) and st64 (summary-ranked shard) scatter their routed
    // arrivals to a scratch dir that a cache fronts; only the session
    // release runs afterwards
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scatterDirs = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("graft_scatter_")).toSet
    val (dirsBefore, viewsBefore) = (scatterDirs, tempViews)
    releasesClean("st01_stream_hourly", "st58_sharded_graph_probe",
      "st61_sharded_graph_upsert", "st64_scatter_gather_serving")
    (scatterDirs -- dirsBefore) shouldBe empty
    (tempViews -- viewsBefore) shouldBe empty
  }

  test("the SQL-authored rows leave no temp view on the caller's session") {
    // t29, d11, s17 and s14 name their inputs as views for spark.sql
    val before = tempViews
    Seq("t29_sql_curation", "d11_sql_lsh_pairs", "s17_sql_knn", "s14_sql_eps_degree")
      .foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
    CacheScope.releaseSession(spark)
    (tempViews -- before) shouldBe empty
  }

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Runs registered rows, then asserts they cached something and that
    * `releaseSession` alone frees all of it.
    */
  private def releasesClean(rows: String*): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    rows.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dir).collect()
    }
    (sc.getPersistentRDDs.keySet -- before) should not be empty
    CacheScope.releaseSession(spark)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }
}
