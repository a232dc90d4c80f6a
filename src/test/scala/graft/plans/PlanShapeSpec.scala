package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.TestSpark

/** Shuffle-budget pins for representative un-cached query plans — the
  * cheap half of the plan-evidence story (PLANS.md claims a shuffle
  * count; this makes the claim executable). Counts come from the
  * STATIC executed-plan string, so only queries without persist() are
  * pinned (a cached branch prints its whole lineage and the counts
  * stop meaning anything; `tools.Probe --plan` prints the same counts
  * for the AQE plan a query runs). Bounds are upper bounds: AQE may reuse or
  * drop exchanges at runtime, never add them. A regression here is the
  * d15/q44 class — a respelling that silently re-executes or
  * re-shuffles an expensive branch.
  */
class PlanShapeSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def shapes(name: String): (Int, Int, Int) = {
    val plan = graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString
    def c(p: String) = p.r.findAllIn(plan).length
    (c("Exchange hashpartitioning"), c("BroadcastExchange"),
      c("FileScan|BatchScan"))
  }

  test("q01 pricing summary: one aggregate exchange, one scan") {
    val (sh, _, scans) = shapes("q01_pricing_summary")
    sh should be <= 3 // partial/final agg + decimal re-exchange ceiling
    scans shouldBe 1
  }

  test("q05 star join: dims broadcast, fact scanned once, no fact re-shuffle") {
    val (sh, bc, _) = shapes("q05_star_join_revenue")
    sh should be <= 2
    bc should be >= 3 // every dim side arrives broadcast, never shuffled
  }

  test("q46 merge upsert: agg + full-outer join on one key, two scans") {
    val (sh, _, scans) = shapes("q46_merge_upsert")
    sh should be <= 3 // change agg + the join's two sides, ceiling
    scans shouldBe 2 // events once, customer once — no re-scan
  }

  test("q50 fuzzy join: broadcast probe variants, two scans, no all-pairs") {
    val (sh, bc, scans) = shapes("q50_fuzzy_join")
    sh should be <= 2 // candidate distinct + global orderBy ceiling
    bc should be >= 1 // probe variant side arrives broadcast
    scans shouldBe 2 // customer scanned once per join side
  }

  test("q59 waiting supplier: ONE fact join, no lineitem self-join") {
    val (sh, bc, scans) = shapes("q59_waiting_supplier")
    // lineitem + orders scanned once each, supplier rides broadcast:
    // the Q21 triple self-join never appears
    scans shouldBe 3
    bc should be >= 1 // supplier dim broadcast
    sh should be <= 4 // join sides + per-order agg + supplier agg ceiling
  }

  test("q61 bloom join: fact scanned once, filter before the join, dim broadcast") {
    val (sh, bc, scans) = shapes("q61_bloom_join")
    scans should be <= 3 // orders + the two hot-side jobs' customer scans
    bc should be >= 1    // hot side arrives broadcast
    sh should be <= 1    // only the final aggregate may shuffle
    val plan = graft.SparkEntry.queries("q61_bloom_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the bit-test prefilter runs as a plain Filter ahead of the join
    plan should include ("Filter")
  }

  test("q63 trend: one data-sized aggregate, events scanned once per pass") {
    val (sh, bc, scans) = shapes("q63_trend")
    sh should be <= 3 // daily agg + per-type moment agg ceiling
    bc should be >= 1 // min-day scalar broadcast
    scans should be <= 2 // daily counts + the scalar's own pass
  }

  test("q52 skyline: one scan, ONE exchange (candidates only), two sweeps") {
    val plan = graft.SparkEntry.queries("q52_skyline")(spark, sfDir)
      .queryExecution.executedPlan.toString
    def c(p: String) = p.r.findAllIn(plan).length
    c("Exchange") shouldBe 1 // only the candidate move to the merge task
    c("FileScan|BatchScan") shouldBe 1 // the corpus never re-scans
    c("MapPartitions") shouldBe 2 // local sweep + merge sweep
  }

  test("s25 sq8: WindowGroupLimit keeps both top-cand and top-k partial") {
    val plan = graft.SparkEntry.queries("s25_sq8_rerank")(spark, sfDir)
      .queryExecution.executedPlan.toString
    def c(p: String) = p.r.findAllIn(plan).length
    c("WindowGroupLimit") should be >= 4 // partial+final, both stages
    c("BroadcastHashJoin") should be >= 1 // rerank is a broadcast equi-join
    c("BroadcastNestedLoopJoin") shouldBe 1 // only the sanctioned codes scan
  }

  test("t01 token stats: single aggregate, single scan, no joins") {
    val (sh, bc, scans) = shapes("t01_token_stats")
    sh should be <= 1
    bc shouldBe 0
    scans shouldBe 1
  }

  test("q47 retention: the live operator tree reads only the cache") {
    // q47 persists its tiny (cohort, offset) aggregate; the guard here
    // is the recompute class — the OPERATOR TREE (cached lineage builds
    // once, off-tree) must contain no direct feed scan: every consumer
    // reads the InMemoryRelation, so the feed is scanned exactly once
    // at cache build
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    val nodes = flatten(
      graft.SparkEntry.queries("q47_retention_cohorts")(spark, sfDir)
        .queryExecution.executedPlan)
    nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    } shouldBe empty
    nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]
    ) should be >= 2 // both branches hit the cache
  }

  test("q48 and q77: round loops plan in constant size (every round is cut)") {
    // an uncut q48 hop holds the previous hop twice, so the printed plan
    // doubles with every hop (1,350 lines here with persisted hops); a
    // cut round is one leaf
    for (name <- Seq("q48_khop_reach", "q77_label_propagation")) {
      val lines = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString.split("\n").length
      withClue(s"$name executed plan lines: ") { lines should be < 500 }
    }
    graft.operators.CacheScope.releaseSession(spark)
  }
}
