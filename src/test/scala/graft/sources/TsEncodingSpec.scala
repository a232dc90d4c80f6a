package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.TestSpark

/** Schema-drift tripwire for the events `ts` column.
  *
  * The r8/r9 regression class: the upstream writer changed the physical
  * encoding of `ts` (INT64 TIMESTAMP(NANOS) -> TIMESTAMP(MICROS, NTZ))
  * and every unit test stayed green because specs synthesize their own
  * fixtures — only the driver-side oracle saw the live files. This spec
  * pins the engine's reading of the REAL testdata to absolute
  * wall-clock facts (the corpus is January 2024), so a wrong unit shows
  * up as seconds in 1970 or a month collapsing into two buckets, and
  * `sbt test` goes red the moment the encoding drifts again.
  */
class TsEncodingSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"
  private val epoch2024 = 1704067200L // 2024-01-01 00:00:00 UTC

  test("batch events: ts is epoch-nano Long anchored in Jan 2024") {
    val ev = Sources.events(spark, sfDir)
    ev.schema("ts").dataType shouldBe LongType
    val row = ev.agg(
      min(expr("ts div 1000000000")).as("lo"),
      max(expr("ts div 1000000000")).as("hi"),
      count(lit(1)).as("n")).head()
    val (lo, hi, n) = (row.getLong(0), row.getLong(1), row.getLong(2))
    n should be > 0L
    // nanos misread (secs ~ 1.7e6, in 1970) or a missing div both land
    // far outside this window
    lo should be >= epoch2024
    hi should be < epoch2024 + 40L * 86400
  }

  test("batch events: the month spans hundreds of hour buckets, not two") {
    val hours = Sources.events(spark, sfDir)
      .select(expr("ts div 1000000000 div 3600").as("h"))
      .distinct().count()
    // ~31 days x 24h; the micros-as-nanos bug collapsed this to ~2
    hours should be > 200L
  }

  test("batch events: normalized ts round-trips to the file's wall-clock") {
    // independent derivation straight off the file, not through Sources
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val independent = raw.schema("ts").dataType match {
      case LongType => raw.select(col("event_id"), col("ts").as("ts_nanos"))
      case _ => raw.select(col("event_id"),
        (unix_micros(col("ts").cast("timestamp")) * lit(1000L)).as("ts_nanos"))
    }
    val engine = Sources.events(spark, sfDir).select(col("event_id"), col("ts"))
    val mismatches = engine.join(independent, "event_id")
      .where(col("ts") =!= col("ts_nanos")).count()
    mismatches shouldBe 0L
  }

  test("stream events: same epoch range and row count as the batch path") {
    val batch = Sources.events(spark, sfDir).agg(
      min(col("ts")), max(col("ts")), count(lit(1))).head()
    val stream = Sources.eventsStream(spark, sfDir)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"),
        count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete").format("memory")
      .queryName("ts_encoding_probe").start()
    try q.processAllAvailable()
    finally q.stop()
    val got = spark.table("ts_encoding_probe").head()
    spark.catalog.dropTempView("ts_encoding_probe") // leave the shared session clean
    got.getLong(0) shouldBe batch.getLong(0)
    got.getLong(1) shouldBe batch.getLong(1)
    got.getLong(2) shouldBe batch.getLong(2)
    got.getLong(0) should be >= epoch2024 * 1000000000L
  }
}
