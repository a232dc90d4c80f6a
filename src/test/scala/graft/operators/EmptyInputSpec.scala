package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Robustness sweep: every SparkEntry query must run (not necessarily
  * return rows) against a dataset directory whose tables all have ZERO
  * rows — the empty-shard / first-day-of-pipeline case. Catches
  * head()-on-empty, schema-inference-on-empty-dir, and
  * min/max-of-nothing crashes that unit tests on real data never hit.
  */
class EmptyInputSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark

  private lazy val emptyDir: String = {
    val dir = new java.io.File("/tmp/graft_empty_sf")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (dir.exists()) rm(dir)
    dir.mkdirs()
    val src = "/root/testdata/sf0.001"
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    tables.foreach { t =>
      val schema = spark.read.parquet(s"$src/$t.parquet").schema
      val stage = new java.io.File(dir, s"_stage_$t")
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, s"$t.parquet").toPath)
      rm(stage)
    }
    // events keeps its physical schema (TestSpark reads a NANOS ts as
    // a long, like GraftSession)
    val eventsSchema = spark.read.parquet(s"$src/events.parquet").schema
    val stage = new java.io.File(dir, "_stage_events")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eventsSchema)
      .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "events.parquet").toPath)
    rm(stage)
    dir.getAbsolutePath
  }

  // dbscan_golden reads a fixed CSV fixture, not the sf dir — skip
  // (it is not an empty-input path).
  private val skip = Set("dbscan_golden")

  graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(skip).foreach { name =>
    test(s"$name runs on zero-row tables") {
      noException should be thrownBy {
        graft.SparkEntry.queries(name)(spark, emptyDir).count()
      }
      spark.catalog.clearCache()
    }
  }
}
