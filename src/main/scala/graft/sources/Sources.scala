package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Central source layer: every table the engine reads, with its quirks
  * handled in one place. The reference's only source is a text file of
  * comma-separated points (reference: README.md:73-75,
  * DBSCANSuite.scala:32-34); this engine reads the driver's parquet
  * tables plus CSV for the golden fixture.
  */
object Sources {

  /** TPC-H-ish tables: plain parquet scans (schema from the footer;
    * filters/pruning push down — PLANS.md shows `PushedFilters`).
    */
  def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The engine's canonical `ts` encoding: epoch-nanosecond Long. Every
    * downstream consumer (batch queries, streaming windows, the bench
    * fixtures) does exact integer arithmetic on this contract, e.g.
    * `ts div 1000000000` for epoch seconds.
    *
    * The physical encoding in events.parquet has drifted across data
    * generations — INT64 TIMESTAMP(NANOS) historically, TIMESTAMP(
    * MICROS, isAdjustedToUTC=false) currently — so the read path sniffs
    * the footer-derived Spark type and normalizes here, in one place,
    * instead of asserting one encoding at 14 call sites. Naive (NTZ)
    * timestamps are interpreted as UTC, matching the DuckDB oracle's
    * `epoch_ms(ts)` reading of the same files.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // already epoch-nano long (legacy NANOS read)
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        // NTZ -> TZ cast interprets the wall-clock in the session time
        // zone; callers below require it to be UTC.
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported physical type $other")
    }

  /** Naive (NTZ) timestamps read as UTC. GraftSession sets the zone
    * (and `nanosAsLong`, so a TIMESTAMP(NANOS) file, the historical
    * encoding, reads as epoch-nano long); a read checks, never sets.
    */
  private def requireUtc(s: SparkSession): Unit = {
    val tz = s.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized == java.time.ZoneOffset.UTC,
      s"events reads need spark.sql.session.timeZone=UTC; the session has $tz")
  }

  /** The events table with `ts` normalized to epoch-nano Long,
    * whatever the file's physical timestamp encoding.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    requireUtc(s)
    normalizeTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** The events schema with `ts` as the canonical epoch-nano long;
    * the stream source swaps in the file's physical ts type and
    * normalizes after the scan.
    */
  val eventsStreamSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of the events table (file source; glob-filtered so
    * the directory's other tables are ignored). File streams require an
    * explicit schema, and an explicit schema must match the physical
    * encoding — so sniff the footer type with a driver-side batch read
    * of the same file, stream with that type, then normalize to the
    * canonical epoch-nano long. A one-file footer read costs nothing at
    * any scale and makes the stream survive encoding drift the same way
    * the batch path does.
    */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    requireUtc(s)
    val physicalTs = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(eventsStreamSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = physicalTs) else f))
    normalizeTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** The documents schema every consumer sees (canonical types). */
  val documentsStreamSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The embeddings schema every consumer sees (canonical types). */
  val embeddingsStreamSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File streams require an explicit schema, and an explicit schema
    * asserts a physical encoding — the exact failure mode of the r8/r9
    * events `ts` regression (the writer re-encoded, the hardcoded
    * schema misread). So every stream source here sniffs the physical
    * schema from the footer with a driver-side batch read (one footer,
    * costs nothing at any scale), streams with THAT, then casts to the
    * canonical schema. Integer-width or float-width drift (int32
    * n_chars, float64 embeddings, int64 label) becomes a cast instead
    * of a silent misread or a scan error.
    */
  private def sniffedStream(s: SparkSession, dir: String, table: String,
      canonical: StructType): DataFrame = {
    val physical = s.read.parquet(s"$dir/$table.parquet").schema
    val raw = s.readStream.schema(physical)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)
    raw.select(canonical.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Streaming read of the documents table (file source). */
  def documentsStream(s: SparkSession, dir: String): DataFrame =
    sniffedStream(s, dir, "documents", documentsStreamSchema)

  /** Streaming read of the embeddings table (file source). */
  def embeddingsStream(s: SparkSession, dir: String): DataFrame =
    sniffedStream(s, dir, "embeddings", embeddingsStreamSchema)

  /** Headerless x,y[,label] points CSV (the reference's input format). */
  def pointsCsv(s: SparkSession, path: String): DataFrame =
    s.read.csv(path).select(
      col("_c0").cast("double").as("x"),
      col("_c1").cast("double").as("y"))
}
