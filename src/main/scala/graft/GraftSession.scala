package graft

import org.apache.spark.sql.SparkSession

import graft.operators.CacheScope

/** The one place a graft main builds its Spark session and drops a
  * query's leftovers. Bench, Verify, ScaleBench and `tools.Probe` all go
  * through it, so the plans the oracle checks are the plans the bench
  * times.
  */
object GraftSession {

  /** A `local[cpus]` session: shuffle width = cpus, AQE on, a 64 MB
    * broadcast threshold, the graft planner extensions, UTC session
    * time, TIMESTAMP(NANOS) parquet read as epoch-nano long (see
    * `Sources.events`), no UI and WARN logging. `extra` confs are
    * applied last, so they may override any of these.
    */
  def local(app: String, cpus: Int, extra: Map[String, String] = Map.empty)
      : SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop what one query left behind: its session-scoped persists and
    * round checkpoints (see [[CacheScope.releaseSession]]) and any other
    * cached frame.
    */
  def release(spark: SparkSession): Unit = {
    CacheScope.releaseSession(spark)
    spark.catalog.clearCache()
  }
}
