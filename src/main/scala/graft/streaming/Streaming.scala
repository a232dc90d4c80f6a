package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.CacheScope
import graft.operators.CacheScope.persist
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout,
  StreamingQueryListener}
import org.apache.spark.sql.types._

final case class UserEvent(user_id: Long, value: Double)
final case class UserState(user_id: Long, max_value: Double, n_events: Long)
final case class ChangeEvent(mk: Long, event_id: Long, event_type: String, s: Long)
final case class ChangeState(mk: Long, last_s: Long, last_id: Long,
  last_type: String, n_events: Long)
final case class GapEvent(user_id: Long, s: Long, event_id: Long)
final case class GapState(user_id: Long, last_s: Long, last_id: Long,
  n_gaps: Long, sum_g: Long, sum_g2: Long, n_anomalies: Long)
final case class ThrottleEvent(user_id: Long, event_type: String,
  s: Long, event_id: Long)
final case class ThrottleState(user_id: Long, event_type: String,
  last_kept_s: Long, n_seen: Long, n_kept: Long)
final case class SkyEvent(event_type: String, value: Double, sec: Long)
final case class SkyState(event_type: String, n_seen: Long,
  vs: List[Double], ss: List[Long])
final case class TransEvent(user_id: Long, event_type: String, s: Long,
  event_id: Long)
final case class TransLast(user_id: Long, last_type: String, last_s: Long,
  last_id: Long)
final case class Transition(from_type: String, to_type: String)
final case class FunEvent(user_id: Long, event_type: String, s: Long,
  event_id: Long)
final case class FunState(user_id: Long, open: Boolean, last_s: Long,
  mv: Long, mc: Long, mp: Long, pend_click: Long, pend_purch: Long,
  cl_sessions: Long, cl_view: Long, cl_click: Long, cl_purchase: Long)
final case class FunTotals(user_id: Long, n_sessions: Long, n_view: Long,
  n_click: Long, n_purchase: Long)
final case class DecayEvent(user_id: Long, h: Long, w: Long)
final case class DecayState(user_id: Long, n_events: Long,
  hours: List[Long], wsums: List[Long], cnts: List[Long])
final case class AttrEvent(user_id: Long, event_type: String, s: Long,
  event_id: Long, value: Double)
final case class AttrLast(user_id: Long, last_type: String)
final case class AttrHit(attr_type: String, value: Double)
final case class TrendState(event_type: String, n_events: Long,
  days: List[Long], counts: List[Long])

/** Structured Streaming operators over the events table.
  *
  * Batch parquet drives the stream (file source + memory or parquet
  * sink + processAllAvailable), so results are deterministic and each
  * query has a plain batch-SQL oracle. The same plans run unchanged
  * against a real source (kafka/files) at scale — aggregation state is
  * keyed and partitioned by the group columns.
  *
  * Each bounded query runs on a private clone of the caller's session
  * ([[runBounded]]): the caller's conf and catalog are never touched.
  *
  * events.ts arrives from Sources normalized to the canonical
  * epoch-nano long whatever the file's physical timestamp encoding
  * (Sources.normalizeTs), so bucket arithmetic here is exact integer
  * division on nanos.
  */
object Streaming {

  private def eventStream(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.eventsStream(s, dir)

  /** Per-query state width, set on each query's session clone only. A
    * streaming query's state is sharded by the shuffle width AT QUERY
    * START and fixed for the query's lifetime — a sizing decision per
    * query (shard count ~ state volume / healthy-store size), not the
    * caller's batch shuffle width. Every store-partition pays a fixed
    * commit cost per micro-batch regardless of content, so for the
    * KB-scale state these queries keep (hours x types, user ids, join
    * buffers) the floor wins: measured per-query at sf0.1, 2 partitions
    * beats 4 beats 8 on every shape, most dramatically the 4-store
    * stream-stream join (st04 10.0s -> 6.1s); 32 was catastrophic
    * (r1: 156s of summed commits). At real state volumes raise it to
    * keep individual stores bounded.
    */
  private val StatePartitions = "2"

  /** Runs `df` as a bounded stream (`mode`, the sink `to` configures)
    * until it has processed all available input, on a private clone of
    * `df`'s session, and returns the clone. Only the clone gets the
    * state width. It carries the caller's streaming listeners, and
    * every event of the query has reached them before the query's
    * listener buses are dropped.
    */
  private def runBounded(df: DataFrame, mode: String)(
      to: DataStreamWriter[Row] => DataStreamWriter[Row]): SparkSession = {
    val clone = Bridge.cloneSession(df.sparkSession)
    clone.conf.set("spark.sql.shuffle.partitions", StatePartitions)
    df.sparkSession.streams.listListeners().foreach(clone.streams.addListener)
    val stopped = new CountDownLatch(1)
    clone.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = stopped.countDown()
    })
    val q = to(Bridge.ofRows(clone, Bridge.analyzed(df)).writeStream.outputMode(mode)).start()
    try q.processAllAvailable()
    finally {
      q.stop()
      stopped.await(30, TimeUnit.SECONDS)
      Bridge.dropStreamsBuses(q)
    }
    clone
  }

  /** ROUTE ONCE: the shard fleet's one dispatch. The bounded stream
    * `df` carries each arrival's arm in column `key` (computed once per
    * arrival, so router work never grows with the arm count).
    * Executors write the routed arrivals — a DATA-SIZED intermediate —
    * straight to a parquet table in a [[CacheScope.scratchDir]], the
    * ingest tier's route-and-dispatch; the driver never holds a row
    * (unlike [[runToTable]]'s memory sink, the right shape only for
    * query RESULTS). The table is read back distributed, clustered by
    * `key` once and persisted, so an arm's filter prunes cached batches
    * by their column stats. One `min`/`max` aggregate fills the cache
    * and lets the driver `require` that every routed key names one of
    * the `n` arms. The returned frame cannot run after the session's
    * release.
    */
  private def dispatch(df: DataFrame, key: String, n: Int): DataFrame = {
    val out = CacheScope.scratchDir(df.sparkSession, "graft_scatter_")
    val data = new java.io.File(out, "data").getAbsolutePath
    runBounded(df, "append")(_.format("parquet").option("path", data)
      .option("checkpointLocation", new java.io.File(out, "cp").getAbsolutePath))
    // the read lists the files the sink's log committed; given the
    // stream's schema, a log with none (empty source, all-empty batches)
    // reads as an empty table instead of failing schema inference
    val routed = persist(df.sparkSession.read.schema(df.schema).parquet(data)
      .repartition(col(key)))
    val span = routed.agg(min(col(key)).cast("long"), max(col(key)).cast("long")).head()
    require(span.isNullAt(0) || (span.getLong(0) >= 0 && span.getLong(1) < n),
      s"routed $key in [${span.get(0)}, ${span.get(1)}], outside the $n arms")
    routed
  }

  /** A bounded stream's result through the memory sink, as a frame of
    * the caller's session over the sink's rows (append and update
    * accumulate, complete replaces; nothing is copied). The sink's view
    * is named in the clone's catalog only.
    */
  private def runToTable(df: DataFrame, mode: String): DataFrame = {
    val clone = runBounded(df, mode)(_.format("memory").queryName("graft_stream"))
    Bridge.ofRows(df.sparkSession, Bridge.analyzed(clone.table("graft_stream")))
  }

  /** Tumbling 1-hour windowed aggregate per event type (complete mode). */
  def hourlyStats(s: SparkSession, dir: String): DataFrame = {
    val agg = eventStream(s, dir)
      .groupBy(
        (expr("ts div 1000000000 div 3600") * 3600).as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
    runToTable(agg, "complete")
      .orderBy("hour_start", "event_type")
  }

  /** Watermarked tumbling-window aggregate in append mode: windows are
    * emitted only once the event-time watermark (max event time minus
    * `delayHours`) passes their end — the production late-data shape.
    * With the deterministic file replay, exactly the windows whose end
    * precedes max(ts) - delay are finalized (the trailing ones stay in
    * state), so the query has a closed-form batch oracle.
    */
  def hourlyStatsWatermarked(s: SparkSession, dir: String, delayHours: Int = 2): DataFrame = {
    val agg = eventStream(s, dir)
      .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      .withWatermark("event_time", s"$delayHours hours")
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double").as("total_value"))
      .select(col("window.start").cast("long").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))
    runToTable(agg, "append")
      .orderBy("hour_start", "event_type")
  }

  /** Gap-based session windows per user (30-minute inactivity gap),
    * complete mode: sessions merge as events arrive; the final state
    * equals batch gap-sessionization, so the oracle is the classic
    * lag/cumsum session assignment. Session end = last event + gap;
    * touching windows MERGE (an event exactly `gap` after the previous
    * one extends the session — Spark merges on start <= previous end,
    * verified at sf0.1 where exactly-1800s gaps occur).
    */
  def userSessions(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val agg = eventStream(s, dir)
      .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      .groupBy(
        col("user_id"),
        session_window(col("event_time"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("sw.start").cast("long").as("sess_start"),
        col("sw.end").cast("long").as("sess_end"),
        col("n"))
    runToTable(agg, "complete")
      .orderBy("user_id", "sess_start")
  }

  /** [[userSessions]] in APPEND mode — the production spelling: with a
    * watermark, a session row is emitted exactly once, when the
    * event-time watermark passes its end (no more events can merge
    * into it), and its state is dropped — bounded state AND bounded
    * output, unlike complete mode's grows-forever result table. With
    * the deterministic replay, exactly the sessions whose end <=
    * max(ts) - delay finalize (the trailing ones stay in state), so
    * the batch oracle is st05's gap-sessionization filtered to the
    * watermark-closed window.
    */
  def userSessionsAppend(s: SparkSession, dir: String,
      gapMinutes: Int = 30, delayHours: Int = 2): DataFrame = {
    val agg = eventStream(s, dir)
      .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      .withWatermark("event_time", s"$delayHours hours")
      .groupBy(
        col("user_id"),
        session_window(col("event_time"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"),
        col("sw.start").cast("long").as("sess_start"),
        col("sw.end").cast("long").as("sess_end"),
        col("n"))
    runToTable(agg, "append")
      .orderBy("user_id", "sess_start")
  }

  /** Streaming term-dispersion maintenance (st47): t49's corpus-mix
    * monitor kept LIVE — the stream maintains the (source, token)
    * count cells (complete mode; state bounded by |sources|·|vocab|,
    * the vocabulary being the bounded axis of any tokenized corpus),
    * and the readout derives source sizes, the corpus total, the
    * top-50 terms and each term's exact-integer DP exactly as the
    * batch query does. Batch t49 is the verbatim oracle.
    */
  def streamTermDispersion(s: SparkSession, dir: String): DataFrame = {
    val cells = graft.sources.Sources.documentsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // one task per FILE otherwise
      .select(col("source"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val tok = runToTable(cells, "complete")
    // all readout sides derive from the memory-sink view: fresh
    // aliases on every derived output so the joins resolve
    val ssz = tok.groupBy(col("source").as("z_src"))
      .agg(sum(col("c")).as("ssz"))
    val stot = ssz.agg(sum(col("ssz")).as("S"))
    val top = tok.groupBy(col("tok").as("t_tok"))
      .agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("t_tok").asc).limit(50)
    tok.join(broadcast(top), col("tok") === col("t_tok"))
      .join(broadcast(ssz), col("source") === col("z_src"))
      .crossJoin(broadcast(stot))
      .groupBy(col("t_tok"), col("ct"), col("S"))
      .agg(sum(abs(col("c") * col("S") - col("ssz") * col("ct"))).as("numPresent"),
        sum(col("ssz")).as("sPresent"))
      .select(col("t_tok").as("tok"), col("ct"),
        round((col("numPresent") + (col("S") - col("sPresent")) * col("ct"))
          .cast("double") / (lit(2.0) * col("ct") * col("S")), 6).as("dp"))
  }

  /** Streaming per-source KL maintenance (st51): t53's domain-shift
    * readout kept live as the corpus streams in — the monitor a
    * mixture tuner watches while an ingest runs. State is the
    * bounded |sources|·|vocab| complete-mode (source, token) count
    * table (st47's contract); the readout reruns t53's exact
    * fixed-point math (all four log2Fp terms, order-free bigint
    * numerator, one double division) on the maintained counts, so
    * after the replayed corpus the output IS t53's table — the batch
    * oracle verifies the stream verbatim. No tokens filter: t53's
    * split semantics (an empty text contributes its one empty-string
    * token) must survive the stream path or the hashes diverge.
    */
  def streamSourceKl(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Mixture.log2Fp
    val cells = graft.sources.Sources.documentsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // one task per FILE otherwise
      .select(col("source"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
    val st = runToTable(cells, "complete")
    val ct = st.groupBy(col("tok").as("t_tok"))
      .agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source").as("z_src"))
      .agg(sum(col("c_st")).as("n_s"))
    val tot = ns.agg(sum(col("n_s")).as("n_tot"))
    st.join(ct, col("tok") === col("t_tok"))
      .join(broadcast(ns), col("source") === col("z_src"))
      .crossJoin(broadcast(tot))
      .withColumn("lr",
        log2Fp("c_st") + log2Fp("n_tot") - log2Fp("n_s") - log2Fp("c_t"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(expr("c_st * lr")).as("num"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(col("num").cast("double") /
          (col("n_tokens").cast("double") * lit(65536.0)), 6).as("kl_bits"))
  }

  /** Streaming A/V sync QA (st52): m16's centered cross-correlation
    * lag detector run on ARRIVING assets — the ingest-time muxing gate
    * (drifted pairs are flagged before they reach any
    * alignment-supervised training set). Stateless: the shared
    * [[graft.operators.Multimodal.avSyncLag]] kernel runs per row in
    * the same typed partition pass batch uses (repartition first —
    * the kernel is the expensive step on a one-file source), so
    * stream == batch row for row and m16's oracle verifies verbatim.
    */
  def streamAvSync(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val withPayloads = Multimodal.withBinaryPayload(
        graft.sources.Sources.documentsStream(s, dir)
          .repartition(s.sparkContext.defaultParallelism)
          .filter(length(col("text")) >= 192)
          .select(col("doc_id"), col("text")), "text")
      .withColumnRenamed("payload", "payload_a")
      .withColumn("payload_b", expr(
        "substring(payload_a, cast(doc_id % 4 as int) * 16 + 1, length(payload_a))"))
    val lags = Multimodal.avSyncLag(s, withPayloads).toDF()
    runToTable(lags, "append")
      .withColumn("planted_lag", (col("doc_id") % 4).cast("long"))
      .select(col("doc_id"), col("n_blocks"), col("planted_lag"),
        col("best_lag"), col("best_score"),
        (col("best_lag") === col("planted_lag")).as("synced"))
  }

  /** Streaming CDC chunk-savings probe (st48): m14's storage-dedup
    * question asked of an ARRIVING shard — per incoming doc, how many
    * of its content-defined chunks (and bytes) already exist in the
    * frozen corpus's chunk store. The static side is the corpus's
    * distinct chunk-hash set (a build-once asset at scale); the
    * stream side runs the SAME [[graft.functions.TextKernels.cdcChunks]]
    * kernel in a typed flatMap (stateless; repartition first — the
    * kernel is the expensive step on a one-file source), and the
    * stream-static left join flags known chunks. No islands pass:
    * chunk savings are per-chunk, not span-merged.
    */
  def streamChunkProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    val corpusChunks = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("t"))
      .as[(Long, String)]
      .flatMap { case (_, t) =>
        graft.functions.TextKernels.cdcChunks(
          if (t == null) "" else t, w = 8, mask = 63).map(_._1)
      }
      .toDF("ch").distinct()
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val probe = graft.sources.Sources.documentsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select((col("doc_id") + 100000).cast("long").as("doc_id"),
        array_join(slice(toks, lit(1),
          greatest(floor(size(toks) * 0.8).cast("int"), lit(1))), " ")
          .cast("string").as("t"))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.functions.TextKernels.cdcChunks(
          if (t == null) "" else t, w = 8, mask = 63)
          .map { case (h, l) => (id, h, l.toLong) }
      }
      .toDF("id", "ch", "clen")
    val flagged = probe
      .join(corpusChunks.withColumn("hit", lit(1L)), Seq("ch"), "left_outer")
      .select(col("id"), col("clen"), coalesce(col("hit"), lit(0L)).as("hit"))
    runToTable(flagged, "append")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("total_bytes"),
        sum(col("hit")).as("n_dup_chunks"),
        sum(when(col("hit") === 1L, col("clen")).otherwise(0L)).as("dup_bytes"))
      .select(col("id").as("doc_id"), col("n_chunks"), col("total_bytes"),
        col("n_dup_chunks"), col("dup_bytes"),
        round(when(col("total_bytes") > 0L,
          col("dup_bytes").cast("double") / col("total_bytes")), 6)
          .as("dup_frac"))
  }

  /** Streaming session entry/exit/bounce analysis (st46): q76's
    * landing-page table over WATERMARK-CLOSED sessions. The session
    * aggregate carries the first and last event as min/max structs
    * over (sec, event_id, type) — mergeable state, so it rides the
    * built-in session_window in append mode (a session emits exactly
    * once, when the watermark passes its end, st13's convention); the
    * per-type readout is a batch post-pass over the emitted rows. The
    * oracle replays gap-sessionization and keeps sessions whose
    * end+gap clears the final watermark.
    */
  def streamEntryExit(s: SparkSession, dir: String,
      gapMinutes: Int = 30, delayHours: Int = 2): DataFrame = {
    val agg = eventStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // one task per FILE otherwise (st42's lesson)
      .withColumn("sec", expr("ts div 1000000000"))
      .withColumn("event_time", timestamp_seconds(col("sec")))
      .withWatermark("event_time", s"$delayHours hours")
      .groupBy(col("user_id"),
        session_window(col("event_time"), s"$gapMinutes minutes").as("sw"))
      .agg(min(struct(col("sec"), col("event_id"), col("event_type"))).as("fst"),
        max(struct(col("sec"), col("event_id"), col("event_type"))).as("lst"),
        count(lit(1)).as("n"))
    val sess = runToTable(agg, "append")
    // both readouts derive from the memory-sink view: expose only
    // fresh aliases on each side so the full-outer join resolves
    val entries = sess.groupBy(col("fst")("event_type").as("event_type"))
      .agg(count(lit(1)).as("n_entries"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_bounces"))
    val exits = sess.groupBy(col("lst")("event_type").as("x_type"))
      .agg(count(lit(1)).as("n_exits"))
    entries.join(exits, col("event_type") === col("x_type"), "full_outer")
      .select(coalesce(col("event_type"), col("x_type")).as("event_type"),
        coalesce(col("n_entries"), lit(0L)).as("n_entries"),
        coalesce(col("n_exits"), lit(0L)).as("n_exits"),
        coalesce(col("n_bounces"), lit(0L)).as("n_bounces"))
  }

  /** Stream-stream inner join with watermarks and an event-time range
    * condition: each click joined to the same user's views from the
    * preceding hour. Both sides keep watermarked state; the time bound
    * lets Spark evict view state older than (click watermark - 1h).
    * Inner-join matches emit as they are found (not watermark-gated),
    * so the deterministic replay has a plain batch-join oracle.
    */
  /** The unstarted click-view join stream (also used by profiling
    * tools, so they measure exactly this query).
    */
  def clickViewJoinStream(s: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, idAs: String, userAs: String, timeAs: String): DataFrame =
      eventStream(s, dir)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          timestamp_seconds(expr("ts div 1000000000")).as(timeAs))
        .withWatermark(timeAs, "1 hour")
    val clicks = side("click", "c_id", "c_user", "c_time")
    val views = side("view", "v_id", "v_user", "v_time")
    clicks.join(views,
      col("c_user") === col("v_user") &&
        col("v_time") <= col("c_time") &&
        col("v_time") >= col("c_time") - expr("INTERVAL 1 HOUR"))
      .select(col("c_id"), col("v_id"), col("c_user").as("user_id"))
  }

  def clickViewJoin(s: SparkSession, dir: String): DataFrame =
    runToTable(clickViewJoinStream(s, dir), "append")
      .orderBy("c_id", "v_id")

  /** Stream-stream LEFT OUTER join (st22): st04's click-view
    * attribution, but clicks that never matched a view ALSO emit —
    * with a null view side — once the global watermark proves no
    * matching view can still arrive. Because the range condition says
    * matching views satisfy v_time <= c_time, a click is decidable as
    * soon as the watermark passes its own event time; Spark emits its
    * null row and drops its state in the watermark-advancing (possibly
    * no-data) micro-batch. The deterministic consequence — and the
    * oracle's closed form — is: inner matches are emitted ungated
    * (exactly the batch join), while null rows appear for precisely
    * the unmatched clicks with c_time <= min(max c_time, max v_time)
    * - delay, the final global watermark of the bounded replay. The
    * null view id is canonicalized to -1 so both engines order the
    * rows identically (engines disagree on NULL sort placement).
    */
  def clickViewJoinOuter(s: SparkSession, dir: String): DataFrame = {
    def side(tpe: String, idAs: String, userAs: String, timeAs: String): DataFrame =
      eventStream(s, dir)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(idAs), col("user_id").as(userAs),
          timestamp_seconds(expr("ts div 1000000000")).as(timeAs))
        .withWatermark(timeAs, "1 hour")
    val clicks = side("click", "c_id", "c_user", "c_time")
    val views = side("view", "v_id", "v_user", "v_time")
    val joined = clicks.join(views,
        col("c_user") === col("v_user") &&
          col("v_time") <= col("c_time") &&
          col("v_time") >= col("c_time") - expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("c_id"), coalesce(col("v_id"), lit(-1L)).as("v_id"),
        col("c_user").as("user_id"))
    runToTable(joined, "append")
      .orderBy("c_id", "v_id")
  }

  /** Arbitrary stateful processing: per-user running (max, count) via
    * mapGroupsWithState (update mode). The memory table is re-aggregated
    * at the end so multi-batch replays stay correct.
    */
  def userRunningState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = eventStream(s, dir)
      .select(col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[UserEvent],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, Double.NegativeInfinity, 0L))
          val next = events.foldLeft(prev) { (acc, e) =>
            UserState(uid, math.max(acc.max_value, e.value), acc.n_events + 1)
          }
          state.update(next)
          next
      }
    runToTable(updates.toDF(), "update")
      .groupBy("user_id")
      .agg(max("max_value").as("max_value"), max("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Streaming CDC apply — the streaming arm of the q46 batch MERGE:
    * per-merge-key latest-change state (argmax by (s, event_id), plus
    * the running change count) via mapGroupsWithState, then the final
    * key states classified insert/update against the static dimension.
    * 'keep' rows are never emitted — a CDC stream surfaces only touched
    * keys, which is exactly what makes it cheaper than the batch apply
    * at scale: state and output are O(touched keys), not O(dim).
    * The update-mode memory table holds one row per key per touching
    * micro-batch; the re-aggregate keeps the argmax row (the (s, id)
    * pair grows monotonically per key, so max(struct) is the last
    * update — same replay-safety recipe as st02). Shares q46's oracle
    * minus the keep branch.
    */
  def streamMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = eventStream(s, dir)
      .select((col("user_id") * 31L).as("mk"), col("event_id"),
        col("event_type"), expr("ts div 1000000000").as("s"))
      .as[ChangeEvent]
      .groupByKey(_.mk)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (mk: Long, evs: Iterator[ChangeEvent],
            state: org.apache.spark.sql.streaming.GroupState[ChangeState]) =>
          val prev = state.getOption.getOrElse(
            ChangeState(mk, Long.MinValue, Long.MinValue, null, 0L))
          val next = evs.foldLeft(prev) { (acc, e) =>
            val newer = e.s > acc.last_s ||
              (e.s == acc.last_s && e.event_id > acc.last_id)
            if (newer) ChangeState(mk, e.s, e.event_id, e.event_type,
              acc.n_events + 1)
            else acc.copy(n_events = acc.n_events + 1)
          }
          state.update(next)
          next
      }
    val finalState = runToTable(updates.toDF(), "update")
      .groupBy(col("mk"))
      .agg(max(struct(col("last_s"), col("last_id"), col("last_type"))).as("last"),
        max(col("n_events")).as("n_events"))
    val cust = graft.sources.Sources.table(s, dir, "customer")
    finalState.join(cust, col("mk") === col("c_custkey"), "left_outer")
      .select(col("mk").as("merge_key"),
        when(col("c_custkey").isNotNull, "update").otherwise("insert").as("action"),
        col("c_name"), col("c_mktsegment"),
        col("last.last_type").as("last_type"),
        col("last.last_s").as("last_seen_s"),
        col("n_events"))
      .orderBy("merge_key")
  }

  /** Stream enriched against a slowly-changing dimension AT EVENT TIME
    * — the canonical streaming-warehouse pattern the board's other
    * stream-static probes (st08/st09/st14: point lookups into static
    * assets) don't cover: a TEMPORAL interval lookup. The dimension is
    * q41's type-2 run history (built batch-side from the same corpus,
    * plus the run's PREDECESSOR status via one more lag over runs);
    * each streamed event joins the single history row whose
    * [valid_from, valid_to) interval contains its event time — "what
    * state was this user in before the run this event belongs to".
    * Per micro-batch the join plans as a user_id hash equi-join with
    * the interval predicate as a residual filter; at warehouse scale
    * both sides are bucketed by the key and the dimension is the usual
    * build-once asset. The run intervals partition each user's
    * timeline from their first event, so every event matches EXACTLY
    * one row (count invariant: output n sums to the corpus row count).
    * Complete-mode (event_type, prev_status) rollup keeps the output
    * deterministic under any micro-batch split.
    */
  def streamScd2Enrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val secs = expr("ts div 1000000000")
    val wE = Window.partitionBy($"user_id").orderBy(secs, $"event_id")
    val runs = graft.sources.Sources.events(s, dir)
      .withColumn("sec", secs)
      .withColumn("prev_t", lag($"event_type", 1).over(wE))
      .withColumn("chg",
        when($"prev_t".isNull || $"prev_t" =!= $"event_type", 1).otherwise(0))
      .withColumn("run_id", sum($"chg").over(
        wE.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"run_id")
      .agg(min($"event_type").as("status"), min($"sec").as("valid_from"))
    val wu = Window.partitionBy($"user_id").orderBy($"run_id")
    val hist = runs
      .withColumn("valid_to", lead($"valid_from", 1).over(wu))
      .withColumn("prev_status",
        coalesce(lag($"status", 1).over(wu), lit("none")))
      .select($"user_id".as("h_uid"), $"valid_from", $"valid_to",
        $"prev_status")
    val joined = eventStream(s, dir)
      .withColumn("sec", expr("ts div 1000000000"))
      .join(hist, col("user_id") === col("h_uid") &&
        col("sec") >= col("valid_from") &&
        (col("valid_to").isNull || col("sec") < col("valid_to")))
    val agg = joined.groupBy(col("event_type"), col("prev_status"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("total_value"))
    runToTable(agg, "complete").orderBy("event_type", "prev_status")
  }

  /** Streaming exact dedup — the streaming half of the batch exact-dedup
    * operator ([[graft.operators.Dedup.exactDuplicates]]): keyed
    * `dropDuplicates` state, each key emitted once (append mode). The
    * query surfaces only the KEY columns: which physical row arrives
    * first for a key is micro-batch-order-dependent, so the
    * deterministic (oracle-checkable) output is the distinct key set.
    * State is one entry per distinct key, sharded by the state
    * partitioning — at corpus scale bound it with a watermark
    * (`dropDuplicatesWithinWatermark`) exactly like any keyed state.
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val dedup = eventStream(s, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runToTable(dedup, "append")
      .orderBy("user_id", "event_type")
  }

  /** [[streamDedup]] with BOUNDED state — the production respelling via
    * `dropDuplicatesWithinWatermark`. Keys carry their hour bucket
    * (`user_id, event_type, hour_start`), so every duplicate of a key
    * has event time within 1 hour of the key's first occurrence — well
    * inside the `delayHours` watermark — and the deterministic replay
    * emits exactly the distinct key set (same closed-form oracle shape
    * as st06). The difference is the state contract: a key's entry is
    * EVICTED once the watermark passes its event time + delay, so state
    * is O(distinct keys per sliding delay window), not O(all keys ever)
    * — the fix for st06's semantically-unbounded dropDuplicates state.
    * A key recurring AFTER eviction would re-emit (the documented
    * within-watermark semantic); hour-bucketed keys make that
    * impossible here. StreamingBoundedStateSpec drives a multi-batch
    * replay and asserts the state-row bound.
    */
  def streamDedupBounded(s: SparkSession, dir: String, delayHours: Int = 2): DataFrame = {
    val dedup = eventStream(s, dir)
      .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      .withColumn("hour_start", (expr("ts div 1000000000 div 3600") * 3600))
      .withWatermark("event_time", s"$delayHours hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour_start")
      .select(col("user_id"), col("event_type"), col("hour_start"))
    runToTable(dedup, "append")
      .orderBy("user_id", "event_type", "hour_start")
  }

  /** [[userRunningState]] with EVICTING state — `EventTimeTimeout`
    * instead of `NoTimeout`: a user idle for `ttlHours` of event time
    * past their last event is timed out; the timeout branch emits the
    * final state and `remove()`s it, so state is O(users active within
    * the TTL horizon), not O(all users ever) — the production contract
    * for a per-key running aggregate over an unbounded key space.
    *
    * Output is UNCHANGED vs [[userRunningState]] for the deterministic
    * replay: the timeout branch emits exactly what the last update
    * emitted, and the memory-table re-aggregate (max) absorbs either
    * path — so st12 shares st02's closed-form oracle. (After an
    * eviction a RETURNING user starts a fresh count — the inherent
    * TTL tradeoff; the registered single-replay query never hits it,
    * and StreamingBoundedStateSpec exercises it explicitly.)
    */
  def userRunningStateTtl(s: SparkSession, dir: String,
      ttlHours: Int = 6, delayHours: Int = 1): DataFrame = {
    import s.implicits._
    val updates = eventStream(s, dir)
      .withColumn("event_time", timestamp_seconds(expr("ts div 1000000000")))
      .select(col("user_id"), col("value"), col("event_time"))
      .withWatermark("event_time", s"$delayHours hour")
      .as[(Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove() // eviction: the bounded-state contract
            last
          } else {
            val prev = state.getOption.getOrElse(UserState(uid, Double.NegativeInfinity, 0L))
            var maxEventMs = Long.MinValue
            val next = rows.foldLeft(prev) { (acc, e) =>
              if (e._3.getTime > maxEventMs) maxEventMs = e._3.getTime
              UserState(uid, math.max(acc.max_value, e._2), acc.n_events + 1)
            }
            state.update(next)
            // Spark rejects a timeout at-or-below the current watermark;
            // a key whose batch lags the watermark by more than the TTL
            // would otherwise throw — clamp to strictly above it.
            state.setTimeoutTimestamp(math.max(
              maxEventMs + ttlHours * 3600L * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            next
          }
      }
    runToTable(updates.toDF(), "update")
      .groupBy("user_id")
      .agg(max("max_value").as("max_value"), max("n_events").as("n_events"))
      .orderBy("user_id")
  }

  /** Streaming NEAR-duplicate dedup — the streaming counterpart of the
    * batch SimHash banding pipeline ([[graft.operators.Dedup
    * .simhashNearPairs]]): each arriving document's 32-bit SimHash is
    * split into 4 8-bit bands; per-band keyed state holds ONE long (the
    * minimum doc id ever seen with that band signature), and a document
    * is flagged a duplicate of the earliest prior doc sharing any band.
    *
    * Semantics are deliberately arrival-order greedy (id order here —
    * the file replay delivers one batch, and in-group ties resolve by
    * sorted id): `canonical_id` = min id among earlier docs sharing >= 1
    * band, NOT the transitive closure d08 computes — the online
    * tradeoff every streaming dedup makes (state is O(distinct band
    * sigs), lookups O(bands); a transitive merge would need the whole
    * pair graph). The per-doc min over band verdicts is a stateless
    * batch reduce over the memory sink, like [[userRunningState]]'s
    * final re-aggregate.
    */
  def streamNearDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val sims = graft.sources.Sources.documentsStream(s, dir)
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, graft.functions.TextKernels.simhash32(if (t == null) "" else t))
      }
      .toDF("id", "simhash")
    val bands = sims.select(col("id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_no"),
            shiftright(col("simhash"), b * 8).bitwiseAND(255).as("sig"))): _*)).as("b"))
      .select(col("id"), col("b.band_no").as("band_no"), col("b.sig").as("sig"))
      .as[(Long, Int, Long)]
    val verdicts = bands
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[(Long, Int, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val ids = rows.map(_._1).toArray
          java.util.Arrays.sort(ids)
          var mn = state.getOption.getOrElse(Long.MaxValue)
          val out = Array.newBuilder[(Long, Long)]
          ids.foreach { id =>
            out += ((id, if (mn == Long.MaxValue) -1L else mn))
            if (id < mn) mn = id
          }
          state.update(mn)
          out.result().iterator
      }
    runToTable(verdicts.toDF("doc_id", "prior"), "update")
      .groupBy("doc_id")
      .agg(min(when(col("prior") >= 0, col("prior"))).as("dup_of"))
      .select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("canonical_id"),
        col("dup_of").isNull.as("is_first"))
  }

  /** Streaming incremental near-dup against the build-once corpus
    * signature index ([[graft.operators.Dedup.ensureSignatureIndex]]) —
    * the production shape of a daily dedup increment run as a stream:
    * each microbatch of NEW documents is minhashed per-row, banded, and
    * stream-static LEFT-joined against the frozen index asset; a doc's
    * canonical is the min index id sharing >= 1 band at estimated
    * similarity >= `minEstSim`, unmatched docs are `is_new`.
    *
    * STATELESS by construction (contrast st07's per-band keyed state):
    * the join side is static, so no streaming state exists and verdicts
    * are batch-invariant — a document's verdict is the same however the
    * stream is chunked. That also makes the output identical to the
    * batch [[graft.operators.Dedup.probeVerdicts]], so the d09 oracle
    * checks this query verbatim. The per-row minhash kernel reproduces
    * [[graft.functions.MinHashAgg]]'s family exactly (the index and the
    * probe must hash identically); the per-doc min over band verdicts
    * is a stateless batch reduce over the memory sink, like
    * [[streamNearDedup]]'s. At scale the static side is the 100 TB
    * index: Spark plans a shuffled or broadcast hash join per
    * microbatch based on its size — nothing here forces the index
    * through the driver.
    */
  /** Streaming corpus-quality routing: each microbatch of documents is
    * scored with the shared Gopher-style rule set
    * ([[graft.functions.TextAnalysis.qualityKeep]]) and routed by
    * (lang, keep); the running per-route doc/token counts are the
    * monitoring surface a streaming ingest pipeline watches (complete
    * mode). Scoring is stateless per-row projection; the only state is
    * the |langs| x 2 aggregate rows. Being stateless, the verdicts are
    * batch-invariant, so the batch aggregate over the same documents
    * is an exact oracle.
    */
  def streamQualityRoute(s: SparkSession, dir: String,
      stopwords: Seq[String]): DataFrame = {
    import graft.functions.TextAnalysis
    val agg = graft.sources.Sources.documentsStream(s, dir)
      .withColumn("keep", TextAnalysis.qualityKeep(col("text"), stopwords).cast("long"))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
      .groupBy(col("lang"), col("keep"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    runToTable(agg, "complete")
      .orderBy("lang", "keep")
  }

  /** Streaming PQ-code matching of incoming vectors against the
    * build-once code asset ([[graft.operators.Similarity.ensurePqIndex]])
    * — the embedding-side twin of [[streamIndexProbe]]: a daily vector
    * ingest linking each new embedding to an existing corpus vector
    * with the IDENTICAL PQ code (code-identical blocking, the cheapest
    * vector-dedup gate: exact duplicates always collide because
    * encoding is deterministic).
    *
    * Each microbatch row is encoded per-row in a typed kernel against
    * the driver-collected codebook (m x ncode x d/m doubles, ~2 KB —
    * the same sanctioned tiny-planning-collect as the DBSCAN margins),
    * then stream-static LEFT-joined against the asset on the code key.
    * Stateless: verdicts are batch-invariant, so the batch spelling of
    * the same encode+join is an exact oracle.
    *
    * The probe shard is the d09-style mutation: every corpus vector
    * re-arrives under id+100000 — unchanged for even ids (guaranteed
    * code-identical match), shifted +10 per element (in double, exactly
    * replicable) for odd ids, which moves them to other code cells
    * (is_new unless they happen to collide with an existing code).
    */
  def streamPqMatch(s: SparkSession, dir: String,
      m: Int = 8, ncode: Int = 32): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val index = Similarity.ensurePqIndex(s, dir, m, ncode) // static asset
    val indexKeyed = index.select(col("n_id"),
      array_join(transform(col("codes"), c => c.cast("string")), ",").as("ckey"))
    val cb = Similarity.pqCodebookLocal(emb, m, ncode)
    val shard = graft.sources.Sources.embeddingsStream(s, dir)
      .select((col("vec_id") + 100000L).as("id"),
        when(col("vec_id") % 2 === 1,
          transform(col("embedding"), x => x.cast("double") + 10.0))
          .otherwise(transform(col("embedding"), x => x.cast("double")))
          .as("vec"))
    val keyed = shard.as[(Long, Array[Double])]
      .map { case (id, vec) =>
        (id, Similarity.pqEncodeLocal(vec, cb).mkString(","))
      }
      .toDF("id", "ckey")
    val joined = keyed.join(indexKeyed, Seq("ckey"), "left_outer")
      .select(col("id"), col("n_id"))
    runToTable(joined, "append")
      .groupBy("id")
      .agg(min(col("n_id")).as("match_id"))
      .select(col("id").as("vec_id"),
        coalesce(col("match_id"), col("id")).as("canonical_id"),
        col("match_id").isNull.as("is_new"))
  }

  def streamIndexProbe(s: SparkSession, dir: String, k: Int = 16,
      bands: Int = 4, n: Int = 3, minEstSim: Double = 0.5): DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    val index = Dedup.ensureSignatureIndex(s, dir) // static build-once asset
    // min/max width audit of the (tiny, k-ints-per-doc) index — catches
    // wrong-k AND mixed-width corruption before any microbatch runs
    Dedup.requireSigWidth(index, k)
    val staticBands = Dedup.bandedSigs(index, k, bands)
      .select(col("id").as("iid"), col("minhashes").as("imh"),
        col("band_no").as("iband"), col("sig").as("isig"))
    // the same 80%-prefix "new shard" mutation d09 probes with, applied
    // in-stream with the identical column expressions
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    val shard = graft.sources.Sources.documentsStream(s, dir)
      .select((col("doc_id") + 100000).cast("long").as("id"),
        array_join(slice(toks, lit(1),
          greatest(floor(size(toks) * 0.8).cast("int"), lit(1))), " ").as("text"))
    val mh = shard.as[(Long, String)]
      .map { case (id, text) =>
        val hs = graft.functions.TextKernels.shingleHashes(
          if (text == null) "" else text, n)
        val sig = Array.fill(k)(Long.MaxValue)
        var j = 0
        while (j < hs.length) {
          var i = 0
          while (i < k) {
            val h = graft.functions.PortableHash.family(i, hs(j), Dedup.P)
            if (h < sig(i)) sig(i) = h
            i += 1
          }
          j += 1
        }
        // a shingle-less doc keeps the MaxValue signature: its band sigs
        // can never equal a real index signature, so it lands is_new —
        // same verdict as its absence from the aggregate-built index
        (id, sig.toSeq)
      }
      .toDF("id", "minhashes")
    val estSim = size(filter(zip_with(col("minhashes"), col("imh"),
      (a, b) => a === b), m => m)).cast("double") / k
    val joined = Dedup.bandedSigs(mh, k, bands)
      .join(staticBands,
        col("band_no") === col("iband") && col("sig") === col("isig") &&
          estSim >= minEstSim,
        "left_outer")
      .select(col("id").as("doc_id"), col("iid").as("match_id"))
    runToTable(joined, "append")
      .groupBy("doc_id")
      .agg(min(col("match_id")).as("dup_of"))
      .select(col("doc_id"),
        coalesce(col("dup_of"), col("doc_id")).as("canonical_id"),
        col("dup_of").isNull.as("is_new"))
  }

  /** Streaming constellation-fingerprint identification (st40): m11's
    * Shazam-style snippet→source matching with the snippet side as a
    * STREAM. The document posting index (df-capped constellation
    * prints) is the static build-once asset; each incoming snippet row
    * fingerprints itself with the per-row kernel
    * ([[graft.operators.Multimodal.constellationPrintsLocal]] — the same
    * kernel that builds the index and m11's prints), probes the index via
    * a stateless stream-static hash equi-join, and appends its matched
    * prints; the offset-aligned vote argmax is the batch readout after
    * the run, so batch m11 is the exact oracle. O(0) keyed state — the
    * probe is stateless; the index is the only standing structure.
    */
  def streamConstellationMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Multimodal
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val dp0 = persist(Multimodal.constellationPrints(
      docs.select(col("doc_id"), col("text"))))
    val kept = dp0.groupBy(col("hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select(col("hash"))
    val index = dp0.join(broadcast(kept), Seq("hash"), "left_semi")
    val snippets = graft.sources.Sources.documentsStream(s, dir)
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").cast("long").as("q_id"),
        expr("substring(text, ((length(text) div 3) div 8) * 8 + 1," +
          " length(text) div 3)").as("text"))
    val qp = snippets.as[(Long, String)]
      .flatMap { case (id, text) =>
        Multimodal.constellationPrintsLocal(text).map {
          case (h, t, _) => (id, h, t.toLong) }
      }
      .toDF("q_id", "hash", "qt")
    val matched = qp.join(index, Seq("hash"))
      .select(col("q_id"), col("doc_id"), (col("t") - col("qt")).as("off"))
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("n_aligned").desc, col("doc_id").asc, col("off").asc)
    runToTable(matched, "append")
      .groupBy(col("q_id"), col("doc_id"), col("off"))
      .agg(count(lit(1)).as("n_aligned"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") === 1)
      .select(col("q_id"), col("doc_id").as("match_id"), col("off"),
        col("n_aligned"), (col("doc_id") === col("q_id")).as("self_match"))
  }

  /** Streaming exact-substring cut-list probe (st44): d21's removal
    * artifact computed IN-FLIGHT for an arriving shard against the
    * frozen corpus. The static side is the DISTINCT window-hash set of
    * the existing corpus (at 100 TB a build-once parquet asset,
    * bucket-joinable on the hash; here derived in-plan — one scan +
    * one distinct aggregate). The stream side explodes each arriving
    * doc into positional window hashes with the SAME column kernel the
    * batch operator uses ([[graft.operators.Dedup.windowHashes]] —
    * stateless, no keyed state, no watermark), and the stream-static
    * left join flags which windows already exist in the corpus. Span
    * merging (gaps-and-islands per doc) and the per-doc readout run
    * over the appended match table. The arriving shard is st08's
    * 80%-prefix mutation, so every probe doc carries a planted
    * near-full-prefix duplicated span.
    */
  def streamDupSpanProbe(s: SparkSession, dir: String,
      windowTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Dedup
    val corpusHashes = Dedup.windowHashes(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "text", "doc_id", windowTokens)
      .select(col("wh")).distinct()
    val toks = graft.functions.TextAnalysis.tokens(col("text"))
    // st42's file-stream lesson: one task per FILE per micro-batch, so
    // the per-doc window explosion (the expensive step) would
    // single-thread on a one-file source — redistribute the raw rows
    // first (the 10× ladder measured per-item 1.21 without this)
    val shard = graft.sources.Sources.documentsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select((col("doc_id") + 100000).cast("long").as("doc_id"),
        array_join(slice(toks, lit(1),
          greatest(floor(size(toks) * 0.8).cast("int"), lit(1))), " ").as("text"))
    val flagged = Dedup.windowHashes(shard, "text", "doc_id", windowTokens)
      .join(corpusHashes.withColumn("hit", lit(1L)), Seq("wh"), "left_outer")
      .select(col("id"), col("p"), coalesce(col("hit"), lit(0L)).as("hit"))
    val tbl = runToTable(flagged, "append")
    val w = Window.partitionBy(col("id")).orderBy(col("p"))
    val totals = tbl.groupBy(col("id"))
      .agg(count(lit(1)).as("n_wins"), sum(col("hit")).as("n_dup"))
    val spans = tbl.filter(col("hit") === 1L)
      .withColumn("brk", when(lag(col("p"), 1).over(w).isNull ||
        col("p") > lag(col("p"), 1).over(w) + windowTokens, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("p")).as("ss"),
        (max(col("p")) + (windowTokens - 1)).as("se"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("se") - col("ss") + 1).as("dup_tokens"),
        max(col("se") - col("ss") + 1).cast("long").as("max_span"))
      // fresh alias for the join key: both sides descend from the same
      // memory-sink view, whose fixed attribute ids would otherwise
      // conflict in the totals ⋈ spans join
      .select(col("id").as("sp_id"), col("n_spans"), col("dup_tokens"),
        col("max_span"))
    totals.join(spans, col("id") === col("sp_id"), "left_outer")
      .select(col("id").as("doc_id"), col("n_wins"), col("n_dup"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
  }

  /** Streaming quality gate (st41): t45's fastText-shaped linear
    * classifier applied in-flight. The weights are column expressions
    * (no table at all), so scoring is a stateless per-row FOLD over
    * the hashed feature array — zero keyed state, append mode, and
    * batch t45 is the exact oracle. Docs with no features are dropped
    * to match the batch explode's inner semantics.
    */
  def streamQualityGate(s: SparkSession, dir: String,
      dim: Int = 131072): DataFrame = {
    val buckets = graft.functions.TextAnalysis
      .hashedNgramBuckets(col("text"), dim)
    val ws = transform(buckets,
      b => (b + 1L) * lit(2654435761L) % 2147483648L % 2001L - 1000L)
    val scored = graft.sources.Sources.documentsStream(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        size(buckets).cast("long").as("n_feats"),
        aggregate(ws, lit(0L), (a, x) => a + x).as("score_fp"))
      .filter(col("n_feats") > 0)
    runToTable(scored, "append")
      .select(col("doc_id"), col("n_feats"), col("score_fp"),
        (col("score_fp").cast("double") / (col("n_feats") * 1000.0))
          .as("score"),
        (col("score_fp") > 0L).as("keep"))
  }

  /** Streaming trained-BPE token counting (st42): t32's tokenizer
    * applied in-flight. The merge table trains ONCE on the static
    * corpus (the build-once KB-scale asset, st08's pattern), then
    * every streamed doc runs the SAME [[graft.operators.BpeTokenizer
    * .countsKernel]] the batch apply uses — shared code, so stream
    * counts = batch counts structurally and batch t32 is the exact
    * oracle. Stateless per-row map, append mode, zero keyed state.
    */
  def streamBpeTokens(s: SparkSession, dir: String): DataFrame = {
    import s.implicits.{newLongEncoder, newProductEncoder, newStringEncoder}
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val ranks = graft.operators.BpeTokenizer.ranksOf(
      graft.operators.BpeTokenizer.trainMergesLocal(docs, "text", "doc_id",
        nMerges = 60, sampleN = 2048, maxWords = 4096))
    // A file-stream source emits one task per FILE per micro-batch (no
    // intra-file splitting, unlike the batch scan) — a single large
    // file would serialize the segmentation kernel onto one core. The
    // kernel is the expensive step here, so redistribute first: the
    // row shuffle costs far less than single-threading O(len²) BPE
    // segmentation (the st42 30× ladder measured 1.73 per-item without
    // this, 10× worse than batch t32 on identical work).
    val counted = graft.sources.Sources.documentsStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id").cast("long").as("id"),
        col("text").cast("string").as("t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val (nw, nSym, nBpe) = graft.operators.BpeTokenizer.countsKernel(t, ranks)
        (id, nw, nSym, nBpe)
      }
      .toDF("doc_id", "n_words", "n_sym", "n_bpe")
    runToTable(counted, "append")
      .withColumn("compression",
        when(col("n_bpe") > 0, col("n_sym").cast("double") / col("n_bpe")))
  }

  /** Streaming semantic dedup — the incremental half of
    * [[graft.operators.Similarity.semanticDedup]] (SemDeDup, Abbas et
    * al. 2023): each incoming vector is coarse-assigned to its cluster
    * per-row against the driver-collected centroids (nlist × d doubles,
    * ~16 KB — the same sanctioned tiny planning collect as
    * [[streamPqMatch]]'s codebook), then stream-static LEFT-joined
    * against the batch-kept cluster REPRESENTATIVES on the cluster id,
    * with the cosine threshold inside the join condition. A vector with
    * no representative within `minCos` of it is semantically new.
    *
    * Stateless (no watermark, no state store): verdicts are
    * batch-invariant, so the batch spelling of the same
    * assign-and-probe is an exact oracle. At corpus scale the static
    * side is the kept-representative table — the join is an ordinary
    * stream-static equi-join on c_id that Spark broadcasts or shuffles
    * per microbatch; candidates per row are its cluster's reps, never
    * the corpus.
    *
    * The probe shard is the streamPqMatch mutation: every corpus vector
    * re-arrives under id+100000, unchanged for even ids (cos 1 against
    * its source, so it dedups iff its source's cluster kept a rep
    * within threshold), +10.0 per element (exactly replicable in
    * double) for odd ids — a direction change that usually lands
    * semantically new.
    *
    * The JVM assignment loop reproduces the batch expression's
    * arithmetic bit-for-bit: sequential double dot fold,
    * cos = dot / (sqrt(dot(v,v)) · sqrt(dot(c,c))), ties to the lowest
    * centroid id — so stream and batch labels can never disagree.
    */
  def streamSemanticDedup(s: SparkSession, dir: String,
      nlist: Int = 32, minCos: Double = 0.95): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    val corpus = s.read.parquet(s"$dir/embeddings.parquet")
    val reps = Similarity.semanticDedup(corpus, nlist, minCos)
      .filter(col("keep"))
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id").as("rep_id"), col("c_id").as("rc_id"),
        transform(col("embedding"), x => x.cast("double")).as("r_vec"))
    val cents: Array[(Long, Array[Double])] = corpus
      .filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("long"),
        transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    require(cents.nonEmpty || corpus.isEmpty,
      s"no centroids: non-empty corpus has no id < $nlist")
    val bc = s.sparkContext.broadcast(cents)
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val shard = graft.sources.Sources.embeddingsStream(s, dir)
      .select((col("vec_id") + 100000L).as("id"),
        when(col("vec_id") % 2 === 1,
          transform(col("embedding"), x => x.cast("double") + 10.0))
          .otherwise(transform(col("embedding"), x => x.cast("double")))
          .as("vec"))
    val assigned = shard.as[(Long, Array[Double])]
      .map { case (id, vec) =>
        val nv = math.sqrt(dotSeq(vec, vec))
        var bestC = Long.MaxValue; var bestCos = Double.NegativeInfinity
        bc.value.foreach { case (cId, cVec) =>
          val cos = dotSeq(vec, cVec) / (nv * math.sqrt(dotSeq(cVec, cVec)))
          if (cos > bestCos || (cos == bestCos && cId < bestC)) {
            bestCos = cos; bestC = cId
          }
        }
        (id, bestC, vec)
      }
      .toDF("id", "c_id", "vec")
    val joined = assigned.join(reps,
        col("c_id") === col("rc_id") &&
          Similarity.dot(col("vec"), col("r_vec")) /
            (Similarity.norm(col("vec")) * Similarity.norm(col("r_vec"))) >= minCos,
        "left_outer")
      .select(col("id"), col("c_id"), col("rep_id"))
    runToTable(joined, "append")
      .groupBy("id", "c_id")
      .agg(min(col("rep_id")).as("dup_of"))
      .select(col("id").as("vec_id"), col("c_id"), col("dup_of"),
        col("dup_of").isNull.as("is_new"))
  }

  /** Streaming DSIR scoring: each microbatch of documents is scored
    * against the BATCH-learned bucket ratio table
    * ([[graft.operators.Mixture.dsirRatioTable]]) — the deployment
    * shape of importance resampling: the ratio asset is learned once
    * over the corpus, the ingest stream is scored row-by-row against
    * it. The `dim`-row table (~16 KB) rides along as one literal map
    * (the sanctioned tiny-planning-collect of st10's codebook and
    * st14's centroids), so scoring is a pure per-row projection: no
    * join node, no watermark, no state store. Stateless => verdicts
    * are batch-invariant, and t22's arithmetic over the same rows is
    * an exact oracle. Buckets unseen at learn time coalesce to ratio 0
    * (log2fp(1) - log2fp(1)).
    */
  def streamDsirScore(s: SparkSession, dir: String, dim: Int = 1024,
      thrFp: Long = -170000L): DataFrame = {
    import graft.functions.TextAnalysis
    import s.implicits.{newLongEncoder, newProductEncoder}
    val lrMap: Map[Long, Long] = graft.operators.Mixture
      .dsirRatioTable(s.read.parquet(s"$dir/documents.parquet"), "text",
        col("source").isin("src0", "src1", "src2"), dim)
      .as[(Long, Long)].collect().toMap
    val lrLit = typedLit(lrMap)
    val scored = graft.sources.Sources.documentsStream(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        TextAnalysis.hashedNgramBuckets(col("text"), dim).as("buckets"))
      .select(col("doc_id"), size(col("buckets")).cast("long").as("n_feats"),
        aggregate(col("buckets"), lit(0L),
          (acc, b) => acc + coalesce(element_at(lrLit, b), lit(0L))).as("lr_sum"))
      .select(col("doc_id"), col("n_feats"), col("lr_sum"),
        round(col("lr_sum").cast("double") /
          (col("n_feats").cast("double") * 65536.0), 6).as("importance"),
        (col("lr_sum") >= lit(thrFp) * col("n_feats")).as("keep"))
    runToTable(scored, "append")
  }

  /** Streaming CCNet-style perplexity scoring against the batch-built
    * hashed-bigram LM ([[graft.operators.Mixture.lmBigramCounts]]).
    * The dim-bounded marginal tables collapse to two literal maps of
    * PRE-COMPUTED fixed-point surprisal halves — `log2fp(ct_ctx +
    * biDim)` and `log2fp(ct_bi + 1)` are evaluated at build time, so a
    * stream row only adds and subtracts map lookups over its bigram
    * pairs (the sanctioned tiny-planning-collect of st10/st14/st15).
    * The corpus-mean keep bar is likewise computed batch-side once.
    * Stateless — no join node, no watermark, no state store — so
    * verdicts are batch-invariant and t23's arithmetic over the same
    * rows is an exact oracle. Unseen context buckets coalesce to
    * `log2fp(biDim)` (zero count), unseen bigram buckets to
    * `log2fp(1) = 0`.
    */
  def streamLmScore(s: SparkSession, dir: String, ctxDim: Int = 1024,
      biDim: Int = 65536): DataFrame = {
    import graft.operators.Mixture
    import s.implicits.newProductEncoder
    def log2FpL(x: Long): Long = {
      val p = 63 - java.lang.Long.numberOfLeadingZeros(x)
      p.toLong * 65536L + ((x << 16) >> p) - 65536L
    }
    // ONE collect of the dim-bounded count table; surprisal halves AND
    // the corpus mean derive on the driver. The mean is separable over
    // the marginals — sum_pairs bits = sum_c ct_c*log2fp(ct_c+biDim)
    // - sum_b ct_b*log2fp(ct_b+1) — so no second corpus pass is needed
    // (the batch t23 query computes the identical value relationally).
    val all = Mixture.lmBigramCounts(
        s.read.parquet(s"$dir/documents.parquet"), "text", ctxDim, biDim)
      .select(col("kind"), col("bucket"), col("ct"))
      .as[(Int, Long, Long)].collect()
    val ctxCt = all.collect { case (0, b, c) => b -> c }.toMap
    val biCt = all.collect { case (1, b, c) => b -> c }.toMap
    val ctxBits = typedLit(ctxCt.map { case (b, c) => b -> log2FpL(c + biDim) })
    val biBits = typedLit(biCt.map { case (b, c) => b -> log2FpL(c + 1) })
    // log2fp(0 + biDim) for an unseen context bucket
    val defCtx: Long = log2FpL(biDim.toLong)
    val totPairs = ctxCt.valuesIterator.sum
    val totBits =
      ctxCt.valuesIterator.map(c => c * log2FpL(c + biDim)).sum -
        biCt.valuesIterator.map(c => c * log2FpL(c + 1)).sum
    val meanFp: Long = if (totPairs == 0) 0L else totBits / totPairs
    val scored = graft.sources.Sources.documentsStream(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"),
        Mixture.lmPairBuckets(col("text"), ctxDim, biDim).as("pairs"))
      .filter(size(col("pairs")) > 0)
      .select(col("doc_id"), size(col("pairs")).cast("long").as("n_bigrams"),
        aggregate(col("pairs"), lit(0L), (acc, pr) => acc
          + coalesce(element_at(ctxBits, pr.getField("ctx")), lit(defCtx))
          - coalesce(element_at(biBits, pr.getField("bi")), lit(0L)))
          .as("bits_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("bits_sum"),
        round(col("bits_sum").cast("double") /
          (col("n_bigrams").cast("double") * 65536.0), 6).as("bits_per_bigram"),
        lit(meanFp).as("corpus_mean_fp"),
        (expr("bits_sum div n_bigrams") <= lit(meanFp)).as("keep"))
    runToTable(scored, "append")
  }

  /** Streaming maintenance of the count-min sketch asset: the token
    * stream partial-aggregates into the <= depth x width cell counts —
    * a streaming aggregation whose state is BOUNDED BY CONSTRUCTION
    * (4096 cells at the defaults), the textbook "sketch absorbs an
    * unbounded stream in O(1) memory" shape. The memory sink keeps one
    * row per cell per update, so the final sketch is the per-cell max
    * (counts only grow); heavy-hitter selection then probes the
    * stream-built sketch through the IDENTICAL plan as batch t26 —
    * whose oracle verifies the result by hash.
    */
  def streamCmHeavyHitters(s: SparkSession, dir: String,
      minCount: Long = 500L, depth: Int = 4, width: Int = 1024): DataFrame = {
    import graft.operators.TextIndex
    val updates = TextIndex.cmSketch(
      graft.sources.Sources.documentsStream(s, dir), "text", depth, width)
    val sketch = runToTable(updates, "update")
      .groupBy(col("row"), col("col")).agg(max(col("ct")).as("ct"))
    TextIndex.cmSelect(sketch,
      s.read.parquet(s"$dir/documents.parquet"), "text",
      minCount, depth, width)
  }

  /** Streaming Efraimidis–Spirakis weighted top-k per stratum with
    * BOUNDED per-key state: the group state is the current k-smallest
    * `(es_key, doc_id, w)` buffer — O(k) per stratum, no watermark, no
    * timeline. Each micro-batch merges its rows into the buffer
    * (the key is the SAME integer fragment batch t24 ranks by, so the
    * two can never disagree) and emits the surviving members; a row
    * evicted from the buffer can never re-enter the true top-k (keys
    * are static), so the union of emissions is a superset of the final
    * answer and the batch-side rank over the sink table reproduces
    * [[graft.operators.Mixture.weightedSample]] exactly — t24 is the
    * oracle, hash-verified.
    */
  def streamWeightedSample(s: SparkSession, dir: String,
      k: Int = 50): DataFrame = {
    import graft.operators.Mixture
    import org.apache.spark.sql.streaming.OutputMode
    import s.implicits.{newLongEncoder, newProductEncoder, newStringEncoder,
      newSequenceEncoder}
    require(k > 0, s"k must be positive, got $k")
    val keyed = graft.sources.Sources.documentsStream(s, dir)
      .selectExpr("source AS stratum", "cast(doc_id as bigint) AS doc_id",
        "greatest(cast(n_chars as bigint), 1) AS w")
      .withColumn("es_key", expr(Mixture.esKeySql("doc_id", "w")))
      .as[(String, Long, Long, Long)]
    val survivors = keyed
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (stratum: String, rows: Iterator[(String, Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Seq[(Long, Long, Long)]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            rows.map(r => (r._4, r._2, r._3))).distinct
            .sortBy(t => (t._1, t._2)).take(k)
          state.update(merged)
          merged.iterator.map(t => (stratum, t._2, t._3, t._1))
      }
    runToTable(survivors.toDF("stratum", "doc_id", "w", "es_key"), "update")
      .distinct()
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("stratum").orderBy(col("es_key"), col("doc_id")))
        .cast("long"))
      .filter(col("rn") <= k)
  }

  /** Streaming CLUSTER-QUOTA ADMISSION — the live face of t52's
    * cluster-balanced selection: arriving embeddings route to their
    * trained k-means cell (the s23/s27 fixed-point-trained centroids,
    * learned once over the batch corpus and broadcast — st15's
    * learn-batch/apply-stream shape), and each cell admits at most
    * `cap` shard members, chosen by the portable sample-hash order.
    * Per-cell state is the bounded min-cap (hash, id) set — O(cap)
    * keyed state, and ORDER-FREE: min-k is a commutative idempotent
    * merge, so the final admitted set is micro-batch-slicing-invariant
    * and the batch twin (t52's rank over the same shard) is an exact
    * oracle. Assignment arithmetic is the sequential-fold double
    * cosine with the (cos desc, c_id asc) tie rule — the same ops the
    * oracle's row_number replay spells. Readout follows st17's
    * convention: distinct over the update-mode emissions, final
    * re-rank, keep rn <= cap (rows evicted mid-stream rank past cap).
    */
  def streamClusterQuota(s: SparkSession, dir: String,
      nlist: Int = 32, cap: Int = 8): DataFrame = {
    import graft.operators.{Mixture, Similarity}
    import org.apache.spark.sql.streaming.OutputMode
    import s.implicits.{newLongEncoder, newProductEncoder,
      newSequenceEncoder}
    require(cap > 0, s"cap must be positive, got $cap")
    val cents: Array[(Long, Array[Double])] = Similarity.ivfTrainCentroidsFp(
      s.read.parquet(s"$dir/embeddings.parquet"), nlist)
    if (cents.isEmpty) { // empty corpus: nothing to train on or admit
      import s.implicits._
      return Seq.empty[(Long, Long, Long, Long)].toDF("c_id", "vec_id", "h", "rn")
    }
    val bc = s.sparkContext.broadcast(cents)
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val shard = graft.sources.Sources.embeddingsStream(s, dir)
      .select((col("vec_id") + 100000L).as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    val assigned = shard.as[(Long, Array[Double])]
      .map { case (id, vec) =>
        val nv = math.sqrt(dotSeq(vec, vec))
        var bestC = Long.MaxValue; var bestCos = Double.NegativeInfinity
        bc.value.foreach { case (cId, cVec) =>
          val cos = dotSeq(vec, cVec) / (nv * math.sqrt(dotSeq(cVec, cVec)))
          if (cos > bestCos || (cos == bestCos && cId < bestC)) {
            bestCos = cos; bestC = cId
          }
        }
        (bestC, id, graft.functions.PortableHash.family(
          Mixture.SampleI, id, Mixture.DefaultMod))
      }
    val admitted = assigned
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (cId: Long, rows: Iterator[(Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Seq[(Long, Long)]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            rows.map(r => (r._3, r._2))).distinct
            .sortBy(identity).take(cap)
          state.update(merged)
          merged.iterator.map { case (h, id) => (cId, id, h) }
      }
    runToTable(admitted.toDF("c_id", "vec_id", "h"), "update")
      .distinct()
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("c_id").orderBy(col("h"), col("vec_id")))
        .cast("long"))
      .filter(col("rn") <= cap)
  }

  /** The per-query LOCAL beam walk the streaming serving family runs
    * against a replicated (or shard-replicated) graph asset — the
    * EXACT [[graft.operators.Similarity.graphBeamSearchOver]] math,
    * executed in one JVM against in-memory maps: same sequential-fold
    * cosine (left-to-right double accumulation, bit-identical to the
    * codegen DotProduct), same (cos DESC, id ASC) beam tie rule, same
    * expand-dedup-exact-score-prune rounds, same HALF_UP round-6
    * readout. Shared by st50 (full replica) and st58 (per-shard
    * replica) so the two serving spellings can never drift apart.
    */
  private[streaming] def localBeamWalk(qId: Long, qv: Array[Float],
      vecs: Map[Long, Array[Float]], graph: Map[Long, Array[Long]],
      seeds: Array[Long], k: Int, beam: Int, rounds: Int)
      : Seq[(Long, Long, Long, Double)] = {
    // score-and-prune: TopKCosAgg's (cos DESC, id ASC), NaN rejected.
    // A candidate absent from the scoring table drops here — exactly
    // the batch join semantics (s43's tombstone mask: the graph may
    // still point at a masked id, but it cannot be scored, hold a
    // beam slot, or be returned)
    def prune(ids: Seq[Long]): Seq[(Long, Double)] = ids.iterator
      .flatMap(id => vecs.get(id).map(v => (id, cosExact(qv, v))))
      .filter(!_._2.isNaN)
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(beam)
    var beamed = prune(seeds.filter(_ != qId).toSeq)
    var r = 0
    while (r < rounds) {
      val ids = beamed.map(_._1)
      beamed = prune(
        (ids ++ ids.flatMap(i => graph.getOrElse(i, Array.empty[Long])))
          .distinct.filter(_ != qId))
      r += 1
    }
    beamed.take(k).zipWithIndex.map { case ((nId, c), i) =>
      (qId, (i + 1).toLong, nId,
        BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  /** One serving arm's in-memory replica: its scoring vectors, the
    * adjacency of its graph asset, and its walk seeds.
    */
  private final case class Replica(vecs: Map[Long, Array[Float]],
      adj: Map[Long, Array[Long]], seeds: Array[Long])

  /** `f` for each of the `n` arms, run CONCURRENTLY — production's
    * independent per-shard serving workers (Spark schedules actions
    * from separate threads fine); sequential collects would pay `n` job
    * latencies. Results in arm order.
    */
  private def perShard[A](n: Int)(f: Int => A): IndexedSeq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((0 until n).map(sh => Future(f(sh)))), Duration.Inf)
  }

  /** A graph asset's `(node, edge_to)` rows, collected and grouped by
    * node.
    */
  private def adjacency(graph: DataFrame): Map[Long, Array[Long]] = {
    import graph.sparkSession.implicits._
    graph.select(col("node").cast("long"), col("edge_to").cast("long"))
      .as[(Long, Long)].collect()
      .groupBy(_._1).map { case (n, es) => (n, es.map(_._2)) }
  }

  /** The `n` per-shard replicas of a rendezvous-sharded fleet, loaded
    * through [[perShard]]. Arm `sh` scores its slice of the n-layout
    * (`rendezvousShardOf(vec_id, n) == sh`; one persisted scan feeds
    * every arm), walks the per-shard graph asset of layout
    * `assetLayout(sh)` — a build-once warehouse asset (first call
    * builds under the asset lock, every later serve reads parquet) —
    * and seeds from its slice ids that pass `isSeed`. Each replica is
    * O(corpus/n), the bound the full-replica st50 lacks.
    */
  private def shardReplicas(s: SparkSession, dir: String, n: Int,
      assetLayout: Int => Int, isSeed: Long => Boolean, graphK: Int,
      targetList: Int, nprobe: Int, superProbe: Int): IndexedSeq[Replica] = {
    import s.implicits._
    import graft.operators.{Mixture, Similarity}
    val emb = persist(s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
        Mixture.rendezvousShardCol(col("vec_id"), n).as("shard")))
    perShard(n) { sh =>
      val vecs = emb.filter(col("shard") === sh).select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toMap
      Replica(vecs,
        adjacency(Similarity.ensureShardKnnIndex(s, dir, assetLayout(sh), sh, graphK,
          targetList, nprobe, superProbe)),
        vecs.keysIterator.filter(isSeed).toArray.sorted)
    }
  }

  /** ONE typed pass over the [[dispatch]]ed arrivals that walks each
    * row against ITS shard's replica (`replicas(shard)`; the dispatch
    * has already required every routed shard to be in range) — the
    * fused spelling of the arm-per-shard union, which re-planned and
    * re-scanned the cached dispatch once per shard. Each replica is ONE
    * broadcast: a task fetches only the replicas of shards present in
    * its partition (the dispatch is clustered by shard), so the
    * O(corpus/nShards) per-worker replica bound holds and the walk is
    * one job. Returns (q_id, shard, rnk, n_id, cos_sim).
    */
  private def fusedRoutedWalk(routedQ: DataFrame, replicas: IndexedSeq[Replica],
      k: Int, beam: Int, rounds: Int): DataFrame = {
    val s = routedQ.sparkSession
    import s.implicits._
    val bc = replicas.map(s.sparkContext.broadcast(_))
    routedQ
      .select(col("shard").cast("int").as("shard"), col("q_id"),
        col("embedding"))
      .as[(Int, Long, Array[Float])].flatMap { case (sh, qId, qv) =>
        val r = bc(sh).value
        localBeamWalk(qId, qv, r.vecs, r.adj, r.seeds, k, beam,
          rounds).map { case (q, rnk, nId, cos) => (q, sh.toLong, rnk, nId, cos) }
      }.toDF("q_id", "shard", "rnk", "n_id", "cos_sim")
  }

  /** Streaming graph-ANN serving (st50): arriving query vectors walk
    * the FROZEN k-NN-graph index asset per row — the production
    * vector-serving shape (DiskANN/HNSW-style: the nightly-built index
    * is replicated into each serving worker's memory; queries never
    * shuffle). The asset ([[graft.operators.Similarity.ensureKnnGraphIndex]]),
    * the corpus vectors, and the id%seedMod navigation slice broadcast
    * once as one [[Replica]]; each arriving vector runs the EXACT
    * [[graft.operators.Similarity.graphBeamSearchOver]] math locally —
    * same sequential-fold cosine (left-to-right double accumulation,
    * so doubles are bit-identical to the codegen DotProduct), same
    * (cos DESC, id ASC) beam tie rule, same seed slice, same
    * expand-dedup-exact-score-prune rounds, same HALF_UP round-6
    * readout — so the batch replay oracle checks every arriving
    * query's full walk. Stateless (no keyed state, no watermark);
    * append mode.
    *
    * Broadcast size is O(n·(d + graphK)) — the serving-replica
    * contract, NOT a Spark-join shape: a graph that outgrows one
    * worker's memory shards by routing key upstream (the IVF cell of
    * the query), which is s38's block-join territory, not serving's.
    */
  def streamGraphProbe(s: SparkSession, dir: String, k: Int = 5,
      beam: Int = 16, rounds: Int = 3, seedMod: Int = 64,
      targetList: Int = 64): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    require(k <= beam, s"k=$k must be <= beam=$beam")
    val graphDf = Similarity.ensureKnnGraphIndex(s, dir, targetList = targetList)
    val corpus: Array[(Long, Array[Float])] =
      s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect()
    if (corpus.isEmpty) // empty corpus: nothing to serve against
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("q_id", "rnk", "n_id", "cos_sim")
    val bc = s.sparkContext.broadcast(Replica(corpus.toMap, adjacency(graphDf),
      corpus.map(_._1).filter(_ % seedMod == 0)))
    val hits = queryArrivals(s, dir).as[(Long, Array[Float])].flatMap { case (qId, qv) =>
      val r = bc.value
      localBeamWalk(qId, qv, r.vecs, r.adj, r.seeds, k, beam, rounds)
    }.toDF("q_id", "rnk", "n_id", "cos_sim")
    runToTable(hits, "append")
  }

  /** The serving family's query stream: each arriving vector as
    * (q_id = vec_id + 100000, embedding).
    */
  private def queryArrivals(s: SparkSession, dir: String): DataFrame =
    graft.sources.Sources.embeddingsStream(s, dir)
      .select((col("vec_id") + 100000L).cast("long").as("q_id"), col("embedding"))

  /** SHARD-COMPOSED STREAMING GRAPH SERVING (st58) — the rendezvous
    * router (t55/st56) composed with st50's serving walk, closing the
    * replica family's one 100 TB letter-violation: NO collected or
    * broadcast structure exceeds O(corpus / nShards).
    *
    * Layout: the corpus is rendezvous-sharded by vec_id
    * ([[graft.operators.Mixture.rendezvousShardCol]] — the same
    * argmax st56 computes at ingest, so the store IS already laid out
    * this way); each shard builds its OWN corpus-scaled graph asset
    * ([[graft.operators.Similarity.knnEdgesScaled]] over just the
    * shard — count-derived nlist, two-level routing, the nightly
    * per-shard index job), and each serving arm replicates ONLY its
    * shard's vectors + adjacency + seed slice ([[shardReplicas]]). An
    * arriving query routes by ITS key's rendezvous shard (the same
    * argmax, a pure per-row column expression, [[dispatch]]ed once)
    * and walks that shard's replica locally — st50's exact math via
    * [[fusedRoutedWalk]] — never touching another shard.
    *
    * In local mode the nShards arms share one JVM, but no single
    * broadcast exceeds the per-shard slice; on a real cluster each
    * arm is a serving tier holding 1/nShards of the corpus, nShards
    * grows with the corpus to keep the replica constant-size, and a
    * resize ships only t56's ~1/k2 mover sliver. The DuckDB oracle
    * replays all nShards shard-local builds and every routed walk.
    */
  def streamShardedGraphProbe(s: SparkSession, dir: String,
      nShards: Int = 4, k: Int = 5, beam: Int = 16, rounds: Int = 3,
      seedMod: Int = 64, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3,
      tombstones: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    import graft.operators.Mixture
    require(k <= beam, s"k=$k must be <= beam=$beam")
    require(nShards >= 1, s"nShards=$nShards must be positive")
    // s43's masking contract, shard-composed: the per-shard GRAPH
    // asset is unchanged, but tombstoned ids leave the SCORING
    // replica — they cannot seed, hold a beam slot, or be returned
    val masked: Set[Long] = tombstones
      .map(_.select(col(tombstones.get.columns.head).cast("long"))
        .as[Long].collect().toSet)
      .getOrElse(Set.empty)
    val routedQ = dispatch(queryArrivals(s, dir)
      .withColumn("shard", Mixture.rendezvousShardCol(col("q_id"), nShards)), "shard", nShards)
    val replicas = shardReplicas(s, dir, nShards, _ => nShards, _ % seedMod == 0,
        graphK, targetList, nprobe, superProbe)
      .map(r => r.copy(vecs = r.vecs -- masked, seeds = r.seeds.filterNot(masked)))
    fusedRoutedWalk(routedQ, replicas, k, beam, rounds)
  }

  /** Streaming chunk-level dedup — the RAG-ingestion shape: chunk each
    * arriving document into overlapping token windows
    * ([[graft.operators.Mixture.chunkOverlap]] — a completely narrow
    * op, so it runs unchanged on the stream) and admit each distinct
    * chunk hash once. Output is the distinct chunk-key set (st06's
    * convention: which document first contributed a shared chunk is
    * micro-batch-order-dependent, so only the key column is emitted),
    * and the batch replay shares t27's chunk arithmetic so the oracle
    * is closed-form. State is one entry per distinct chunk hash; with
    * an ingest-time column, bound it exactly like st11
    * (`dropDuplicatesWithinWatermark` over time-bucketed keys).
    */
  def streamChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.operators.Mixture.chunkOverlap(
      graft.sources.Sources.documentsStream(s, dir), chunkTok = 64, stride = 48)
    runToTable(chunks.select(col("chunk_hash")).dropDuplicates("chunk_hash"), "append")
      .orderBy("chunk_hash")
  }

  /** Streaming sign-bit near-dup vs the batch corpus — the streaming
    * face of the s21 binary family: each arriving embedding is
    * sign-packed to one long (1 bit/dim, [[graft.operators.Similarity.signPack]]),
    * its 4 16-bit pigeonhole bands are stream-static LEFT-joined
    * against the corpus band table (band equality admits every pair
    * within Hamming 3 of a corpus signature — d12's guarantee), and
    * the join condition carries the exact-verify (`bit_count(xor) <=
    * maxHamming`), so a band collision that fails verification nulls
    * out rather than matching. Emission per arriving vector: the
    * lowest verified corpus id, or itself when new. Stateless — the
    * static side is the persisted 8-byte signature column at corpus
    * scale — and batch-invariant (micro-batch slicing cannot change
    * any verdict), so the batch replay is closed-form.
    */
  def streamBinaryNearDup(s: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    import graft.operators.Similarity
    import org.apache.spark.sql.Column
    val mask = 65535L
    def bands(sig: Column): Column =
      explode(array((0 until 4).map(b => struct(lit(b).as("band_no"),
        shiftright(sig, b * 16).bitwiseAND(lit(mask)).as("bsig"))): _*))
    val corpus = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("n_id"),
        Similarity.signPack(col("embedding")).as("n_sig"))
      .select(col("n_id"), col("n_sig"), bands(col("n_sig")).as("b"))
      .select(col("n_id"), col("n_sig"), col("b.band_no"), col("b.bsig"))
    val shard = graft.sources.Sources.embeddingsStream(s, dir)
      .select((col("vec_id") + 100000L).as("q_id"),
        when(col("vec_id") % 2 === 1,
          transform(col("embedding"), x => x.cast("double") + 10.0))
          .otherwise(transform(col("embedding"), x => x.cast("double")))
          .as("vec"))
      .select(col("q_id"), Similarity.signPack(col("vec")).as("q_sig"))
      .select(col("q_id"), col("q_sig"), bands(col("q_sig")).as("b"))
      .select(col("q_id"), col("q_sig"), col("b.band_no"), col("b.bsig"))
    val joined = shard.join(corpus,
        shard("band_no") === corpus("band_no") &&
          shard("bsig") === corpus("bsig") &&
          bit_count(shard("q_sig").bitwiseXOR(corpus("n_sig")))
            .cast("int") <= maxHamming,
        "left_outer")
      .select(col("q_id"), col("n_id"))
    runToTable(joined, "append")
      .groupBy("q_id")
      .agg(min(col("n_id")).as("match_id"))
      .select(col("q_id").as("vec_id"),
        coalesce(col("match_id"), col("q_id")).as("canonical_id"),
        col("match_id").isNull.as("is_new"))
      .orderBy("vec_id")
  }

  /** Streaming HLL register maintenance — st18's bounded-cell move
    * applied to the t30 sketch: the document stream's shingle hashes
    * update per-bucket max ranks (streaming aggregation whose state is
    * 2^p rows BY CONSTRUCTION — the sketch absorbs an unbounded stream
    * in O(1) memory), and the estimate reads out through the identical
    * arithmetic as the batch build ([[graft.operators.TextIndex.hllSelect]],
    * the cmSelect convention). Registers merge by max, so the
    * stream-maintained table equals the batch-built one whatever the
    * micro-batch slicing (HllSpec proves the invariance) — the query
    * shares t30's oracle verbatim. The exact-count side reads the
    * batch table: it is the measured-error baseline, not the
    * production path.
    */
  def streamHllDistinct(s: SparkSession, dir: String, p: Int = 10): DataFrame = {
    import graft.operators.{Dedup, TextIndex}
    val streamShingles = Dedup.shingles(
      graft.sources.Sources.documentsStream(s, dir), "text", "doc_id", n = 3)
      .select(col("sh"))
    val regs = runToTable(TextIndex.hllRegisters(streamShingles, "sh", p), "update")
      .groupBy("bucket").agg(max("rho").as("rho"))
    val batchShingles = Dedup.shingles(
      s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", n = 3)
      .select(col("sh"))
    TextIndex.hllSelect(regs, batchShingles, "sh", p)
  }

  /** Streaming Bloom-filter maintenance — approximate membership over
    * an unbounded stream (the st18/st21 bounded-sketch move applied to
    * q26's Bloom): each event contributes its k portable-hash probe
    * positions, and the filter's SET BITS are maintained as the
    * streaming aggregate state (group-by-position — O(m) state however
    * many events arrive; bit-OR merge == distinct-position union, so
    * the result is batch-identical under any micro-batch split). The
    * readout probes every customer key against the final position set
    * with the same hash family: no false negatives by construction,
    * and the oracle replays both verdict columns — INCLUDING the false
    * positives — bit-for-bit via q26's set-semantics spelling.
    */
  def streamBloomMembers(s: SparkSession, dir: String,
      m: Int = 1024, kh: Int = 3): DataFrame = {
    def positions(key: org.apache.spark.sql.Column) =
      explode(array((0 until kh).map(i =>
        (key % m * (2 * i + 1) + lit(i.toLong * i + 7L)) % m): _*))
    val pos = eventStream(s, dir).select(positions(col("user_id")).as("p"))
    val bits = runToTable(pos.groupBy("p").agg(count(lit(1)).as("n")), "update")
      .select(col("p")).distinct() // the filter's set bits
    val probes = graft.sources.Sources.table(s, dir, "customer")
      .select(col("c_custkey"))
      .select(col("c_custkey"), positions(col("c_custkey")).as("q"))
    val hits = probes.join(bits, probes("q") === bits("p"), "left_semi")
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n_hit"))
    val active = graft.sources.Sources.events(s, dir)
      .select(col("user_id").as("c_custkey")).distinct()
      .withColumn("is_active", lit(true))
    graft.sources.Sources.table(s, dir, "customer")
      .select(col("c_custkey"))
      .join(hits, Seq("c_custkey"), "left")
      .join(active, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        (coalesce(col("n_hit"), lit(0L)) === kh).as("maybe_active"),
        coalesce(col("is_active"), lit(false)).as("exact_active"))
      .orderBy("c_custkey")
  }

  /** Streaming A/B experiment monitor — q65's Welch-t readout
    * maintained over the stream: per-user purchase counts are the
    * keyed state (ONE long per user; arm assignment is the
    * deterministic portable hash, so it needs no storage), and the
    * per-arm moments + t statistic are computed batch-side from the
    * latest per-user emissions — the live significance dashboard an
    * experimentation platform runs. Counts are monotone, so the
    * update-mode readout is max-per-key; shares q65's oracle verbatim.
    */
  def streamAbTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = eventStream(s, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)],
            state: org.apache.spark.sql.streaming.GroupState[(Long, Long)]) =>
          val prev = state.getOption.map(_._2).getOrElse(0L)
          val next = prev + rows.map(_._2).sum
          state.update((uid, next))
          (uid, next)
      }
    val per = runToTable(updates.toDF("user_id", "x"), "update")
      .groupBy(col("user_id")).agg(max(col("x")).as("x")) // monotone: max = latest
      .withColumn("arm", when(
        graft.operators.Mixture.portableHash(col("user_id"), i = 9) % 2 === 0,
        "A").otherwise("B"))
    per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .agg(
        max(when(col("arm") === "A", col("n"))).as("n_a"),
        max(when(col("arm") === "B", col("n"))).as("n_b"),
        max(when(col("arm") === "A", col("sx"))).as("sx_a"),
        max(when(col("arm") === "B", col("sx"))).as("sx_b"),
        max(when(col("arm") === "A", col("sxx"))).as("sxx_a"),
        max(when(col("arm") === "B", col("sxx"))).as("sxx_b"))
      .withColumn("mean_a", col("sx_a").cast("double") / col("n_a"))
      .withColumn("mean_b", col("sx_b").cast("double") / col("n_b"))
      // same degenerate-input guards as the q65 batch twin: n<=1 makes
      // the sample variance undefined (null, not Inf/NaN)
      .withColumn("var_a",
        when(col("n_a") > 1,
          (col("n_a") * col("sxx_a") - col("sx_a") * col("sx_a"))
            .cast("double") /
            (col("n_a") * (col("n_a") - 1)).cast("double")))
      .withColumn("var_b",
        when(col("n_b") > 1,
          (col("n_b") * col("sxx_b") - col("sx_b") * col("sx_b"))
            .cast("double") /
            (col("n_b") * (col("n_b") - 1)).cast("double")))
      .withColumn("se2", col("var_a") / col("n_a") + col("var_b") / col("n_b"))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("var_a"), 6).as("var_a"),
        round(col("var_b"), 6).as("var_b"),
        round(when(col("se2") > 0,
          (col("mean_a") - col("mean_b")) / sqrt(col("se2"))), 6)
          .as("t_stat"))
  }

  /** Streaming trend monitor — q63's closed-form OLS over a TRAILING
    * 31-day window, maintained as streaming state: per event type a
    * bounded ring of (day → count) cells (st32's eviction rule — cells
    * older than 30 days behind the type's own max day can never enter
    * a trailing window anchored at the global max, so dropping them is
    * lossless), slope/intercept read out batch-side from the exact
    * integer moments of the retained cells. Unlike st32 the metric is
    * day-granular volume, so the window is the days PRESENT in the
    * ring (an empty day appears on neither engine). Own windowed
    * oracle (q63's formula restricted to the trailing window).
    */
  def streamTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = trendTransform(eventStream(s, dir)
      .select(col("event_type").as("k"),
        expr("ts div 1000000000 div 86400").as("d"))
      .as[(String, Long)])
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("n_events").desc)
    val cells = runToTable(updates.toDF(), "update")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // latest state per key (n_events monotone)
      .select(col("event_type"),
        explode(arrays_zip(col("days"), col("counts"))).as("c"))
      .select(col("event_type"), col("c.days").as("day"),
        col("c.counts").as("y"))
    val ref = broadcast(cells.agg(max(col("day")).as("dmax")))
    cells.crossJoin(ref)
      .filter(col("day") >= col("dmax") - 30)
      .withColumn("x", col("day") - (col("dmax") - 30))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      .withColumn("num", col("n_days") * col("sxy") - col("sx") * col("sy"))
      // den = 0 when a type has one retained day: slope undefined →
      // null, matching the q63 batch twin and the windowed oracle
      .withColumn("den", col("n_days") * col("sxx") - col("sx") * col("sx"))
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        round(when(col("den") =!= 0,
          col("num").cast("double") / col("den").cast("double")), 6)
          .as("slope"),
        round(when(col("den") =!= 0,
          (col("sy") * col("den") - col("num") * col("sx")).cast("double")
            / (col("n_days") * col("den")).cast("double")), 6).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** Streaming seasonality maintenance (st45): q75's hour-of-week
    * profile kept LIVE — the stream maintains the (type, phase-bucket)
    * integer cells (milli-unit sums, the q68/q75 convention; a BOUNDED
    * |types|·168-row complete-mode state), and the readout derives the
    * per-type averages, seasonal index and peak rank exactly as the
    * batch query does. Batch q75 is the verbatim oracle — any drift
    * between the streamed cell maintenance and the batch aggregate
    * fails the hash compare.
    */
  def streamSeasonality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = eventStream(s, dir)
      .select(col("event_type"),
        expr("ts div 1000000000 div 3600 % 168").as("how"),
        floor(col("value") * 1000).cast("long").as("vfp"))
      .groupBy(col("event_type"), col("how"))
      .agg(count(lit(1)).as("n"), sum(col("vfp")).as("sv"))
    val h = runToTable(cells, "complete")
    // the memory-sink view carries fixed attribute ids, so a view ⋈
    // view-derived-aggregate join needs explicit aliases to resolve
    val t = h.groupBy(col("event_type"))
      .agg(sum(col("n")).as("nt"), sum(col("sv")).as("st"))
      .select(col("event_type").as("t_type"), col("nt"), col("st"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy((col("sv").cast("double") / col("n")).desc, col("how").asc)
    h.join(broadcast(t), col("event_type") === col("t_type"))
      .withColumn("peak_rnk", row_number().over(w).cast("long"))
      .select(col("event_type"), col("how"), col("n"),
        round(col("sv").cast("double") / (col("n") * 1000.0), 6).as("avg_value"),
        round((col("sv").cast("double") / col("n")) /
          (col("st").cast("double") / col("nt")), 6).as("seasonal_index"),
        col("peak_rnk"))
  }

  /** The st37 state machine on any (key, day) stream — factored out
    * so the multi-batch spec drives the REAL ring maintenance
    * (day-cell upsert + lossless ≤31-cell eviction) through
    * MemoryStream splits.
    */
  def trendTransform(ds: org.apache.spark.sql.Dataset[(String, Long)])
      : org.apache.spark.sql.Dataset[TrendState] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)],
            state: org.apache.spark.sql.streaming.GroupState[TrendState]) =>
          val prev = state.getOption.getOrElse(TrendState(key, 0L, Nil, Nil))
          val m = scala.collection.mutable.HashMap.empty[Long, Long]
          prev.days.indices.foreach(i => m(prev.days(i)) = prev.counts(i))
          var n = prev.n_events
          rows.foreach { r => m(r._2) = m.getOrElse(r._2, 0L) + 1L; n += 1L }
          val maxD = m.keysIterator.max
          val kept = m.iterator.filter(_._1 >= maxD - 30).toSeq.sortBy(_._1)
          val next = TrendState(key, n,
            kept.map(_._1).toList, kept.map(_._2).toList)
          state.update(next)
          next
      }
  }

  /** Streaming KMV (bottom-k) distinct sketch — t33's deterministic
    * alternative to HLL, maintained per source over the DOCUMENT
    * stream: the sketch is the k smallest distinct shingle hashes, an
    * O(k) streaming aggregate whose insert/merge is order-independent,
    * so the streamed sketch — and the estimate read from it — is a
    * pure function of the distinct-value set and the batch oracle
    * replays it bit-for-bit from `list_sort(list(DISTINCT h))[1:k]`.
    * The batch exact NDV rides along as the measured error (t30's
    * convention). Completes the streaming-sketch family: CM (st18),
    * HLL (st21), GK quantiles (st23), Bloom (st34), KMV here.
    */
  def streamKmvDistinct(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    import s.implicits._
    val bigP = 1000000007L
    def spread(sh: org.apache.spark.sql.Column) =
      (lit(736238393L) * (sh % bigP) + 12345L) % bigP
    val srcMap = s.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id".as("id"), $"source".as("src"))
    val hashed = graft.operators.Dedup.shingles(
        graft.sources.Sources.documentsStream(s, dir), "text", "doc_id", n = 3)
      .join(srcMap, "id") // stream-static equi join, tiny dim
      .select($"src", spread($"sh").as("h"))
    val sketch = udaf(new graft.functions.KmvSketchAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val skn = runToTable(hashed.groupBy($"src").agg(sketch($"h").as("kv")),
      "complete")
    val exact = graft.operators.Dedup.shingles(
        s.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", n = 3)
      .join(srcMap, "id")
      .select($"src", spread($"sh").as("h"))
      .groupBy($"src").agg(countDistinct($"h").as("nd"))
    skn.join(exact, "src")
      .select($"src", $"nd",
        round(when(size($"kv") < k, size($"kv").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(bigP.toDouble) /
            element_at($"kv", k).cast("double")), 6).as("est"))
      .orderBy("src")
  }

  /** Streaming approximate quantiles — q45's mergeable Greenwald-
    * Khanna sketch (percentile_approx) as the stream aggregate, per
    * event type in complete mode. The sketch buffer IS the keyed state:
    * O(accuracy) per group over an unbounded stream, the only quantile
    * shape with bounded state (exact percentile would buffer every
    * value ever seen). The metric is the integerized value (q45's
    * recipe: exact readouts on an integral metric are engine-portable;
    * an interpolated double percentile is not). Raw estimates depend
    * on merge order — [[streamQuantilesChecked]] is the SQL-checkable
    * readout; StreamingQuantileSpec additionally pins each estimate's
    * rank within the sketch's n/accuracy + 1 bound.
    */
  def streamQuantiles(s: SparkSession, dir: String): DataFrame = {
    val fracs = Seq(0.5, 0.9, 0.99)
    val agg = eventStream(s, dir)
      .select(col("event_type"), expr("cast(floor(value) as bigint)").as("v"))
      .groupBy(col("event_type"))
      .agg(
        expr("percentile_approx(v, array(0.5D, 0.9D, 0.99D), 1000)")
          .as("apx"),
        count(lit(1)).as("n"))
    runToTable(agg, "complete")
      .select(col("event_type"), col("n"), posexplode(col("apx")))
      .select(col("event_type"),
        element_at(array(fracs.map(lit): _*), col("pos") + 1).as("frac"),
        col("col").as("est_v"), col("n"))
      .orderBy("event_type", "frac")
  }

  /** st23's oracle-checkable readout, q45's rank-bound pattern applied
    * to the STREAMING sketch state: the GK estimate is an actual input
    * value whose rank interval [count(v < est), count(v <= est)],
    * grown by n/accuracy + 1, must contain the target rank frac·n —
    * a boolean both engines agree on (the oracle asserts it true
    * without replaying the merge order) — alongside the exact
    * percentile of the same integral metric, which IS value-replayable
    * in SQL. One broadcast of the 15 estimate rows against the batch
    * table; the stream side is [[streamQuantiles]] unchanged.
    */
  def streamQuantilesChecked(s: SparkSession, dir: String): DataFrame = {
    val est = streamQuantiles(s, dir)
    val vals = graft.sources.Sources.events(s, dir)
      .select(col("event_type"), expr("cast(floor(value) as bigint)").as("v"))
    val exact = vals.groupBy(col("event_type"))
      .agg(expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("ex"))
      .select(col("event_type"), posexplode(col("ex")))
      .select(col("event_type"),
        element_at(array(Seq(0.5, 0.9, 0.99).map(lit): _*), col("pos") + 1)
          .as("frac"),
        col("col").as("exact_v"))
    vals.join(broadcast(est), "event_type")
      .groupBy(col("event_type"), col("frac"), col("n"), col("est_v"))
      .agg(
        sum(when(col("v") < col("est_v"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("v") <= col("est_v"), 1L).otherwise(0L)).as("le"))
      .join(exact, Seq("event_type", "frac"))
      .select(col("event_type"), col("frac"), col("exact_v"),
        (col("lt") - (col("n") / lit(1000.0) + 1) <= col("frac") * col("n") &&
          col("le") + (col("n") / lit(1000.0) + 1) >= col("frac") * col("n"))
          .as("within_bound"))
      .orderBy("event_type", "frac")
  }

  /** Streaming anomaly detection over per-user inter-arrival gaps —
    * the online-monitoring shape (rate-change / bot-burst detection)
    * the board's other keyed states don't cover: each event is judged
    * against the DISTRIBUTION of the key's own history, not a static
    * asset or a fixed predicate.
    *
    * State per user: last event (sec, id) + exact integer moments of
    * the gap history (n, Σg, Σg²) — O(1) per key, mergeable, never a
    * buffer of past events. A new gap g is anomalous when the key has
    * >= 8 prior gaps and |g − mean| > 3σ, evaluated WITHOUT floats as
    *   (g·n − Σg)² > 9·(n·Σg² − (Σg)²)
    * (both sides exact in BigInt here, HUGEINT in the oracle — long
    * arithmetic would overflow at (g·n)² ~ 1e20). Emitted running
    * (n_gaps, n_anomalies) are monotone per key, so the update-mode
    * memory table re-aggregates with max, st02's replay-safety recipe.
    *
    * Ordering contract: gaps are computed in (sec, event_id) order.
    * Rows are sorted within each micro-batch's group iterator, and the
    * deterministic file-source replay delivers one batch; a production
    * deployment feeds this from an event-time-sorted upstream (or
    * buffers a watermark's worth per key) — the state transition
    * itself is order-defined, exactly like the batch window oracle.
    */
  def streamGapAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = eventStream(s, dir)
      .select(col("user_id"), expr("ts div 1000000000").as("s"),
        col("event_id"))
      .as[GapEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[GapEvent],
            state: org.apache.spark.sql.streaming.GroupState[GapState]) =>
          val prev = state.getOption.getOrElse(
            GapState(uid, Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L))
          val sorted = rows.toArray.sortBy(e => (e.s, e.event_id))
          val next = sorted.foldLeft(prev) { (st, e) =>
            if (st.last_id == Long.MinValue) // first event for this key
              st.copy(last_s = e.s, last_id = e.event_id)
            else {
              val g = e.s - st.last_s
              val n = BigInt(st.n_gaps)
              val sg = BigInt(st.sum_g)
              val lhs = BigInt(g) * n - sg
              val anom = st.n_gaps >= 8 &&
                lhs * lhs > (n * BigInt(st.sum_g2) - sg * sg) * 9
              GapState(uid, e.s, e.event_id, st.n_gaps + 1,
                st.sum_g + g, st.sum_g2 + g * g,
                st.n_anomalies + (if (anom) 1L else 0L))
            }
          }
          state.update(next)
          next
      }
    runToTable(updates.toDF(), "update")
      .groupBy(col("user_id"))
      .agg(max(col("n_gaps")).as("n_gaps"),
        max(col("n_anomalies")).as("n_anomalies"))
      .filter(col("n_gaps") >= 1) // single-event keys have no gap history
      .orderBy("user_id")
  }

  /** Streaming Pareto-frontier maintenance — the incremental arm of
    * the q52 batch skyline ([[graft.operators.Skyline]]): per event
    * type, the running set of events no other event beats on BOTH
    * value (maximize) and time (minimize), kept as keyed state.
    *
    * The state IS the frontier: inserting a point drops it if some
    * candidate dominates it, else adds it and evicts the candidates it
    * dominates — so state size is the skyline size (expected O(log n)
    * for non-adversarial data), a genuinely bounded footprint over an
    * unbounded stream, with no watermark needed. The maintained set is
    * ORDER-INDEPENDENT (a point survives iff nothing seen dominates
    * it, whatever the arrival order), so any micro-batch split yields
    * the same final frontier and the batch NOT EXISTS oracle replays
    * it exactly — same comparison-only portability as q52. Duplicates
    * of an undominated point all survive, matching the batch
    * dominance definition.
    *
    * Emission: each touching micro-batch emits the key's current
    * frontier with its monotone n_seen; the update-mode memory table
    * keeps the latest per key (argmax by n_seen) and explodes it.
    */
  def streamSkyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = skylineTransform(
      eventStream(s, dir)
        .select(col("event_type"), col("value"),
          expr("ts div 1000000000").as("sec"))
        .as[SkyEvent])
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("n_seen").desc)
    runToTable(updates.toDF(), "update")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // latest frontier per key
      .select(col("event_type"), explode(arrays_zip(col("vs"), col("ss"))).as("p"))
      .select(col("event_type"), col("p.vs").as("value"), col("p.ss").as("sec"))
      .orderBy("event_type", "sec", "value")
  }

  /** Streaming distribution-drift monitor — the data-quality shape a
    * production ingest runs beside every model-feeding stream: the
    * LIVE value histogram per key, maintained as streaming aggregate
    * state, compared against a batch REFERENCE histogram of the same
    * metric. Here the corpus's even-user half is the reference and the
    * odd-user half streams in — two samples of one distribution, so
    * the reported drift is honest sampling noise; a real deployment
    * swaps the reference asset and alert threshold only.
    *
    * Drift is total variation distance computed EXACTLY: per bucket
    * |obs·N_ref − ref·N_obs| (integer cross-products — no per-bucket
    * float rates to drift between engines), summed per key, divided
    * once at the end: tvd = l1_fp / (2·N_obs·N_ref). State is the
    * (key × 20 buckets) count grid — O(1) per key; the comparison
    * join touches only the tiny histogram table, never the stream.
    * At LLM-corpus scale the cross-products need decimal(38) headroom
    * (t34's caveat); at the test SFs they sit well inside long range.
    */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    def bucket = least(floor(col("value") / 25.0), lit(19.0)).cast("long")
    val ref = graft.sources.Sources.events(s, dir)
      .filter(col("user_id") % 2 === 0)
      .groupBy(col("event_type").as("r_type"), bucket.as("r_bucket"))
      .agg(count(lit(1)).as("ref_n"))
    val live = eventStream(s, dir)
      .filter(col("user_id") % 2 === 1)
      .groupBy(col("event_type"), bucket.as("o_bucket"))
      .agg(count(lit(1)).as("obs_n"))
    val counts = runToTable(live, "complete")
    val full = counts.join(ref,
        counts("event_type") === ref("r_type") &&
          counts("o_bucket") === ref("r_bucket"), "full_outer")
      .select(coalesce(col("event_type"), col("r_type")).as("et"),
        coalesce(col("obs_n"), lit(0L)).as("obs_n"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"))
    val tot = full.groupBy(col("et").as("t_et"))
      .agg(sum(col("obs_n")).as("n_obs"), sum(col("ref_n")).as("n_ref"))
    full.join(tot, col("et") === col("t_et"))
      .groupBy(col("et").as("event_type"), col("n_obs"), col("n_ref"))
      .agg(sum(abs(col("obs_n") * col("n_ref") - col("ref_n") * col("n_obs")))
        .as("l1_fp"))
      .select(col("event_type"), col("n_obs"), col("n_ref"), col("l1_fp"),
        round(col("l1_fp").cast("double") /
          (col("n_obs").cast("double") * col("n_ref") * 2.0), 6).as("tvd"))
      .orderBy("event_type")
  }

  /** Streaming data profile — q53's ANALYZE-stats backbone maintained
    * over the stream: exact row/null counts and typed min/max from ONE
    * complete-mode global aggregate (count/min/max are the
    * merge-closed subset of the batch profiler — the streaming-legal
    * ANALYZE), plus the user-id NDV as the portable HLL register
    * sketch (st21's machinery; exact distinct is not a streaming
    * aggregate, and the sketch IS the q53-documented 100 TB spelling
    * anyway). The batch exact NDV rides along as the measured error,
    * t30's convention. State: one global row + 2^p registers.
    */
  def streamProfile(s: SparkSession, dir: String, p: Int = 10): DataFrame = {
    val prime = 1000000007L
    val secs = expr("ts div 1000000000")
    val agg = eventStream(s, dir).agg(
      count(lit(1)).as("n"),
      count(col("value")).as("nn_value"),
      min(col("value")).as("min_value"), max(col("value")).as("max_value"),
      min(secs).as("min_sec"), max(secs).as("max_sec"),
      min(col("user_id")).as("min_uid"), max(col("user_id")).as("max_uid"))
    val stats = runToTable(agg, "complete")
    // t33's spread family folds the compact id space across the hash
    // range so the register buckets actually populate
    def spread = expr(s"(736238393 * (user_id % $prime) + 12345) % $prime")
    val regs = runToTable(
        graft.operators.TextIndex.hllRegisters(
          eventStream(s, dir).select(spread.as("h")), "h", p), "update")
      .groupBy("bucket").agg(max("rho").as("rho"))
    val ndv = graft.operators.TextIndex.hllSelect(regs,
      graft.sources.Sources.events(s, dir).select(spread.as("h")), "h", p)
    stats.crossJoin(ndv)
      .select(expr("""stack(10,
          'n_rows', n, cast(null as double),
          'sec_max', max_sec, cast(null as double),
          'sec_min', min_sec, cast(null as double),
          'uid_max', max_uid, cast(null as double),
          'uid_min', min_uid, cast(null as double),
          'uid_ndv_est', cast(null as bigint), est,
          'uid_ndv_exact', n_exact, cast(null as double),
          'value_max', cast(null as bigint), max_value,
          'value_min', cast(null as bigint), min_value,
          'value_nulls', n - nn_value, cast(null as double)
        ) as (stat, ival, dval)"""))
      .orderBy("stat")
  }

  /** Streaming transition counting — q54's Markov matrix with O(1)
    * per-key state: the ONLY thing remembered per user is their last
    * event (type, sec, id); each arriving event emits one transition
    * when it extends the same session (gap <= 30 min, q54's
    * convention) and replaces the state. flatMapGroupsWithState in
    * append mode — emissions are transition facts, counted by an
    * ordinary batch aggregate over the sink; no per-pair streaming
    * state at all, so the state store is O(users), independent of how
    * many transitions flow. Same ordering contract as st26 (rows
    * sorted within the batch iterator; the file replay delivers one
    * batch), and the final counts are exactly q54's minus nothing —
    * the two share one oracle derivation.
    */
  def streamTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val trans = eventStream(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("s"), col("event_id"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEvent],
            state: org.apache.spark.sql.streaming.GroupState[TransLast]) =>
          val sorted = rows.toArray.sortBy(e => (e.s, e.event_id))
          val out = List.newBuilder[Transition]
          var last = state.getOption.orNull
          sorted.foreach { e =>
            if (last != null && e.s - last.last_s <= 1800)
              out += Transition(last.last_type, e.event_type)
            last = TransLast(uid, e.event_type, e.s, e.event_id)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
    val tr = runToTable(trans.toDF(), "append")
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = tr.groupBy(col("from_type").as("f2"))
      .agg(sum(col("n")).as("n_from"))
    tr.join(tot, col("from_type") === col("f2"))
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        round(col("n").cast("double") / col("n_from"), 6).as("prob"))
      .orderBy("from_type", "to_type")
  }

  /** Streaming conversion funnel — q40's view→click→purchase session
    * funnel maintained with O(1) per-user state. The batch funnel's
    * min-semantics (mv = min view sec; mc = min click sec ≥ mv; mp =
    * min purchase sec ≥ mc) fold into a one-pass scan because events
    * arrive in (sec, event_id) order: the first view IS mv; the first
    * click at-or-after mv IS mc — except a click in mv's exact second
    * scanned before the view, which the single `pend_click` cell
    * covers (only a sec == mv pending click can qualify, and the
    * latest pending click ≤ mv has the max sec). Same cell trick for
    * purchases vs mc. Closed sessions collapse into four counters;
    * only the open session keeps live cells — state is 12 scalars per
    * user however long the stream runs. Per-user totals are monotone,
    * so the update-mode readout is max-per-key; the global rollup
    * shares q40's oracle verbatim.
    */
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = funnelTransform(eventStream(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("s"), col("event_id"))
      .as[FunEvent])
    runToTable(updates.toDF(), "update")
      .groupBy(col("user_id")) // totals are monotone: max = latest
      .agg(max(col("n_sessions")).as("u_sessions"),
        max(col("n_view")).as("u_view"),
        max(col("n_click")).as("u_click"),
        max(col("n_purchase")).as("u_purchase"))
      .agg(sum(col("u_sessions")).cast("long").as("n_sessions"),
        sum(col("u_view")).cast("long").as("n_view"),
        sum(col("u_click")).cast("long").as("n_click"),
        sum(col("u_purchase")).cast("long").as("n_purchase"))
  }

  /** The st31 state machine on any [[FunEvent]] stream — factored out
    * so the multi-batch spec drives the REAL transform (session close
    * across micro-batch boundaries included) through MemoryStream
    * splits. Events must arrive in (s, event_id) order across batches
    * (within a batch they are sorted here).
    */
  def funnelTransform(ds: org.apache.spark.sql.Dataset[FunEvent])
      : org.apache.spark.sql.Dataset[FunTotals] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunEvent],
            state: org.apache.spark.sql.streaming.GroupState[FunState]) =>
          def close(x: FunState): FunState =
            if (!x.open) x
            else x.copy(open = false,
              cl_sessions = x.cl_sessions + 1,
              cl_view = x.cl_view + (if (x.mv >= 0) 1L else 0L),
              cl_click = x.cl_click + (if (x.mc >= 0) 1L else 0L),
              cl_purchase = x.cl_purchase + (if (x.mp >= 0) 1L else 0L))
          var st = state.getOption.getOrElse(
            FunState(uid, open = false, 0L, -1L, -1L, -1L, -1L, -1L,
              0L, 0L, 0L, 0L))
          rows.toArray.sortBy(e => (e.s, e.event_id)).foreach { e =>
            if (st.open && e.s - st.last_s > 1800) st = close(st)
            if (!st.open)
              st = st.copy(open = true, mv = -1L, mc = -1L, mp = -1L,
                pend_click = -1L, pend_purch = -1L)
            e.event_type match {
              case "view" if st.mv < 0 =>
                st = st.copy(mv = e.s)
                if (st.pend_click == e.s) {
                  st = st.copy(mc = e.s)
                  if (st.pend_purch == e.s) st = st.copy(mp = e.s)
                }
              case "click" =>
                if (st.mv >= 0) {
                  if (st.mc < 0) {
                    st = st.copy(mc = e.s)
                    if (st.pend_purch == e.s) st = st.copy(mp = e.s)
                  }
                } else st = st.copy(pend_click = e.s)
              case "purchase" =>
                if (st.mc >= 0) {
                  if (st.mp < 0) st = st.copy(mp = e.s)
                } else st = st.copy(pend_purch = e.s)
              case _ => ()
            }
            st = st.copy(last_s = e.s)
          }
          state.update(st)
          FunTotals(uid,
            st.cl_sessions + (if (st.open) 1L else 0L),
            st.cl_view + (if (st.open && st.mv >= 0) 1L else 0L),
            st.cl_click + (if (st.open && st.mc >= 0) 1L else 0L),
            st.cl_purchase + (if (st.open && st.mp >= 0) 1L else 0L))
      }
  }

  /** Streaming recency-decay scoring — q58's exact 2^(30−age_hours)
    * engagement score over the stream. Exact decay needs per-hour
    * resolution, so the state is a bounded ring of (hour → weighted
    * sum, count) cells per user: cells older than 30h behind the
    * user's OWN max hour are evicted (they would contribute 0 under
    * any global reference ≥ the user's max, so eviction is lossless),
    * capping state at 31 cells per key over an unbounded stream. The
    * readout decays every retained cell against the GLOBAL reference
    * hour — recoverable batch-side because each user's max hour is
    * always retained, so max over all emitted cells = the corpus max.
    * Integer weights × powers of two keep every sum an exact bigint;
    * shares q58's oracle verbatim.
    */
  def streamDecayScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val updates = decayTransform(eventStream(s, dir)
      .select(col("user_id"),
        expr("ts div 1000000000 div 3600").as("h"),
        when(col("event_type") === "purchase", 16L)
          .when(col("event_type") === "click", 4L)
          .when(col("event_type") === "view", 2L)
          .when(col("event_type") === "error", 0L)
          .otherwise(1L).as("w"))
      .as[DecayEvent])
    decayReadout(runToTable(updates.toDF(), "update"))
  }

  /** The st32 state machine on any [[DecayEvent]] stream — factored
    * out so the multi-batch spec drives the REAL transform (hour-cell
    * upsert + lossless 31-cell eviction) through MemoryStream splits.
    */
  def decayTransform(ds: org.apache.spark.sql.Dataset[DecayEvent])
      : org.apache.spark.sql.Dataset[DecayState] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[DecayEvent],
            state: org.apache.spark.sql.streaming.GroupState[DecayState]) =>
          val prev = state.getOption.getOrElse(DecayState(uid, 0L, Nil, Nil, Nil))
          val m = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
          prev.hours.indices.foreach { i =>
            m(prev.hours(i)) = (prev.wsums(i), prev.cnts(i))
          }
          var n = prev.n_events
          rows.foreach { e =>
            val (ws, c) = m.getOrElse(e.h, (0L, 0L))
            m(e.h) = (ws + e.w, c + 1L)
            n += 1L
          }
          val maxH = m.keysIterator.max
          val kept = m.iterator.filter(_._1 >= maxH - 30).toSeq.sortBy(_._1)
          val next = DecayState(uid, n, kept.map(_._1).toList,
            kept.map(_._2._1).toList, kept.map(_._2._2).toList)
          state.update(next)
          next
      }
  }

  /** q58's scoring arithmetic over the final [[DecayState]] rows (a
    * plain DataFrame of user_id/n_events/hours/wsums/cnts — the
    * update-mode memory table or a spec's collected states).
    */
  def decayReadout(states: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("n_events").desc)
    val cells = states
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // latest state per key (n_events monotone)
      .select(col("user_id"), col("n_events"),
        explode(arrays_zip(col("hours"), col("wsums"), col("cnts"))).as("c"))
      .select(col("user_id"), col("n_events"), col("c.hours").as("h"),
        col("c.wsums").as("wsum"), col("c.cnts").as("cnt"))
    val ref = broadcast(cells.agg(max(col("h")).as("rh")))
    cells.crossJoin(ref)
      .withColumn("age", col("rh") - col("h"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("age") <= 30,
          col("wsum") * expr("shiftleft(1L, cast(30 - age as int))"))
          .otherwise(0L)).cast("long").as("score_fp"),
        sum(when(col("age") <= 30, col("cnt")).otherwise(0L)).cast("long")
          .as("n_recent"),
        max(col("n_events")).as("n_events"))
      .withColumn("score", col("score_fp").cast("double") / lit(1073741824.0))
      .select(col("user_id"), col("score_fp"), col("n_recent"),
        col("n_events"), col("score"))
      .orderBy("user_id")
  }

  /** Streaming last-touch attribution — q60's LOCF window as keyed
    * state: the only thing a user's history contributes to a future
    * purchase is their latest non-purchase event type, so the state is
    * ONE string per user. Purchases emit attribution facts in append
    * mode (the real-time revenue-by-channel feed); the batch rollup
    * over the emitted facts shares q60's oracle verbatim. Under
    * time-ordered arrival the emitted fact set is batch-identical for
    * any micro-batch split.
    */
  def streamAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hits = attributionTransform(eventStream(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("s"), col("event_id"), col("value"))
      .as[AttrEvent])
    runToTable(hits.toDF(), "append")
      .groupBy(col("attr_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("total_value"))
      .orderBy("attr_type")
  }

  /** The st33 state machine on any [[AttrEvent]] stream — factored out
    * for the multi-batch spec (attribution carried across micro-batch
    * boundaries).
    */
  def attributionTransform(ds: org.apache.spark.sql.Dataset[AttrEvent])
      : org.apache.spark.sql.Dataset[AttrHit] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[AttrEvent],
            state: org.apache.spark.sql.streaming.GroupState[AttrLast]) =>
          var last = state.getOption.orNull
          val out = List.newBuilder[AttrHit]
          rows.toArray.sortBy(e => (e.s, e.event_id)).foreach { e =>
            if (e.event_type == "purchase")
              out += AttrHit(if (last == null) "none" else last.last_type, e.value)
            else last = AttrLast(uid, e.event_type)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  /** The st27 state machine on any [[SkyEvent]] stream — factored out
    * so the multi-batch spec drives the REAL transform through
    * MemoryStream splits.
    */
  def skylineTransform(ds: org.apache.spark.sql.Dataset[SkyEvent])
      : org.apache.spark.sql.Dataset[SkyState] = {
    import ds.sparkSession.implicits._
    def dominates(av: Double, as_ : Long, bv: Double, bs: Long): Boolean =
      av >= bv && as_ <= bs && (av > bv || as_ < bs)
    ds.groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[SkyEvent],
            state: org.apache.spark.sql.streaming.GroupState[SkyState]) =>
          val prev = state.getOption.getOrElse(SkyState(et, 0L, Nil, Nil))
          var sky = prev.vs.zip(prev.ss)
          var n = prev.n_seen
          rows.foreach { e =>
            n += 1
            if (!sky.exists { case (v, t) => dominates(v, t, e.value, e.sec) })
              sky = (e.value, e.sec) ::
                sky.filterNot { case (v, t) => dominates(e.value, e.sec, v, t) }
          }
          val next = SkyState(et, n, sky.map(_._1), sky.map(_._2))
          state.update(next)
          next
      }
  }

  /** Streaming rate limiter / chain-suppression throttle — the TRUE
    * stateful cousin of q71's stateless lag-debounce, and semantically
    * different: an event is kept iff ≥ `gapS` seconds passed since the
    * last KEPT event of its (user, type), so a steady sub-gap drizzle
    * re-emits every `gapS` seconds (debounce would swallow it
    * entirely after the first). That needs the last-KEPT timestamp as
    * state — O(1) per key (one long + two counters), the alerting /
    * notification-dedup primitive every event pipeline deploys.
    *
    * Emitted running (n_seen, n_kept) are monotone per key, so the
    * update-mode memory table re-aggregates with max (st02's recipe).
    * Ordering contract: st26's — rows sort by (sec, event_id) within
    * each batch group; the oracle replays the same chain with a
    * per-(user, type) recursive CTE.
    */
  def streamThrottle(s: SparkSession, dir: String, gapS: Long = 300L): DataFrame = {
    import s.implicits._
    val updates = throttleTransform(eventStream(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000000000").as("s"), col("event_id"))
      .as[ThrottleEvent], gapS)
    runToTable(updates.toDF(), "update")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("n_seen")).as("n_seen"), max(col("n_kept")).as("n_kept"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n_seen")).as("n_seen"), sum(col("n_kept")).as("n_kept"))
      .orderBy("event_type")
  }

  /** The st39 chain-suppression state machine, factored so the
    * multi-batch spec drives the REAL transition (StreamThrottleSpec
    * proves batch-split invariance for in-order delivery).
    */
  def throttleTransform(ds: org.apache.spark.sql.Dataset[ThrottleEvent],
      gapS: Long = 300L): org.apache.spark.sql.Dataset[ThrottleState] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[ThrottleEvent],
            state: org.apache.spark.sql.streaming.GroupState[ThrottleState]) =>
          val prev = state.getOption.getOrElse(
            ThrottleState(key._1, key._2, Long.MinValue, 0L, 0L))
          val sorted = rows.toArray.sortBy(e => (e.s, e.event_id))
          val next = sorted.foldLeft(prev) { (st, e) =>
            val keep = st.last_kept_s == Long.MinValue ||
              e.s - st.last_kept_s >= gapS
            ThrottleState(st.user_id, st.event_type,
              if (keep) e.s else st.last_kept_s,
              st.n_seen + 1, st.n_kept + (if (keep) 1L else 0L))
          }
          state.update(next)
          next
      }
  }

  /** Streaming KS drift monitor — t42's exact-integer two-sample
    * Kolmogorov-Smirnov per source, with the (source, length) count
    * table maintained as STREAMING state (complete-mode count
    * aggregate — the state is bounded by sources × distinct lengths,
    * st28's histogram-state shape) and the KS readout running
    * batch-side through the SHARED [[graft.operators.TextIndex
    * .ksFromCounts]]. The replayed stream reproduces the batch count
    * table exactly, so st38 shares t42's oracle verbatim.
    */
  def streamKsDrift(s: SparkSession, dir: String): DataFrame = {
    val live = graft.sources.Sources.documentsStream(s, dir)
      .groupBy(col("source"), col("n_chars").cast("long").as("v"))
      .agg(count(lit(1)).as("cnt"))
    graft.operators.TextIndex.ksFromCounts(runToTable(live, "complete"))
  }

  /** Streaming incremental view maintenance — d20's delta path with
    * the change feed as a LIVE stream: each streamed document row maps
    * STATELESSLY to its signed delta events (remove %13 / modify %7 →
    * +3 chars / add %11 → a new +len+4 doc — the same deterministic v2
    * the batch query diffs), a complete-mode per-source aggregation
    * folds them into exactly |sources| rows of (Δdocs, Δchars) state,
    * and the readout adds the STORED v1 aggregate (the static asset a
    * warehouse would keep between ingests). The maintained view equals
    * a from-scratch v2 recompute — which is exactly what the oracle
    * does — while the stream itself only ever moves delta rows:
    * at 100 TB this is the difference between touching the change feed
    * and rescanning the corpus every refresh.
    *
    * A row can yield up to TWO deltas (its own remove/modify plus the
    * %11 synthetic add), built as a 2-slot nullable array → filter →
    * explode: one pass, no stream self-union (a self-union would read
    * the file source twice per micro-batch).
    */
  def streamIncrementalStats(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val v1 = docs.select(col("source"), length(col("text")).as("len"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n1"), sum(col("len")).cast("long").as("l1"))
    val id = col("doc_id").cast("long")
    val len = length(col("text")).cast("long")
    val deltas = graft.sources.Sources.documentsStream(s, dir)
      .select(col("source"), explode(filter(array(
        when(id % 13 === 0,
          struct(lit(-1L).as("dn"), (-len).as("dl")))
          .when(id % 7 === 0, struct(lit(0L).as("dn"), lit(3L).as("dl"))),
        when(id % 11 === 0,
          struct(lit(1L).as("dn"), (len + 4L).as("dl")))),
        x => x.isNotNull)).as("d"))
      .groupBy(col("source"))
      .agg(sum(col("d.dn")).as("dn"), sum(col("d.dl")).as("dl"))
    runToTable(deltas, "complete")
      .join(v1, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("l1"), lit(0L)) + coalesce(col("dl"), lit(0L)))
          .as("sum_len"))
      .filter(col("n_docs") > 0L) // a fully-emptied source leaves the view
      .orderBy("source")
  }

  /** STREAMING k-NN-GRAPH UPSERT INTENTS — d26's incremental graph
    * maintenance at ingest time: each ARRIVING vector (ids shifted
    * +100000, st50's shard convention) routes through the frozen
    * two-level quantizer and emits the write-ahead intents a
    * downstream merger applies:
    *
    *   - kind='new_topk': the arriving vector's own top-k over the
    *     BASE members of its probed cells (its initial adjacency row),
    *   - kind='upsert': for every base query that PROBES the arriving
    *     vector's assigned cell, the candidate edge (base_q → new_n)
    *     iff it would enter base_q's current top-k — admitted when the
    *     6-dp cosine strictly beats the stored 5th-best (or the stored
    *     row set is short); exact ties defer to the batch merger, the
    *     conservative choice (d26 is the full-merge batch twin).
    *
    * Since round 16 this is the GLOBAL MERGE over
    * [[shardedUpsertPartials]] (st61's cell-sharded machinery): the
    * per-owner partials are lossless — members partition by their
    * assigned cell's owner, so the global top-k by the RAW cosine of
    * the deduped union equals the unsharded list row for row, and
    * upserts are emitted whole by the assigned cell's single owner
    * (GraphUpsertSpec pins the fold). Nothing corpus-sized ever
    * touches the driver or a single worker: the slices are a
    * distributed build-once parquet asset and each arm collects only
    * its O((1+nprobe)·corpus/nOwners) share. The DuckDB oracle
    * replays the frozen build AND every intent.
    */
  def streamGraphUpsert(s: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = 4, superProbe: Int = 3, nOwners: Int = 4): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    shardedUpsertPartials(s, dir, nOwners, k, nprobe, superProbe) match {
      case None => // empty base: no frozen index, no intents
        Seq.empty[(String, Long, Long, java.lang.Long, Double)]
          .toDF("kind", "q_id", "n_id", "rnk", "cos_sim")
      case Some(partials) =>
        val p = persist(partials) // read by both intent arms
        // upserts are already exact per owner (the assigned cell has
        // ONE owner) — pass through
        val ups = p.filter(col("kind") === "upsert")
          .select(col("kind"), col("q_id"), col("n_id"), col("rnk"),
            col("cos_sim"))
        // new_topk: global top-k of the unioned per-owner partials by
        // the RAW cosine (ties id ASC) — bit-identical to the
        // unsharded kernel because owners rank by the same raw fold
        val nt = p.filter(col("kind") === "new_topk")
          .withColumn("grnk", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("cos_raw").desc, col("n_id").asc)))
          .filter(col("grnk") <= k)
          .select(col("kind"), col("q_id"), col("n_id"),
            col("grnk").cast("long").as("rnk"), col("cos_sim"))
        nt.unionByName(ups)
    }
  }

  /** CELL-SHARDED STREAMING UPSERT INTENTS (st61) — st53's assets
    * sliced by CELL OWNER: rendezvous-hash the CELL id among `nOwners`
    * serving workers (the natural shard key for an IVF-routed index —
    * a cell's members, probers, prober vectors, and prober thresholds
    * all live with the cell), so each arm holds
    * O((1+nprobe)·corpus/nOwners). Each owner emits PER-OWNER PARTIAL
    * intents:
    *
    *   - kind='new_topk': the arrival's top-k over the members of its
    *     probed cells THAT THE OWNER HOLDS, ranked within the owner.
    *     Partials are LOSSLESS: members partition by their assigned
    *     cell's owner, and any global top-k candidate is in its
    *     owner's local top-k, so the merger's top-k of the deduped
    *     union equals st53's global list exactly (GraphUpsertSpec
    *     pins this fold; [[streamGraphUpsert]] IS that merge).
    *   - kind='upsert': emitted by the single owner of the arrival's
    *     ASSIGNED cell — identical rows to st53's, since that owner
    *     holds the assigned cell's probers, their vectors, and their
    *     stored thresholds.
    *
    * Both round-15 scale warts are gone: the slices are a DISTRIBUTED
    * build-once parquet asset (no full-corpus driver map — each arm
    * collects only its own slice), and the scatter ROUTES ONCE — one
    * streaming pass routes each arrival through the broadcast O(nlist)
    * centroid tables and [[dispatch]]es the (owner, arrival) rows
    * (router work is per-arrival, not per-arrival-per-owner). The
    * oracle replays the frozen build and every per-owner partial.
    */
  def streamShardedGraphUpsert(s: SparkSession, dir: String,
      nOwners: Int = 4, k: Int = 5, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame = {
    import s.implicits._
    shardedUpsertPartials(s, dir, nOwners, k, nprobe, superProbe) match {
      case None =>
        Seq.empty[(String, Long, Long, Long, java.lang.Long, Double)]
          .toDF("kind", "owner", "q_id", "n_id", "rnk", "cos_sim")
      case Some(partials) => partials.select(col("kind"), col("owner"),
        col("q_id"), col("n_id"), col("rnk"), col("cos_sim"))
    }
  }

  /** One cell owner's upsert replica: its cells' members and probers,
    * the vectors of those ids, and the probers' stored (rounded 5th-best,
    * count) admission thresholds.
    */
  private final case class OwnerSlice(members: Map[Long, Array[Long]],
      probers: Map[Long, Array[Long]], vecs: Map[Long, Array[Float]],
      thr: Map[Long, (Double, Long)])

  /** The shared upsert-intent machinery behind [[streamGraphUpsert]]
    * (st53, the global merge) and [[streamShardedGraphUpsert]] (st61,
    * the per-owner partials): the arrivals are [[dispatch]]ed by cell
    * owner, each owner's slice of the build-once asset
    * ([[graft.operators.Similarity.ensureUpsertOwnerSlices]]) loads
    * through [[perShard]] as one [[OwnerSlice]] broadcast, and ONE typed
    * pass over the dispatch runs each row against `bc(owner)` — the
    * [[fusedRoutedWalk]] shape. Returns the per-owner partial intents
    * with BOTH the raw cosine (`cos_raw`, the merge's exact ordering
    * key) and the HALF_UP round-6 readout (`cos_sim`); None when the
    * base corpus is empty.
    *
    * The local kernel replicates the operators' math bit for bit:
    * DotProduct's sequential fold with per-element double cast
    * ([[cosExact]]/[[cosExactFD]]), (cos DESC, id ASC) ties at both
    * routing levels and the top-k, NaN rejected. Admission compares
    * ROUNDED to ROUNDED (the asset stores the published graph's
    * rounded 5th-best), so the intent replays exactly.
    */
  private def shardedUpsertPartials(s: SparkSession, dir: String,
      nOwners: Int, k: Int, nprobe: Int, superProbe: Int)
      : Option[DataFrame] = {
    import s.implicits._
    import graft.operators.{Mixture, Similarity}
    val base = s.read.parquet(s"$dir/embeddings.parquet")
    if (base.isEmpty) return None // empty base: no frozen index
    // the tiny frozen routing tables — O(nlist), broadcast everywhere
    val trained = Similarity.ivfTrainCentroidsFp(base,
      Similarity.scaledNlist(base.count()), hashSeed = true)
    val (superRows, centRows) = Similarity.firstNsSuperTable(trained,
      Similarity.scaledSuperList(trained.length))
    val sup: Array[(Long, Array[Double])] =
      superRows.map { case (sid, v) => (sid, v.toArray) }.toArray
    val cents: Array[(Long, Long, Array[Double])] =
      centRows.map { case (sid, cid, v) => (sid, cid, v.toArray) }.toArray
    val bcSup = s.sparkContext.broadcast(sup)
    val bcCents = s.sparkContext.broadcast(cents)
    // the per-owner slices: a DISTRIBUTED build-once parquet asset —
    // the driver never holds the unsliced corpus
    val slices = Similarity.ensureUpsertOwnerSlices(s, dir, nOwners, k,
      nprobe, superProbe)
    val ownerOf: Long => Int = c => Mixture.rendezvousShardOf(c, nOwners)
    // one routing pass emits an (owner, arrival) row per owner of a
    // probed cell; arms never re-run the router
    val routedT = dispatch(queryArrivals(s, dir)
      .as[(Long, Array[Float])]
      .flatMap { case (qId, qv) =>
        val probed = routeTwoLevel(qv, bcSup.value, bcCents.value,
          nprobe, superProbe)
        if (probed.isEmpty) Iterator.empty
        else probed.map(ownerOf).distinct.iterator
          .map(o => (o, qId, qv, probed, probed.head))
      }
      .toDF("owner", "q_id", "embedding", "probed", "assigned_cell"), "owner", nOwners)
    // each owner collects ONLY its slice — O((1+nprobe)·n/nOwners)
    // narrow cell rows + ONE vector row per (owner, id)
    val bc = perShard(nOwners) { o =>
      val rows = slices.filter(col("owner") === o)
        .select(col("cell"), col("id"), col("role"), col("vec"),
          col("thr"), col("thr_cnt"))
        .as[(Long, Long, String, Array[Float], Option[Double], Option[Long])]
        .collect()
      def cells(role: String): Map[Long, Array[Long]] = rows.filter(_._3 == role)
        .groupBy(_._1).map { case (c, xs) => (c, xs.map(_._2).sorted) }
      val vrows = rows.filter(_._3 == "v")
      OwnerSlice(cells("m"), cells("p"), vrows.iterator.map(r => (r._2, r._4)).toMap,
        vrows.iterator.flatMap(r => r._5.map(t => (r._2, (t, r._6.get)))).toMap)
    }.map(s.sparkContext.broadcast(_))
    Some(routedT
      .select(col("owner"), col("q_id"), col("embedding"), col("probed"),
        col("assigned_cell"))
      .as[(Int, Long, Array[Float], Seq[Long], Long)]
      .flatMap { case (o, qId, qv, probed, assignedCell) =>
        val sl = bc(o).value
        val members = probed.filter(c => ownerOf(c) == o)
          .flatMap(c => sl.members.getOrElse(c, Array.empty[Long])).distinct
        val newTop = topByCos(members.iterator
          .map(id => (id, cosExact(qv, sl.vecs(id)))), k)
          .zipWithIndex.map { case ((nId, c), i) =>
            ("new_topk", o.toLong, qId, nId,
              java.lang.Long.valueOf((i + 1).toLong), c, round6(c))
          }
        val ups =
          if (ownerOf(assignedCell) != o) Iterator.empty
          else sl.probers.getOrElse(assignedCell, Array.empty[Long])
            .iterator.map { bq => (bq, cosExact(sl.vecs(bq), qv)) }
            .filter(!_._2.isNaN)
            .flatMap { case (bq, c) =>
              val c6 = round6(c)
              sl.thr.get(bq) match {
                case Some((t, cnt)) if cnt >= k && c6 <= t => None
                case _ => Some(("upsert", o.toLong, bq, qId,
                  null.asInstanceOf[java.lang.Long], c, c6))
              }
            }
        newTop.iterator ++ ups
      }
      .toDF("kind", "owner", "q_id", "n_id", "rnk", "cos_raw", "cos_sim"))
  }

  /** STREAMING TAKEDOWN INTENTS (st54) — st53's delete half: takedown
    * notices arrive as a stream and emit the write-ahead intents a
    * downstream merger applies against the published k-NN graph asset:
    *
    *   - `drop`: the noticed id's own adjacency list is removed;
    *   - `invalidate`: every stored edge POINTING AT the noticed id —
    *     the holder's slot goes dirty, queueing it for the compaction
    *     repair ([[graft.operators.Similarity.knnGraphTombstoneFp]]'s
    *     re-rank). Splitting intent emission (streaming, per notice)
    *     from repair (batch compaction over the accumulated notice
    *     set) is what keeps each intent EXACT: a repair computed
    *     per-notice would be wrong whenever two notices hit the same
    *     holder's top-k.
    *
    * The Spark shape is the serving-side ideal: a STREAM-STATIC
    * equi-join of the notice stream against the frozen graph asset on
    * the pointed-at id — no state store, no watermark, append mode;
    * at 100 TB the asset side is a parquet table and AQE/broadcast
    * handles the join side choice. The oracle replays the scaled
    * graph build and both intent arms.
    */
  def streamTombstoneIntents(s: SparkSession, dir: String, k: Int = 5,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3): DataFrame = {
    import graft.operators.Similarity
    // the frozen published asset: ranks + rounded cosines (s30's
    // shape), READ from the build-once store — a takedown notice
    // never pays an index build (the nightly job did)
    val graph = Similarity.ensureRankedKnnIndex(s, dir, k, targetList,
      nprobe, superProbe)
    val notices = graft.sources.Sources.embeddingsStream(s, dir)
      .filter(col("vec_id") % 10 === 3)
      .select(col("vec_id").cast("long").as("del_id"))
    val drops = notices.select(lit("drop").as("kind"),
      col("del_id").as("q_id"), lit(null).cast("long").as("n_id"),
      lit(null).cast("long").as("rnk"), lit(null).cast("double").as("cos_sim"))
    val invalidates = notices
      .join(graph, notices("del_id") === graph("n_id"))
      .select(lit("invalidate").as("kind"), graph("q_id"), graph("n_id"),
        graph("rnk").cast("long").as("rnk"), graph("cos_sim"))
    runToTable(drops.unionByName(invalidates), "append")
  }

  /** THE FULL SERVING STACK IN ONE ROW (st60) — every leg of the
    * production story composed: the corpus is rendezvous-sharded
    * (t55/st56) into per-shard build-once graph assets (st58),
    * takedown notices stream through st54's intent log, and each
    * serving arm masks its shard replica by the intent table's drop
    * set (s43/st59's contract — the graph asset is untouched, masked
    * ids cannot seed, hold a beam slot, or be returned). No collected
    * or broadcast structure exceeds O(corpus/nShards); takedowns are
    * honored immediately at zero build cost. Oracle = st58's
    * per-shard replay with s43's scoreMask arm — hash-green proves
    * the composed stack serves exactly what nShards independent
    * masked deployments would.
    */
  def streamShardedTakedownServing(s: SparkSession, dir: String,
      nShards: Int = 4, k: Int = 5, beam: Int = 16, rounds: Int = 3,
      seedMod: Int = 64, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3): DataFrame = {
    val intents = streamTombstoneIntents(s, dir, k, targetList, nprobe,
      superProbe)
    val tomb = intents.filter(col("kind") === "drop")
      .select(col("q_id").cast("long").as("del_id")).distinct()
    streamShardedGraphProbe(s, dir, nShards, k, beam, rounds, seedMod,
      graphK, targetList, nprobe, superProbe, tombstones = Some(tomb))
  }

  /** STREAMING TAKEDOWN → SERVING (st59) — the composition the
    * takedown family promised but no row drove end to end: st54 LOGS
    * intents, s42 compacts, s43 serves masked — and HERE the mask is
    * derived FROM the intent stream's output table instead of a
    * closed-form predicate. The intent stream runs first (st54's
    * exact dataflow — notices stream-static-joined against the frozen
    * k=5 graph asset); its `drop` intents become the tombstone set;
    * serving then walks the UNCHANGED stored graph asset
    * ([[graft.operators.Similarity.ensureKnnGraphIndex]] — the
    * build-once parquet, never rebuilt for a takedown) with the
    * intent-derived survivors as the scoring table, via an anti-join
    * — masked ids cannot seed, hold a beam slot, or be read.
    *
    * At 100 TB this is the serving tier's actual read path between
    * compactions: intent log (a tiny streamed table) anti-joined
    * against the corpus at query time, zero build cost per takedown.
    * The oracle is s43's replay verbatim — hash-green proves the
    * stream-derived mask serves exactly what the closed-form mask
    * does.
    */
  def streamTakedownToServing(s: SparkSession, dir: String, k: Int = 5,
      beam: Int = 16, rounds: Int = 3, seedMod: Int = 64,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3)
      : DataFrame = {
    import graft.operators.Similarity
    val intents = streamTombstoneIntents(s, dir, k, targetList, nprobe,
      superProbe)
    val tomb = intents.filter(col("kind") === "drop")
      .select(col("q_id").cast("long").as("del_id")).distinct()
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    // read once per beam round
    val graph = persist(
      Similarity.ensureKnnGraphIndex(s, dir, graphK = 10,
          targetList = targetList, nprobe = nprobe, superProbe = superProbe))
    val live = emb.join(tomb, emb("vec_id") === tomb("del_id"), "left_anti")
    Similarity.graphBeamSearchOver(graph, live,
      emb.filter(col("vec_id") < 5), k = k, beam = beam, rounds = rounds,
      seedMod = seedMod)
  }

  /** SHARD-RESIZE COMPOSED SERVING (st62) — t56 computes the mover
    * list of a rendezvous resize kFrom → kTo; HERE the fleet actually
    * SERVES through the resize, and the point is what does NOT get
    * rebuilt:
    *
    *   - the kFrom old shards keep serving their EXISTING per-shard
    *     graph assets byte-for-byte (the fingerprint-guarded store
    *     returns the same parquet st58's fleet built — zero index
    *     builds for them). Their movers — exactly the ids whose
    *     kTo-argmax landed on a new shard, the HRW guarantee t56's
    *     rebalance ships — leave only the SCORING replica (s43's
    *     masking contract: the asset still points at them, but they
    *     cannot seed, hold a beam slot, or be returned);
    *   - only the kTo − kFrom NEW shards build assets, each over just
    *     its mover sliver (~corpus/kTo) — the ~1/kTo incremental cost
    *     a consistent-hashing tier pays for growing.
    *
    * Queries route under the NEW kTo layout. The routing is
    * self-consistent: a query whose kTo-argmax is an old shard sh has
    * the SAME kFrom-argmax (removing members can only lose the argmax
    * to a removed member), so no old shard ever sees a query that
    * wasn't already its own. Likewise each old shard's kTo-layout
    * slice IS its kFrom slice minus its movers, so the scoring
    * replica is uniformly the kTo partition — only the ASSET
    * generation differs across the fleet. Compaction (rebuilding old
    * shards' assets over their kTo slices) can then run shard-by-shard
    * offline, exactly the LSM story s42 gives tombstones.
    *
    * The DuckDB oracle replays all kTo arms: old shards build over
    * the kFrom slice and score over the kTo slice (mask arm), new
    * shards build and score over the kTo slice.
    */
  def streamShardResizeServing(s: SparkSession, dir: String,
      kFrom: Int = 4, kTo: Int = 5, k: Int = 5, beam: Int = 16,
      rounds: Int = 3, seedMod: Int = 64, graphK: Int = 10,
      targetList: Int = 64, nprobe: Int = 4, superProbe: Int = 3)
      : DataFrame = {
    import graft.operators.Mixture
    require(k <= beam, s"k=$k must be <= beam=$beam")
    require(kFrom >= 1 && kTo > kFrom,
      s"resize must grow the fleet: kFrom=$kFrom, kTo=$kTo")
    // queries route under the NEW layout
    val routedQ = dispatch(queryArrivals(s, dir)
      .withColumn("shard", Mixture.rendezvousShardCol(col("q_id"), kTo)), "shard", kTo)
    // scoring replica: the kTo partition — for old shards the kFrom
    // slice minus its movers (the HRW stability set). The asset: old
    // shards REUSE the kFrom-layout store (built over slice + movers),
    // new shards build over their mover sliver
    fusedRoutedWalk(routedQ,
      shardReplicas(s, dir, kTo, sh => if (sh < kFrom) kFrom else kTo, _ % seedMod == 0,
        graphK, targetList, nprobe, superProbe),
      k, beam, rounds)
  }

  /** THE exact cosine fold of the streaming serving family — the one
    * spelling [[localBeamWalk]]'s prune, the shard-router summary
    * scoring (st64), and the upsert kernels all call: per-element
    * float→double cast, left-to-right accumulation — bit-identical to
    * the codegen DotProduct and to the DuckDB replay's list_sum
    * spelling. One definition so the bit-exactness contract cannot
    * drift between the walk and the router.
    */
  private[streaming] def cosExact(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      acc
    }
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
  }

  /** [[cosExact]] against a frozen DOUBLE table (the trained
    * super/centroid rows are integral doubles): the same left-to-right
    * fold, float→double cast on the query side only — bit-identical
    * to the column-expression spelling the batch router runs.
    */
  private def cosExactFD(a: Array[Float], b: Array[Double]): Double = {
    var dab = 0.0; var i = 0
    while (i < a.length) { dab += a(i).toDouble * b(i); i += 1 }
    var daa = 0.0; i = 0
    while (i < a.length) { daa += a(i).toDouble * a(i).toDouble; i += 1 }
    var dbb = 0.0; i = 0
    while (i < b.length) { dbb += b(i) * b(i); i += 1 }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  /** (cos DESC, id ASC) prefix of a scored stream — the TopKCosAgg
    * convention, NaN rejected; shared by every local routing/scoring
    * kernel so the tie rule cannot drift.
    */
  private def topByCos(xs: Iterator[(Long, Double)], m: Int)
      : Seq[(Long, Double)] =
    xs.filter(!_._2.isNaN).toSeq.sortBy { case (id, c) => (-c, id) }.take(m)

  /** HALF_UP round-6 — the family's readout rounding. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The arriving-vector side of the frozen two-level router: probe
    * the top-`superProbe` super cells, then the top-`nprobe` centroids
    * within them — (cos DESC, id ASC) at both levels, exactly
    * [[graft.operators.Similarity.twoLevelRouted]]'s math run locally
    * against the broadcast O(nlist) tables. Returns the probed cell
    * ids in rank order (head = hard assignment); empty when every
    * cosine is NaN.
    */
  private def routeTwoLevel(qv: Array[Float],
      sup: Array[(Long, Array[Double])],
      cents: Array[(Long, Long, Array[Double])],
      nprobe: Int, superProbe: Int): Seq[Long] = {
    val supTop = topByCos(sup.iterator
      .map { case (sid, sv) => (sid, cosExactFD(qv, sv)) }, superProbe)
      .map(_._1).toSet
    topByCos(cents.iterator
      .filter { case (sid, _, _) => supTop.contains(sid) }
      .map { case (_, cid, cv) => (cid, cosExactFD(qv, cv)) }, nprobe)
      .map(_._1)
  }

  /** ROUTED SCATTER-GATHER SERVING (st64) — the OTHER distributed-ANN
    * serving shape, complementing st58's key-affinity routing: when
    * the corpus is sharded arbitrarily (rendezvous on vec_id says
    * nothing about where a query's NEIGHBORS live), a query must visit
    * shards by SIMILARITY, not by its own key. Production systems
    * bound that scatter with a navigation layer: here each shard is
    * summarized by its sparse router slice (vec_id % routerMod — a
    * second, coarser level above the walk seeds), every arriving
    * query ranks shards by max summary cosine (ties → low shard) and
    * walks only the top `probeShards` replicas; the gather is the
    * exact top-k merge of the per-shard partials by (cos DESC, id
    * ASC) — lossless over what was scattered to, k·probeShards rows
    * per query.
    *
    * Scale accounting: per-shard replicas are O(corpus/nShards)
    * (st58's bound), the router summary is O(corpus/routerMod) total
    * — a deployment scales routerMod with the corpus to keep it
    * constant (st50's seedMod convention, one level up) — and each
    * query pays ONE summary ranking plus probeShards walks, both
    * constants: the ranking runs once per arrival, in the
    * [[dispatch]]. The oracle replays the router ranking, every routed
    * walk, and the merge.
    */
  def streamScatterGatherServing(s: SparkSession, dir: String,
      nShards: Int = 4, probeShards: Int = 2, k: Int = 5, beam: Int = 16,
      rounds: Int = 3, seedMod: Int = 64, routerMod: Int = 64,
      graphK: Int = 10, targetList: Int = 64, nprobe: Int = 4,
      superProbe: Int = 3): DataFrame = {
    import s.implicits._
    require(k <= beam, s"k=$k must be <= beam=$beam")
    require(probeShards >= 1 && probeShards <= nShards,
      s"probeShards=$probeShards must be in [1, nShards=$nShards]")
    val replicas = shardReplicas(s, dir, nShards, _ => nShards, _ % seedMod == 0,
      graphK, targetList, nprobe, superProbe)
    // the navigation layer: each shard's sparse router slice —
    // O(corpus/routerMod) across the whole fleet, broadcast once
    val summary: Array[(Int, Array[Array[Float]])] = replicas.zipWithIndex.map {
      case (r, sh) =>
        (sh, r.vecs.iterator.filter(_._1 % routerMod == 0)
          .toArray.sortBy(_._1).map(_._2))
    }.toArray
    val bcSummary = s.sparkContext.broadcast(summary)
    // one routing pass ranks the shards per arrival against the
    // summary — probeShards (shard, arrival) rows per arrival
    val routedQ = dispatch(queryArrivals(s, dir).as[(Long, Array[Float])]
      .flatMap { case (qId, qv) =>
        bcSummary.value.iterator.flatMap { case (s2, rvs) =>
          val scores = rvs.iterator.map(v => cosExact(qv, v))
            .filter(!_.isNaN).toSeq
          if (scores.isEmpty) None else Some((s2, scores.max))
        }.toSeq.sortBy { case (s2, sc) => (-sc, s2) }
          .take(probeShards).iterator.map(r => (r._1, qId, qv))
      }.toDF("shard", "q_id", "embedding"), "shard", nShards)
    // the GATHER: exact top-k merge of the routed arms' partials —
    // shard slices are disjoint, so no dedup; rounded-cosine ties
    // break on id like every readout in the family
    val partials = fusedRoutedWalk(routedQ, replicas, k, beam, rounds)
      .select(col("q_id"), col("shard"), col("n_id"), col("cos_sim"))
    import org.apache.spark.sql.expressions.Window
    partials
      .withColumn("rnk", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc, col("n_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("n_id"), col("cos_sim"),
        col("shard"))
  }

  /** SHARD-FAILOVER SERVING (st63) — the resize story's other
    * direction: a serving node DIES (the newest member decommissions —
    * HRW removal moves only the dead member's keys, and removing the
    * last index IS the (kFrom−1)-layout), and the fleet keeps serving
    * with ZERO index builds:
    *
    *   - each surviving shard's scoring replica becomes its
    *     (kFrom−1)-layout slice — its own keys plus the GAINED orphans
    *     the dead shard owned (their vectors are in the store; only
    *     the dead node's memory is gone);
    *   - the graph asset stays the stored kFrom-layout build, which
    *     PREDATES the gained keys — they have no edges, so they are
    *     graph orphans: unreachable through any walk;
    *   - the availability answer is the SEED LAYER: every gained key
    *     joins the seeds (alongside the id%seedMod slice), so it can
    *     be scored into any beam and returned — degraded (no
    *     neighborhood expansion FROM it) but never invisible. The
    *     per-shard recompaction job then rebuilds at leisure, exactly
    *     s42's LSM contract.
    *
    * Queries route under the surviving layout; self-consistent by the
    * same HRW argument as st62. The oracle replays every surviving
    * arm: old-slice build (train + route), new-slice scoring, and the
    * OR-widened seed condition.
    */
  def streamShardFailoverServing(s: SparkSession, dir: String,
      kFrom: Int = 5, k: Int = 5, beam: Int = 16, rounds: Int = 3,
      seedMod: Int = 64, graphK: Int = 10, targetList: Int = 64,
      nprobe: Int = 4, superProbe: Int = 3): DataFrame = {
    import graft.operators.Mixture
    require(k <= beam, s"k=$k must be <= beam=$beam")
    require(kFrom >= 2, s"kFrom=$kFrom: a 1-shard fleet cannot fail over")
    val kTo = kFrom - 1
    // queries route under the surviving layout
    val routedQ = dispatch(queryArrivals(s, dir)
      .withColumn("shard", Mixture.rendezvousShardCol(col("q_id"), kTo)), "shard", kTo)
    // each survivor scores its own keys + the dead shard's orphans
    // against the stored pre-failover asset, reused byte-for-byte; the
    // gained orphans join the seed layer — findable pre-rebuild
    fusedRoutedWalk(routedQ,
      shardReplicas(s, dir, kTo, _ => kFrom,
        id => id % seedMod == 0 || Mixture.rendezvousShardOf(id, kFrom) == kFrom - 1,
        graphK, targetList, nprobe, superProbe),
      k, beam, rounds)
  }

  /** STREAMING CONTENT-TAKEDOWN PROPAGATION (st55) — the CONTENT-level
    * takedown policy (d27 models the doc-level one): a notice names a
    * doc, but the thing being taken down is its CONTENT, so every
    * member of its near-dup cluster must leave with it — including
    * copies under other ids the notifier never saw. Arriving notices
    * stream-static-join the FROZEN cluster map (the stored d08 verdict
    * asset) twice: once to resolve the notice's cluster, once to fan
    * out to every member — two equi-joins, no state store, append
    * mode. Per-notice exactness is free here: membership is a pure
    * lookup in the frozen map, so overlapping notices just emit
    * overlapping purge intents the merger dedups.
    */
  def streamTakedownPropagate(s: SparkSession, dir: String,
      corpus: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val verdicts = persist(
      Dedup.dedupVerdicts(corpus, "text", "doc_id",
          k = 16, bands = 4, n = 3, minEstSim = 0.5)
        .select(col("doc_id"), col("canonical_id"))) // resolved once, joined twice
    val notices = graft.sources.Sources.documentsStream(s, dir)
      .filter(col("doc_id") % 37 === 5)
      .select(col("doc_id").cast("long").as("ntc_id"))
    notices
      .join(verdicts.select(col("doc_id").as("ntc_id"), col("canonical_id")),
        "ntc_id")
      .join(verdicts.select(col("canonical_id"), col("doc_id").as("member")),
        "canonical_id")
      .select(col("ntc_id"), col("canonical_id"), col("member"))
      .transform(runToTable(_, "append"))
  }

  /** STREAMING SHARD ROUTER (st56) — t55's rendezvous assignment at
    * ingest time, in its true production shape: a PURE per-row column
    * expression (the argmax folds over a literal shard array via
    * array_max on (w, −s, s) structs — Spark's lexicographic struct
    * order IS the tie rule), so routing is stateless, shuffle-free,
    * and codegen'd — the thing a 100 TB ingest tier computes per
    * record before writing. Stream == batch cell for cell; shares
    * t55's oracle verbatim.
    */
  def streamShardRouter(s: SparkSession, dir: String,
      k: Int = 8, k2: Int = 9): DataFrame = {
    import graft.operators.Mixture
    require(1 <= k && k < k2, s"need 1 <= k < k2, got k=$k k2=$k2")
    val routed = graft.sources.Sources.documentsStream(s, dir)
      .select(col("doc_id").cast("long").as("doc_id"))
      .select(col("doc_id"),
        Mixture.rendezvousShardCol(col("doc_id"), k).as("shard_k"),
        Mixture.rendezvousShardCol(col("doc_id"), k2).as("shard_k2"))
      .withColumn("moved", col("shard_k") =!= col("shard_k2"))
    runToTable(routed, "append")
  }

  /** STREAMING SPEECH-SHOT COVERAGE (st57) — m17's silent-shot gate at
    * ingest time. The batch row joins two SEPARATE extraction outputs;
    * the stream twin collapses both segmentations into ONE typed pass
    * over the arriving payload (same exact-integer block sums, same
    * cut/threshold rules) and emits the per-shot coverage rows
    * directly — stateless, no join, no state store. Stream == batch
    * row for row; shares m17's oracle verbatim.
    */
  def streamSpeechCoverage(s: SparkSession, dir: String,
      vadThr: Int = 95, cutThr: Long = 96L): DataFrame = {
    import s.implicits._
    import graft.operators.Multimodal
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bs = Multimodal.StubCodec.BlockSize
    val rows = Multimodal.withBinaryPayload(
        graft.sources.Sources.documentsStream(s, dir)
          .select(col("doc_id"), col("text")), "text")
      .select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, payload) =>
        // one pass: per-block sum + length -> activity and cut flags
        val blocks = payload.grouped(bs).map { blk =>
          var sum = 0L; var j = 0
          while (j < blk.length) { sum += blk(j) & 0xff; j += 1 }
          (sum, blk.length)
        }.toArray
        val act = blocks.map { case (sum, len) => sum >= vadThr.toLong * len }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long, Long, Long, Double, Boolean)]
        var shot = 0L; var startF = 0; var f = 0
        def emit(endF: Int): Unit = {
          var speech = 0L; var i = startF
          while (i <= endF) { if (act(i)) speech += 1; i += 1 }
          val len = (endF - startF + 1).toLong
          out += ((id, shot, startF.toLong, endF.toLong, len, speech,
            r6(speech.toDouble / len), speech == 0L))
        }
        while (f < blocks.length) {
          if (f > 0 && math.abs(blocks(f)._1 - blocks(f - 1)._1) > cutThr) {
            emit(f - 1); shot += 1; startF = f
          }
          f += 1
        }
        if (blocks.nonEmpty) emit(blocks.length - 1)
        out
      }
      .toDF("doc_id", "shot", "start_f", "end_f", "shot_blocks",
        "speech_blocks", "speech_frac", "is_silent")
    runToTable(rows, "append")
  }
}
