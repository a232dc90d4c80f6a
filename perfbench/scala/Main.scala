package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import graft.operators.CacheScope
import org.apache.spark.sql.SparkSession

final case class OpResult(name: String, pass: Int, seconds: Double, status: String,
    detail: String) {
  def ok: Boolean = status == "ok"
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Runs operations one at a time on a worker thread, each against its
  * own deadline. A driver-side hang cannot be interrupted, so a missed
  * deadline aborts the run: the operation and every one not yet run
  * are recorded as failed, and the caller writes its metrics and halts.
  */
final class Runner(spark: SparkSession, runDeadlineMs: Long, tmpDir: File) {
  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-op")
    t.setDaemon(true)
    t
  }
  val results = mutable.ArrayBuffer.empty[OpResult]
  var trace: Option[Trace] = None
  var aborted = false

  /** Seconds of every timed, correct run of `name`. */
  def timed(name: String): Seq[Double] =
    results.filter(r => r.name == name && r.pass >= 0 && r.ok).map(_.seconds).toSeq

  def run(op: Op, pass: Int): OpResult = {
    if (aborted) {
      val r = OpResult(op.name, pass, 0.0, "not_run", "an earlier operation missed its deadline")
      results += r
      return r
    }
    val budgetMs = math.min(op.deadlineS * 1000, (runDeadlineMs - System.currentTimeMillis())
      .toDouble).max(0.0).toLong
    val span = trace.filter(_.installed).map(_.open(op.name, pass))
    val t0 = System.nanoTime()
    // the operation's thread runs as the session's caller would, with the
    // session active (plan nodes take it from there)
    val future = pool.submit { () =>
      SparkSession.setActiveSession(spark)
      op.body()
    }
    val (status, detail) =
      try future.get(budgetMs, TimeUnit.MILLISECONDS) match {
        case None => ("ok", "")
        case Some(why) => ("wrong", why)
      } catch {
        case _: TimeoutException =>
          aborted = true
          ("timeout", s"missed its ${budgetMs / 1000.0} s deadline")
        case e: java.util.concurrent.ExecutionException =>
          e.getCause.printStackTrace()
          ("error", String.valueOf(e.getCause).take(300))
      }
    val dt = (System.nanoTime() - t0) / 1e9
    if (!aborted) {
      releaseCaches()
      span.foreach(_.residue ++= residue())
      CacheScope.releaseCheckpoints(spark)
    }
    span.foreach(s => trace.foreach(_.close(s, status)))
    val r = OpResult(op.name, pass, dt, status, detail)
    System.err.println(f"[perfbench] ${op.name}%-30s pass $pass%3d  $dt%8.3f s  $status $detail")
    results += r
    r
  }

  /** What every operation's caller does afterwards (the board's own
    * routine): drop the session's caches, then, after the residue is
    * read, every persistent RDD left, checkpoint blocks included.
    */
  private def releaseCaches(): Unit = {
    CacheScope.releaseSession(spark)
    spark.catalog.clearCache()
  }

  /** What survives an operation and its session-scoped release. */
  def residue(): Seq[(String, Double)] = {
    val sc = spark.sparkContext
    val rdds = sc.getRDDStorageInfo
    Seq(
      "cached_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "cached_mb" -> rdds.map(i => i.memSize + i.diskSize).sum / 1048576.0,
      "broadcast_blocks" -> trace.map(_.broadcastBlocks.toDouble).getOrElse(0.0),
      "temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary).toDouble,
      "scratch_dirs" -> Option(tmpDir.listFiles()).map(_.length.toDouble).getOrElse(0.0))
  }
}

object Main {
  val BoardRows = Seq("q29_bucketed_join", "q77_label_propagation", "t35_textrank_keywords",
    "m13_constellation_recall", RowsWorkload.DbscanRow)
  val StreamRows = Seq("st01_stream_hourly", "st04_stream_join", "st05_stream_sessions",
    "st08_stream_index_probe")

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val smoke = o.getOrElse("smoke", "0") == "1"
    val launchMs = o("launch-ms").toLong
    val runDir = new File(o("run-dir"))
    val cores = o("cores").toInt
    val tmpDir = new File(System.getProperty("java.io.tmpdir"))
    // the rows read the sf0.01 tables, the scale the DuckDB oracle checks;
    // a smoke run reads the sf0.001 ones
    val scale = if (smoke) "sf0.001" else "sf0.01"
    val expected = Expected.read(new File(o("expected"), s"$scale.txt"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.checkpoint.dir", new File(runDir, "checkpoint").getAbsolutePath)
      .config("spark.local.dir", new File(runDir, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()

    val runDeadlineMs = launchMs + o("deadline-s").toLong * 1000
    val runner = new Runner(spark, runDeadlineMs, tmpDir)
    val trace = if (traced) {
      val t = new Trace(spark, cores.toString,
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
      runner.trace = Some(t)
      t.install() // setup is traced too, so a hang there is attributed
      Some(t)
    } else None

    def rows(names: Seq[String], warmPasses: Int) = new RowsWorkload(spark, names,
      BoardRows ++ StreamRows, seed, new File(o("data"), scale), runDir, expected, warmPasses)
    val (nBase, nAssign, nLarge) =
      if (smoke) (20000, 10000, 40000) else (200000, 100000, 1000000)
    val wl: Workload = workload match {
      case "dbscan_skewed" => new DbscanWorkload(spark, seed, nBase, nAssign, 0, runDir)
      case "dbscan_ladder" => new DbscanWorkload(spark, seed, nBase, nAssign, nLarge, runDir)
      // a stream pass after a single warm-up pass still runs 10-40 % slower
      // than the next one; a board pass does not
      case "board_rows" => rows(BoardRows, warmPasses = 1)
      case "stream_rows" => rows(StreamRows, warmPasses = 2)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- setup ----
    val stage0 = System.currentTimeMillis()
    wl.stage()
    val warm0 = System.currentTimeMillis()
    wl.warmup(smoke).foreach(runner.run(_, -1))
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    System.err.println(f"[perfbench] setup: session ${(sessionMs - launchMs) / 1000.0}%.1f s, " +
      f"staging ${(warm0 - stage0) / 1000.0}%.1f s, " +
      f"warm-up ${(System.currentTimeMillis() - warm0) / 1000.0}%.1f s")
    val heap0 = usedHeapMb()
    val base0 = runner.residue().toMap

    // ---- timed loop: whole passes until the time is up. Traced runs
    // alternate traced and untraced passes (T U ..., at least two) to
    // measure the tracing overhead; the first is traced, so an operation
    // that hangs there is still attributed. A pass after the first starts
    // only if 1.5 times the last one fits before the run's deadline ----
    val loop0 = System.nanoTime()
    val passTimes = mutable.ArrayBuffer.empty[(Int, Double)]
    var pass = 0
    val minPasses = if (traced) 2 else 1
    def another: Boolean =
      pass == 0 || // an aborted run still lists one pass, every operation of it not run
        (!runner.aborted && runDeadlineMs - System.currentTimeMillis() > 1500 * passTimes.last._2 &&
          (pass < minPasses || (System.nanoTime() - loop0) / 1e9 < seconds))
    while (another) {
      val on = traced && pass % 2 == 0
      trace.foreach(t => if (on) t.install() else t.uninstall())
      val rs = wl.pass(pass).map(op => runner.run(op, pass))
      passTimes += ((pass, rs.map(_.seconds).sum))
      pass += 1
    }
    trace.foreach(_.uninstall())
    val heap1 = usedHeapMb()

    // ---- verdicts that need the whole run ----
    val wrong =
      if (runner.aborted) Map.empty[OpResult, String] else wl.verify(runner.results.toSeq)
    val results = runner.results.map(r => wrong.get(r).map(w =>
      r.copy(status = "wrong", detail = w)).getOrElse(r)).toSeq
    wrong.foreach { case (r, w) => System.err.println(s"[perfbench] ${r.name} WRONG: $w") }
    val failed = results.count(!_.ok)
    val okPasses = passTimes.filter { case (p, _) =>
      results.filter(_.pass == p).forall(_.ok) }.map(_._2).toSeq
    val passS = Stats.median(if (okPasses.nonEmpty) okPasses else passTimes.map(_._2).toSeq)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("pass_s") = (passS, "s")
    } else {
      val t = trace.get
      val tracedOps = t.ops.filter(_.pass >= 0).toSeq
      val layers = new Layers(tracedOps, cores)
      layers.spark.foreach { case (k, v) => metrics(k) = v }
      layers.streaming.foreach { case (k, v) => metrics(k) = v }
      val tracedPasses = passTimes.filter(p => p._1 % 2 == 0).map(_._2).toSeq
      val untracedPasses = passTimes.filter(p => p._1 % 2 == 1).map(_._2).toSeq
      wl.layers(t.ops.toSeq, runner).foreach { case (k, v) => metrics(k) = v }
      for (k <- Seq("cached_rdds", "cached_mb", "broadcast_blocks", "temp_views",
          "scratch_dirs")) {
        val v = tracedOps.map(_.residue.getOrElse(k, 0.0)).maxOption.getOrElse(0.0) -
          base0.getOrElse(k, 0.0)
        metrics(s"residue.$k") = (v, if (k == "cached_mb") "MB" else "count")
      }
      val first = passTimes.headOption.map(_._2).getOrElse(0.0)
      metrics("session.drift_ratio") =
        (if (first > 0) passTimes.last._2 / first else 0.0, "ratio")
      metrics("session.conf_mutated_execs") =
        (tracedOps.map(_.confMutated).sum.toDouble / math.max(1, tracedPasses.size), "count")
      metrics("session.heap_retained_mb") = (heap1 - heap0, "MB")
      metrics("session.failed_share") =
        (failed.toDouble / math.max(1, results.size), "ratio")
      metrics("trace.overhead_share") = (if (untracedPasses.nonEmpty && tracedPasses.nonEmpty)
        Stats.median(tracedPasses) / Stats.median(untracedPasses) - 1 else 0.0, "ratio")
      o.get("spans").foreach { p =>
        val f = new File(p)
        f.getParentFile.mkdirs()
        Files.write(f.toPath, t.spanLines().mkString("", "\n", "\n").getBytes("UTF-8"))
        System.err.println(s"[perfbench] spans written to $f")
      }
    }

    val correct = !results.exists(r => r.status == "wrong" || r.status == "error")
    val json = s"""{"correct":$correct,"attempted":${results.size},"failed":$failed,""" +
      s""""metrics":${Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })}}"""
    Files.write(new File(o("out")).toPath, (json + "\n").getBytes("UTF-8"))
    if (runner.aborted) Runtime.getRuntime.halt(0)
    spark.stop()
  }

  private def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** Expected answers: one line per row, `name rows hash`. A missing
  * file is an error; a row it does not list fails as wrong.
  */
object Expected {
  def read(f: File): Map[String, Digest] = {
    require(f.isFile, s"no expected answers at $f")
    val src = scala.io.Source.fromFile(f)
    try src.getLines().map(_.trim).filter(_.nonEmpty).filterNot(_.startsWith("#")).map { l =>
      val Array(n, r, h) = l.split("\\s+")
      n -> Digest(r.toLong, java.lang.Long.parseUnsignedLong(h, 16))
    }.toMap
    finally src.close()
  }
}

/** Per-layer metrics that come straight from the trace. Counts and
  * times are per traced pass, so runs of different lengths compare.
  */
final class Layers(ops: Seq[OpTrace], cores: Int) {
  private val passes = math.max(1, ops.map(_.pass).distinct.size)
  private def perPass(x: Double) = x / passes
  private val wall = ops.map(_.wallMs).sum.toDouble

  def spark: Seq[(String, (Double, String))] = {
    val tasks = ops.flatMap(_.tasks)
    Seq(
      "spark.jobs" -> (perPass(ops.map(_.jobs.size).sum), "count"),
      "spark.stages" -> (perPass(ops.map(_.stages.size).sum), "count"),
      "spark.tasks" -> (perPass(tasks.size), "count"),
      "spark.task_s" -> (perPass(tasks.map(_.runMs).sum / 1000.0), "s"),
      "spark.gc_s" -> (perPass(ops.map(_.gcMs).sum / 1000.0), "s"),
      "spark.shuffle_read_mb" -> (perPass(ops.map(_.shuffleRead).sum / 1048576.0), "MB"),
      "spark.shuffle_write_mb" -> (perPass(ops.map(_.shuffleWrite).sum / 1048576.0), "MB"),
      "spark.spill_mb" -> (perPass(ops.map(_.spill).sum / 1048576.0), "MB"),
      "spark.peak_exec_mem_mb" ->
        (ops.map(_.peakExecMem).maxOption.getOrElse(0L) / 1048576.0, "MB"),
      "spark.idle_share" ->
        (if (wall > 0) ops.map(o => o.wallMs - o.busyMs).sum / wall else 0.0, "ratio"),
      "spark.core_util" ->
        (if (wall > 0) tasks.map(_.runMs).sum / (wall * cores) else 0.0, "ratio"))
  }

  def streaming: Seq[(String, (Double, String))] = {
    val bs = ops.flatMap(_.batches)
    def phase(k: String) = perPass(bs.map(_.durations.getOrElse(k, 0L)).sum / 1000.0)
    Seq(
      "streaming.batches" -> (perPass(bs.size), "count"),
      "streaming.empty_batches" -> (perPass(bs.count(_.rows == 0)), "count"),
      "streaming.trigger_s" -> (phase("triggerExecution"), "s"),
      "streaming.add_batch_s" -> (phase("addBatch"), "s"),
      "streaming.planning_s" -> (phase("queryPlanning"), "s"),
      "streaming.latest_offset_s" -> (phase("latestOffset"), "s"),
      "streaming.get_batch_s" -> (phase("getBatch"), "s"),
      "streaming.wal_commit_s" -> (phase("walCommit"), "s"),
      "streaming.commit_offsets_s" -> (phase("commitOffsets"), "s"),
      "streaming.state_rows" -> (bs.map(_.stateRows.toDouble).maxOption.getOrElse(0.0), "count"),
      "streaming.state_mem_mb" ->
        (bs.map(_.stateBytes.toDouble).maxOption.getOrElse(0.0) / 1048576.0, "MB"))
  }
}
