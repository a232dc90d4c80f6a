package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.{GraftSession, SparkEntry}

/** Time and inspect SparkEntry queries on a [[GraftSession]] — the one
  * dev probe between full Bench runs.
  *
  * Usage: `Probe [--sf DIR] [--reps N] [--conf k=v]... [--plan] query...`
  *
  *   - `--sf` is the table directory (default: `SPARK_GRAFT_SF_DIR`);
  *   - `--reps` runs each query N times (default 2), releasing the
  *     session between reps; each rep materializes the whole result
  *     (a `noop` write) and prints its wall seconds, jobs, stages,
  *     tasks, summed executor task seconds and GC seconds, plus the
  *     row count from an untimed count afterwards. A
  *     query whose wall time is several times its task time is bound by
  *     driver-side work (planning, job launch cadence), not by data;
  *   - `--conf` adds a session conf on top of Bench's (repeatable);
  *   - `--plan` runs each query once more and prints its formatted
  *     executed plan plus its shuffle/broadcast/scan/in-memory/sort
  *     counts (the numbers PlanShapeSpec pins for the static plans).
  *
  * Width: `SPARK_GRAFT_CPUS` (default: the machine's cores).
  */
object Probe extends AdaptiveSparkPlanHelper {

  private val Usage = "usage: Probe [--sf DIR] [--reps N] [--conf k=v]... [--plan] query..."

  /** Job/stage/task counters of the session's listener bus. */
  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskNanos = new AtomicLong
    val gcMillis = new AtomicLong

    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0L); gcMillis.set(0L)
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) {
        taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
        gcMillis.addAndGet(t.taskMetrics.jvmGCTime)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    var sf = sys.env.get("SPARK_GRAFT_SF_DIR")
    var reps = 2
    var plan = false
    val confs = Map.newBuilder[String, String]
    val names = Seq.newBuilder[String]
    def fail(msg: String): Nothing = { System.err.println(s"$msg\n$Usage"); sys.exit(2) }
    var rest = args.toList
    while (rest.nonEmpty) {
      rest = rest match {
        case "--sf" :: dir :: tail => sf = Some(dir); tail
        case "--reps" :: n :: tail => reps = n.toInt.max(1); tail
        case "--conf" :: kv :: tail if kv.contains('=') =>
          val i = kv.indexOf('='); confs += kv.take(i) -> kv.drop(i + 1); tail
        case "--plan" :: tail => plan = true; tail
        case flag :: _ if flag.startsWith("--") => fail(s"bad option: $flag")
        case name :: tail => names += name; tail
        case Nil => Nil
      }
    }
    val queries = names.result()
    val dir = sf.getOrElse(fail("no table directory: pass --sf or set SPARK_GRAFT_SF_DIR"))
    if (queries.isEmpty) fail("no query named")
    queries.filterNot(SparkEntry.queries.contains).foreach(q => fail(s"unknown query: $q"))

    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.local("graft-probe", cpus, confs.result())
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)

    println(f"${"query"}%-34s ${"rep"}%3s ${"wall_s"}%8s ${"rows"}%9s ${"jobs"}%5s " +
      f"${"stages"}%6s ${"tasks"}%6s ${"task_s"}%8s ${"gc_s"}%6s")
    queries.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        counters.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is asynchronous: give it a beat to drain
        Thread.sleep(400)
        import counters._
        val work = f"${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d " +
          f"${taskNanos.get / 1e9}%8.2f ${gcMillis.get / 1e3}%6.2f"
        // untimed: a timed count() may prune work the output needs
        println(f"$name%-34s $rep%3d $wall%8.2f ${df.count()}%9d $work")
        GraftSession.release(spark)
      }
      if (plan) {
        val df = fn(spark, dir)
        // run the frame's own plan (not a count over it), so AQE's
        // final plan is the one printed
        df.toLocalIterator().forEachRemaining(_ => ())
        println(s"\n== $name: executed plan ==")
        df.explain("formatted")
        val p = df.queryExecution.executedPlan
        def n(pf: PartialFunction[SparkPlan, Unit]): Int = collectWithSubqueries(p)(pf).size
        println(s"$name shuffles=${n { case _: ShuffleExchangeLike => }} " +
          s"bcast=${n { case _: BroadcastExchangeLike => }} " +
          s"scans=${n { case _: FileSourceScanExec | _: BatchScanExec => }} " +
          s"inmem=${n { case _: InMemoryTableScanExec => }} " +
          s"sorts=${n { case _: SortExec => }}")
        GraftSession.release(spark)
      }
    }
    spark.stop()
  }
}
