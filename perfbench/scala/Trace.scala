package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.BroadcastBlockId

final class SqlSpan(val id: Long, val desc: String, val startMs: Long,
    val modified: Map[String, String]) {
  var endMs: Long = -1L
}

final class JobSpan(val id: Int, val sqlId: Long, val stageIds: Seq[Int], val startMs: Long) {
  var endMs: Long = -1L
}

final class StageSpan(val id: Int, val attempt: Int, val name: String, val submitMs: Long,
    val doneMs: Long, val tasks: Int)

final class TaskSpan(val launchMs: Long, val finishMs: Long, val runMs: Long)

final class BatchSpan(val query: String, val batchId: Long, val endMs: Long, val rows: Long,
    val durations: Map[String, Long], val stateRows: Long, val stateBytes: Long)

/** Everything the listeners saw while one operation ran. */
final class OpTrace(val name: String, val pass: Int, val startMs: Long) {
  var endMs: Long = -1L
  var status: String = "ok"
  val sqls = mutable.ArrayBuffer.empty[SqlSpan]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val stages = mutable.ArrayBuffer.empty[StageSpan]
  val tasks = mutable.ArrayBuffer.empty[TaskSpan]
  val batches = mutable.ArrayBuffer.empty[BatchSpan]
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExecMem = 0L
  var confMutated = 0
  val residue = mutable.LinkedHashMap.empty[String, Double]

  def wallMs: Long = endMs - startMs

  /** Length of the union of intervals, clipped to the operation. */
  def coveredMs(iv: Iterable[(Long, Long)]): Long = {
    val s = iv.map { case (a, b) => (a.max(startMs), b.min(endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    s.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    total + (curB - curA)
  }

  def sqlMs: Long = coveredMs(sqls.filter(_.endMs > 0).map(s => (s.startMs, s.endMs)))
  def busyMs: Long = coveredMs(tasks.map(t => (t.launchMs, t.finishMs)))
}

/** The benchmark's own listeners: operation -> SQL execution -> job ->
  * stage -> task, plus streaming micro-batches and block updates.
  * Events are attributed to the operation that is current when the
  * listener bus delivers them; the runner drains the bus before it
  * closes an operation, so nothing spills into the next one.
  */
final class Trace(spark: SparkSession, val baseShuffle: String, val baseBroadcast: String) {
  @volatile private var current: OpTrace = null
  val ops = mutable.ArrayBuffer.empty[OpTrace]
  private val sqlById = mutable.HashMap.empty[Long, SqlSpan]
  private val jobById = mutable.HashMap.empty[Int, JobSpan]
  private val liveBroadcasts = mutable.HashMap.empty[Long, Int]

  def open(name: String, pass: Int): OpTrace = synchronized {
    val t = new OpTrace(name, pass, System.currentTimeMillis())
    current = t
    t
  }

  def close(t: OpTrace, status: String): Unit = {
    t.endMs = System.currentTimeMillis()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized {
      t.status = status
      current = null
      ops += t
    }
  }

  def broadcastBlocks: Int = synchronized(liveBroadcasts.size)

  private def within[A](f: OpTrace => A): Unit = synchronized {
    if (current != null) f(current)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        val span = new SqlSpan(s.executionId, s.description, s.time, s.modifiedConfigs)
        sqlById(s.executionId) = span
        val mutated = s.modifiedConfigs.get("spark.sql.shuffle.partitions")
          .exists(_ != baseShuffle) ||
          s.modifiedConfigs.get("spark.sql.autoBroadcastJoinThreshold")
            .exists(_ != baseBroadcast)
        if (current != null) {
          current.sqls += span
          if (mutated) current.confMutated += 1
        }
      }
      case s: SparkListenerSQLExecutionEnd => Trace.this.synchronized {
        sqlById.get(s.executionId).foreach(_.endMs = s.time)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = within { t =>
      val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val j = new JobSpan(e.jobId, sql, e.stageIds, e.time)
      jobById(e.jobId) = j
      t.jobs += j
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobById.remove(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = within { t =>
      val i = e.stageInfo
      t.stages += new StageSpan(i.stageId, i.attemptNumber(), i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = within { t =>
      val m = e.taskMetrics
      t.tasks += new TaskSpan(e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0L else m.executorRunTime)
      if (m != null) {
        t.gcMs += m.jvmGCTime
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.diskBytesSpilled
        t.peakExecMem = t.peakExecMem.max(m.peakExecutionMemory)
      }
    }
  }

  /** Live broadcast blocks, from block-update events. Stays installed
    * through untraced passes too, so no creation or removal is missed.
    */
  private val blockListener: SparkListener = new SparkListener {
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      e.blockUpdatedInfo.blockId match {
        case b: BroadcastBlockId => Trace.this.synchronized {
          val n = liveBroadcasts.getOrElse(b.broadcastId, 0)
          val m = if (e.blockUpdatedInfo.storageLevel.isValid) n + 1 else n - 1
          if (m > 0) liveBroadcasts(b.broadcastId) = m else liveBroadcasts.remove(b.broadcastId)
        }
        case _ =>
      }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = within { t =>
      import scala.jdk.CollectionConverters._
      val p = e.progress
      val st = p.stateOperators
      t.batches += new BatchSpan(String.valueOf(p.name), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
    }
  }

  @volatile var installed = false

  spark.sparkContext.addSparkListener(blockListener)

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  /** The trace as JSON lines: one line per span, children name their op. */
  def spanLines(): Seq[String] = synchronized {
    ops.iterator.zipWithIndex.toSeq.flatMap { case (t, i) =>
      val op = s""""op":$i"""
      Iterator(
        s"""{"kind":"op",$op,"name":${Json.str(t.name)},"pass":${t.pass},""" +
          s""""start_ms":${t.startMs},"end_ms":${t.endMs},"status":${Json.str(t.status)},""" +
          s""""sql_ms":${t.sqlMs},"busy_ms":${t.busyMs},"driver_ms":${t.wallMs - t.sqlMs},""" +
          s""""residue":${Json.obj(t.residue.toSeq.map { case (k, v) => k -> Json.num(v) })}}""") ++
        t.sqls.iterator.map(s =>
          s"""{"kind":"sql",$op,"id":${s.id},"desc":${Json.str(s.desc)},""" +
            s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
            s""""modified_configs":${Json.obj(s.modified.toSeq.map { case (k, v) =>
              k -> Json.str(v) })}}""") ++
        t.jobs.iterator.map(j =>
          s"""{"kind":"job",$op,"id":${j.id},"sql":${j.sqlId},""" +
            s""""stages":${j.stageIds.mkString("[", ",", "]")},""" +
            s""""start_ms":${j.startMs},"end_ms":${j.endMs}}""") ++
        t.stages.iterator.map(s =>
          s"""{"kind":"stage",$op,"id":${s.id},"attempt":${s.attempt},""" +
            s""""name":${Json.str(s.name)},"start_ms":${s.submitMs},"end_ms":${s.doneMs},""" +
            s""""tasks":${s.tasks}}""") ++
        t.batches.iterator.map(b =>
          s"""{"kind":"batch",$op,"query":${Json.str(b.query)},"batch":${b.batchId},""" +
            s""""end_ms":${b.endMs},"rows":${b.rows},"state_rows":${b.stateRows},""" +
            s""""state_bytes":${b.stateBytes},"duration_ms":${Json.obj(b.durations.toSeq
              .sortBy(_._1).map { case (k, v) => k -> v.toString })}}""")
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    String.valueOf(s).foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
