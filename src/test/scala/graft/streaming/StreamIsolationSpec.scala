package graft.streaming

import java.util.concurrent.{ConcurrentHashMap, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.operators.{CacheScope, TestSpark}

/** Two bounded-stream rows and two connected-component rows run at the
  * same time on one session: each stream runs on a private clone of
  * that session, so the concurrent run must give the serial results and
  * leave the session's confs, temp views and context listeners as it
  * found them, while a listener on the session still sees every
  * stream's progress.
  */
class StreamIsolationSpec extends AnyFunSuite with Matchers {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val streamRows = Seq("st01_stream_hourly", "st05_stream_sessions")
  private val rows = streamRows ++ Seq("q51_graph_components", "q74_entity_resolution")

  private def run(q: String): Seq[String] =
    graft.SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq.sorted

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  // the context's listener bus is private[spark]; its methods are public
  // in bytecode
  private def contextListeners: Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus).asInstanceOf[java.util.List[_]].size
  }

  /** Run ids of the stream queries that reported progress. */
  private final class Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    val started = ConcurrentHashMap.newKeySet[java.util.UUID]()
    val progressed = ConcurrentHashMap.newKeySet[java.util.UUID]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
    override def onQueryProgress(e: QueryProgressEvent): Unit = progressed.add(e.progress.runId)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  test("concurrent stream and CC rows match a serial run and leave the session untouched") {
    val progress = new Progress
    spark.streams.addListener(progress)
    val pool = Executors.newFixedThreadPool(rows.size)
    try {
      // serial: every stream row must start queries that report progress
      val serial = rows.map { q =>
        val seen = progress.progressed.size
        val out = run(q)
        if (streamRows.contains(q)) progress.progressed.size should be > seen
        q -> out
      }.toMap
      CacheScope.releaseSession(spark)
      val perRun = progress.progressed.size
      progress.started.clear()
      progress.progressed.clear()

      val confs = spark.conf.getAll
      val views = tempViews
      val listeners = contextListeners
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val concurrent = Await.result(Future.traverse(rows) { q =>
        Future {
          SparkSession.setActiveSession(spark)
          val out = run(q)
          // the thread still runs on the caller's session, not a clone
          assert(SparkSession.active eq spark, q)
          q -> out
        }
      }, Duration.Inf).toMap
      CacheScope.releaseSession(spark)

      rows.foreach(q => withClue(q) { concurrent(q) shouldBe serial(q) })
      spark.conf.getAll shouldBe confs
      tempViews shouldBe views
      contextListeners shouldBe listeners
      // the runner returns only after the clone's events reached the
      // copied listeners, so both sets are complete here
      progress.progressed.asScala shouldBe progress.started.asScala
      progress.progressed.size shouldBe perRun
    } finally {
      pool.shutdown()
      spark.streams.removeListener(progress)
    }
  }
}
