package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.core.{BoxIndex, Flag, LocalDBSCAN, Pt, SpacePartitioner}
import graft.ml.{DBSCANClustering, DBSCANClusteringModel}
import graft.operators.DistributedDBSCAN
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed unit of work. `body` runs the operation through its sink
  * and returns None when the output is right, or what is wrong with it.
  */
final case class Op(name: String, deadlineS: Double, body: () => Option[String])

trait Workload {
  /** Build this run's inputs into a fresh directory (part of setup). */
  def stage(): Unit
  /** Untimed operations before the loop; a smoke run keeps only what
    * the loop needs.
    */
  def warmup(smoke: Boolean): Seq[Op]
  def pass(i: Int): Seq[Op]
  /** Checks that need more than the operation itself (run after the
    * timed loop): returns the failure reason per operation result.
    */
  def verify(results: Seq[OpResult]): Map[OpResult, String] = Map.empty
  /** Per-layer metrics only this workload has, as name -> (value, unit),
    * from every traced operation (setup included, pass < 0).
    */
  def layers(traced: Seq[OpTrace], runner: Runner): Seq[(String, (Double, String))]
}

/** Board or stream rows from the program's query table, run against a
  * copy of fixed tables (`dataSrc`) in the run's own directory, so the
  * assets the rows build land there. The seed permutes the row order of
  * each pass; the answers do not depend on it.
  */
final class RowsWorkload(spark: SparkSession, rows: Seq[String], allRows: Seq[String],
    seed: Long, dataSrc: File, runDir: File, expected: Map[String, Digest], warmPasses: Int)
    extends Workload {

  private val dir = new File(runDir, "data")

  def stage(): Unit = {
    dir.mkdirs()
    dataSrc.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      Files.copy(f.toPath, new File(dir, f.getName).toPath, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def op(row: String): Op = Op(row, 60.0, () => {
    val d = Digest.of(graft.SparkEntry.queries(row)(spark, dir.getAbsolutePath))
    val got = s"rows=${d.rows} hash=${d.hex}"
    expected.get(row) match {
      case Some(e) if e == d => None
      case Some(e) => Some(s"$got, expected rows=${e.rows} hash=${e.hex}")
      case None => Some(s"$got, but no expected answer is recorded for $row")
    }
  })

  def warmup(smoke: Boolean): Seq[Op] =
    if (smoke) Nil else (-warmPasses to -1).flatMap(pass)

  def pass(i: Int): Seq[Op] =
    new scala.util.Random(seed * 7919L + i).shuffle(rows).map(op)

  /** Median seconds per row, and the `core` and `operators.dbscan`
    * layers of the DBSCAN row. Every row of both row workloads is
    * listed, so the two print the same metric set (zero where a layer
    * does not run).
    */
  def layers(traced: Seq[OpTrace], runner: Runner): Seq[(String, (Double, String))] = {
    val dbscan = rows.contains(RowsWorkload.DbscanRow)
    val core = if (!dbscan) Map.empty[String, Double] else {
      // the row's points and parameters, as dbscan_events builds them
      val xy = graft.sources.Sources.events(spark, dir.getAbsolutePath).select(
        col("value").as("x"),
        ((expr("ts div 1000000000") - lit(1704067200L)) / 3600.0).as("y"))
      CoreProbe.measure(xy, eps = 8.0, minPoints = 8, maxPerPartition = 2000L)
    }
    val fits = traced.filter(t => t.name == RowsWorkload.DbscanRow && t.pass >= 0 &&
      (t.status == "ok" || t.status == "timeout"))
    allRows.map(r => s"queries.${r}_s" -> (Stats.median(runner.timed(r)), "s")) ++
      CoreProbe.metrics(core) ++ DbscanPhases.metrics(fits)
  }
}

object RowsWorkload {
  /** The board row that runs the paper's pipeline (DistributedDBSCAN). */
  val DbscanRow = "dbscan_events"
}

/** Seeded skewed 2-D points: 50 Gaussian blobs plus 10 % uniform
  * background over 100 x 100. A point's blob is floor(50 * u^2) for
  * uniform u, so the densest blob draws 14 % of the blob points and the
  * sparsest 1 %. Blob centers and widths depend only on the seed, so
  * every draw (base rung, held-out assign draw, large rung) samples
  * the same blobs.
  */
object SkewedPoints {
  val Blobs = 50

  def draw(seed: Long, stream: Long, n: Int): Array[Pt] = {
    val layout = new SplittableRandom(seed)
    val cx = Array.fill(Blobs)(5 + 90 * layout.nextDouble())
    val cy = Array.fill(Blobs)(5 + 90 * layout.nextDouble())
    val sd = Array.fill(Blobs)(0.3 + 0.5 * layout.nextDouble())
    val r = new SplittableRandom(seed * 1000003L + stream)
    Array.fill(n) {
      if (r.nextDouble() < 0.1) Pt(100 * r.nextDouble(), 100 * r.nextDouble())
      else {
        val u = r.nextDouble()
        val k = math.min(Blobs - 1, (Blobs * u * u).toInt)
        Pt(cx(k) + sd(k) * r.nextGaussian(), cy(k) + sd(k) * r.nextGaussian())
      }
    }
  }
}

/** The paper's pipeline on skewed points: fit the base rung and
  * materialize its labels, assign a disjoint draw through a fitted
  * model's `transform`, and (ladder only) fit the large rung.
  */
final class DbscanWorkload(spark: SparkSession, seed: Long, nBase: Int, nAssign: Int,
    nLarge: Int, runDir: File) extends Workload {
  import spark.implicits._

  val eps = 0.05
  val minPoints = 10
  val maxPerPartition = 2000L

  private val dir = new File(runDir, "dbscan")
  private var base: Array[Pt] = _
  private var large: Array[Pt] = _
  private def path(name: String) = new File(dir, name).getAbsolutePath

  // fit results (core, border, noise, clusters) per input, in run order
  private val fits = mutable.HashMap.empty[String, mutable.ArrayBuffer[Seq[Long]]]
  private var assignDigest: Option[Digest] = None

  private def write(pts: Array[Pt], name: String): Unit =
    pts.toSeq.map(p => (p.x, p.y)).toDF("x", "y").write.parquet(path(name))

  def stage(): Unit = {
    base = SkewedPoints.draw(seed, 1, nBase)
    write(base, "base")
    write(base.take(nBase / 4), "warm")
    write(SkewedPoints.draw(seed, 2, nAssign), "assign")
    if (nLarge > 0) {
      large = SkewedPoints.draw(seed, 3, nLarge)
      write(large, "large")
    }
  }

  private def estimator = new DBSCANClustering()
    .setEps(eps).setMinPoints(minPoints).setMaxPointsPerPartition(maxPerPartition)

  /** Fit, then materialize the labels as (core, border, noise, clusters). */
  private def fitOp(name: String, input: String, save: Boolean = false): Op =
    Op(name, if (input == "large") 75.0 else 60.0, () => {
      val model = estimator.fit(spark.read.parquet(path(input)))
      val byFlag = model.labeled.groupBy("flag")
        .agg(count(lit(1)), countDistinct(when(col("flag") === Flag.Core, col("cluster"))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      def n(f: String) = byFlag.get(f).map(_._1).getOrElse(0L)
      val got = Seq(n(Flag.Core), n(Flag.Border), n(Flag.Noise),
        byFlag.get(Flag.Core).map(_._2).getOrElse(0L))
      fits.synchronized(fits.getOrElseUpdate(input, mutable.ArrayBuffer.empty) += got)
      if (save) model.write.overwrite().save(path("model"))
      model.labeled.unpersist()
      None
    })

  private def assignOp(name: String): Op = Op(name, 60.0, () => {
    val model = DBSCANClusteringModel.load(path("model"))
    val d = Digest.of(model.transform(spark.read.parquet(path("assign")))
      .select("x", "y", "cluster"))
    if (d.rows != nAssign) Some(s"assigned ${d.rows} rows of $nAssign")
    else assignDigest match {
      case None => assignDigest = Some(d); None
      case Some(e) if e == d => None
      case Some(e) => Some(s"assign hash ${d.hex} differs from the first rep's ${e.hex}")
    }
  })

  def warmup(smoke: Boolean): Seq[Op] = {
    val model = fitOp("model_fit", "base", save = true)
    if (smoke) Seq(model) else Seq(fitOp("warm_fit", "warm"), model, assignOp("warm_assign"))
  }

  def pass(i: Int): Seq[Op] =
    Seq(fitOp("fit", "base"), assignOp("assign")) ++
      (if (nLarge > 0) Seq(fitOp("fit_large", "large")) else Nil)

  /** Exact single-task labels: the counts a correct fit must reproduce. */
  private def exact(pts: Array[Pt]): Seq[Long] = {
    val sorted = pts.sortBy(p => (p.x, p.y))
    val labels = new LocalDBSCAN(eps, minPoints, reclaimBorder = true)
      .fit(scala.collection.immutable.ArraySeq.unsafeWrapArray(sorted))
    def n(f: String) = labels.count(_.flag == f).toLong
    Seq(n(Flag.Core), n(Flag.Border), n(Flag.Noise),
      labels.filter(_.flag == Flag.Core).map(_.cluster).distinct.size.toLong)
  }

  private lazy val exactByInput: Map[String, Seq[Long]] =
    Map("base" -> exact(base), "warm" -> exact(base.take(nBase / 4))) ++
      (if (nLarge > 0 && fits.contains("large")) Map("large" -> exact(large)) else Map.empty)

  override def verify(results: Seq[OpResult]): Map[OpResult, String] = {
    val inputOf = Map("fit" -> "base", "model_fit" -> "base", "warm_fit" -> "warm",
      "fit_large" -> "large")
    val seen = mutable.HashMap.empty[String, Int]
    results.filter(r => inputOf.contains(r.name) && r.status == "ok").flatMap { r =>
      val in = inputOf(r.name)
      val i = seen.getOrElse(in, 0)
      seen(in) = i + 1
      val got = fits(in)(i)
      val want = exactByInput(in)
      System.err.println(s"[perfbench] ${r.name} core/border/noise/clusters = " +
        s"${got.mkString("/")}, exact ${want.mkString("/")}")
      if (got == want) None
      else Some(r -> (s"core/border/noise/clusters ${got.mkString("/")}" +
        s" != exact ${want.mkString("/")}"))
    }.toMap
  }

  /** The `core` layer measured directly on the workload's largest rung,
    * and the `operators.dbscan` phases of the traced fits of that rung
    * (a fit that missed its deadline included).
    */
  def layers(traced: Seq[OpTrace], runner: Runner): Seq[(String, (Double, String))] = {
    val rung = if (nLarge > 0) "large" else "base"
    val core = CoreProbe.measure(spark.read.parquet(path(rung)), eps, minPoints, maxPerPartition)
    val fitName = if (nLarge > 0) "fit_large" else "fit"
    val fitTraces = traced.filter(t => t.name == fitName && t.pass >= 0 &&
      (t.status == "ok" || t.status == "timeout"))
    val fitS = Stats.median(runner.timed("fit"))
    val fitLargeS = Stats.median(runner.timed("fit_large"))
    CoreProbe.metrics(core) ++ DbscanPhases.metrics(fitTraces) ++ Seq(
      "core.scale_factor" -> (if (fitLargeS > 0 && fitS > 0)
        fitLargeS / (nLarge.toDouble / nBase * fitS) else 0.0, "ratio"),
      "dbscan.fit_s" -> (fitS, "s"),
      "dbscan.assign_s" -> (Stats.median(runner.timed("assign")), "s"),
      "dbscan.fit_large_s" -> (fitLargeS, "s"))
  }
}

/** The `core` layer measured directly on one DBSCAN input: the space
  * plan of its cell histogram (under its own deadline, so a planner
  * that never returns reads as the time it was given), partition
  * balance, margin duplication and the largest partition's local fit.
  */
object CoreProbe {
  val PlanDeadlineS = 10

  def measure(points: DataFrame, eps: Double, minPoints: Int, maxPerPartition: Long)
      : Map[String, Double] =
    try plan(points, eps, minPoints, maxPerPartition) catch { case e: Throwable =>
      System.err.println(s"[perfbench] core probe failed: $e")
      Map.empty
    }

  def metrics(core: Map[String, Double]): Seq[(String, (Double, String))] = {
    def m(k: String, unit: String) = k -> (core.getOrElse(k, 0.0), unit)
    Seq(m("core.partition_s", "s"), m("core.cells", "count"), m("core.partitions", "count"),
      m("core.part_points_max", "count"), m("core.part_skew", "ratio"),
      m("core.dup_ratio", "ratio"), m("core.local_fit_max_s", "s"))
  }

  private def plan(points: DataFrame, eps: Double, minPoints: Int,
      maxPerPartition: Long): Map[String, Double] = {
    val cell = 2 * eps
    val xy = points.select(col("x").cast("double"), col("y").cast("double"))
    val pts = xy.collect().map(r => Pt(r.getDouble(0), r.getDouble(1)))
    val histogram = xy
      .groupBy(DistributedDBSCAN.cornerExpr(col("x"), cell).as("cx"),
        DistributedDBSCAN.cornerExpr(col("y"), cell).as("cy"))
      .count().collect()
      .map(r => (graft.core.Rect(r.getDouble(0), r.getDouble(1),
        r.getDouble(0) + cell, r.getDouble(1) + cell), r.getLong(2).toInt))
      .toSet
    val cells = "core.cells" -> histogram.size.toDouble
    val planner = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-core-probe")
      t.setDaemon(true)
      t
    }
    val t0 = System.nanoTime()
    val planned = planner.submit(() => SpacePartitioner.partition(histogram, maxPerPartition, cell))
    val plan = try Some(planned.get(PlanDeadlineS, java.util.concurrent.TimeUnit.SECONDS))
      catch { case _: java.util.concurrent.TimeoutException => None }
    val partitionS = "core.partition_s" -> (System.nanoTime() - t0) / 1e9
    plan match {
      case None =>
        System.err.println(s"[perfbench] core probe: SpacePartitioner.partition did not return " +
          s"within $PlanDeadlineS s on ${histogram.size} cells")
        Map(cells, partitionS)
      case Some(plan) =>
        val index = BoxIndex.build(plan.map(_._1.shrink(-eps)).zipWithIndex)
        var copies = 0L
        pts.foreach(p => copies += index.query(p.x, p.y).size)
        val counts = plan.map(_._2.toDouble)
        val outer = plan.maxBy(_._2)._1.shrink(-eps)
        val local = pts.filter(p => outer.contains(p.x, p.y)).sortBy(p => (p.x, p.y))
        val t1 = System.nanoTime()
        new LocalDBSCAN(eps, minPoints, reclaimBorder = true)
          .fit(scala.collection.immutable.ArraySeq.unsafeWrapArray(local))
        Map(cells, partitionS,
          "core.partitions" -> plan.size.toDouble,
          "core.part_points_max" -> counts.max,
          "core.part_skew" -> counts.max / (counts.sum / counts.size),
          "core.dup_ratio" -> copies.toDouble / pts.length,
          "core.local_fit_max_s" -> (System.nanoTime() - t1) / 1e9)
    }
  }
}

/** DBSCAN phases of one fit, attributed through the SQL executions'
  * descriptions: the pipeline's own executions, in order, are the
  * histogram collect, the edge collect (shuffle, local fits, alias
  * self-join) and the id collect; every other execution of the fit is
  * the caller's sink over the labels.
  */
object DbscanPhases {
  def of(t: OpTrace): Map[String, Double] = {
    val (own, sink) = t.sqls.filter(_.endMs > 0).partition(_.desc.contains("DistributedDBSCAN"))
    val names = Seq("histogram", "cluster", "ids")
    val ownByPhase = own.zipWithIndex.groupBy { case (_, i) => names(math.min(i, 2)) }
      .map { case (p, ss) => p -> ss.map { case (s, _) => (s.endMs - s.startMs) / 1000.0 }.sum }
    ownByPhase + ("relabel" -> sink.map(s => (s.endMs - s.startMs) / 1000.0).sum)
  }

  /** `operators.dbscan.*`: medians over the traced fits. `driver_s` is
    * the fit's wall time not covered by any SQL execution.
    */
  def metrics(fits: Seq[OpTrace]): Seq[(String, (Double, String))] = {
    def med(f: OpTrace => Double) = Stats.median(fits.map(f))
    def phase(p: String) = med(t => of(t).getOrElse(p, 0.0))
    Seq(
      "operators.dbscan.histogram_s" -> (phase("histogram"), "s"),
      "operators.dbscan.cluster_s" -> (phase("cluster"), "s"),
      "operators.dbscan.ids_s" -> (phase("ids"), "s"),
      "operators.dbscan.relabel_s" -> (phase("relabel"), "s"),
      "operators.dbscan.driver_s" -> (med(t => (t.wallMs - t.sqlMs) / 1000.0), "s"),
      "operators.dbscan.task_max_over_p50" -> (med { t =>
        val d = t.tasks.map(x => (x.finishMs - x.launchMs).toDouble).toSeq
        if (d.isEmpty) 0.0 else d.max / math.max(1.0, Stats.median(d))
      }, "ratio"))
  }
}
