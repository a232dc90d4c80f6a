package graft.ml

import graft.operators.{DistributedDBSCAN, SpatialJoin}
import graft.operators.CacheScope.persist
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param._
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Params shared by the estimator and model (mirrors the reference's
  * train(eps, minPoints, maxPointsPerPartition) surface —
  * reference: DBSCAN.scala:30-48 — as spark.ml Params).
  */
trait DBSCANParams extends Params {
  final val eps = new DoubleParam(this, "eps", "neighborhood radius", ParamValidators.gt(0))
  final val minPoints = new IntParam(this, "minPoints",
    "min neighbors (incl. self) for a core point", ParamValidators.gt(0))
  final val maxPointsPerPartition = new LongParam(this, "maxPointsPerPartition",
    "spatial partition point budget", ParamValidators.gt(0))
  final val xCol = new Param[String](this, "xCol", "x coordinate column")
  final val yCol = new Param[String](this, "yCol", "y coordinate column")

  def getEps: Double = $(eps)
  def getMinPoints: Int = $(minPoints)

  setDefault(eps -> 0.3, minPoints -> 10, maxPointsPerPartition -> 250L,
    xCol -> "x", yCol -> "y")
}

/** spark.ml-style DBSCAN estimator.
  *
  * `fit` runs the distributed pipeline ([[DistributedDBSCAN]]); the
  * model holds the labeled relation + spatial partition metadata and
  * implements `transform` — the point-assignment `predict` the
  * reference declares but leaves as NotImplementedError (reference:
  * DBSCAN.scala:244-251): a new point takes the cluster of its nearest
  * core point within eps (0 = noise), computed with the grid-bucketed
  * eps-join, never a cross product.
  */
class DBSCANClustering(override val uid: String)
    extends Estimator[DBSCANClusteringModel] with DBSCANParams {

  def this() = this(Identifiable.randomUID("graft_dbscan"))

  def setEps(v: Double): this.type = set(eps, v)
  def setMinPoints(v: Int): this.type = set(minPoints, v)
  def setMaxPointsPerPartition(v: Long): this.type = set(maxPointsPerPartition, v)
  def setXCol(v: String): this.type = set(xCol, v)
  def setYCol(v: String): this.type = set(yCol, v)

  override def fit(dataset: Dataset[_]): DBSCANClusteringModel = {
    val result = DistributedDBSCAN.cluster(
      dataset.toDF(), $(eps), $(minPoints), $(maxPointsPerPartition), $(xCol), $(yCol))
    val model = new DBSCANClusteringModel(uid, persist(result.labeled),
      result.partitions)
    copyValues(model.setParent(this))
  }

  // Must agree with DBSCANClusteringModel.transformSchema — Pipeline
  // validates the estimator's declared output against what the model
  // actually adds (only `cluster`; the training labels' `flag` is model
  // state, not transform output).
  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("cluster", IntegerType))

  override def copy(extra: ParamMap): DBSCANClustering = defaultCopy(extra)
}

class DBSCANClusteringModel(
    override val uid: String,
    val labeled: DataFrame,
    val partitions: Seq[(Int, graft.core.Rect)])
    extends Model[DBSCANClusteringModel] with DBSCANParams with MLWritable {

  /** Assign each input row the cluster of its nearest core point within
    * eps (ties: lowest cluster id), 0 (noise) when none.
    */
  override def transform(dataset: Dataset[_]): DataFrame = {
    val spark = dataset.sparkSession
    val in = dataset.toDF()
      .withColumn("__rid", monotonically_increasing_id())
    val pts = in.select(col("__rid"),
      col($(xCol)).cast("double").as("x"), col($(yCol)).cast("double").as("y"))
    val cores = labeled.filter(col("flag") === "core")
      .select(col("x"), col("y"), col("cluster"))
    val assigned = SpatialJoin.epsJoin(
        pts.select(col("__rid").as("id"), col("x"), col("y")), cores, $(eps))
      .groupBy(col("l_id").as("__rid"))
      .agg(min(struct(col("dist_sq"), col("r_cluster"))).as("best"))
      .select(col("__rid"), col("best.r_cluster").as("cluster"))
    in.join(assigned, Seq("__rid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), lit(0)))
      .drop("__rid")
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("cluster", IntegerType))

  override def copy(extra: ParamMap): DBSCANClusteringModel =
    copyValues(new DBSCANClusteringModel(uid, labeled, partitions), extra)

  override def write: MLWriter = new DBSCANClusteringModel.Writer(this)
}

/** spark.ml persistence for [[DBSCANClusteringModel]]: standard
  * save/load layout — `metadata/` (one JSON line: uid + params),
  * `labeled/` (the fitted labeled relation as parquet),
  * `partitions/` (the spatial plan as parquet). Hand-rolled metadata
  * because Spark's DefaultParamsWriter/Reader are private[ml]; the
  * JSON shape mirrors theirs.
  */
object DBSCANClusteringModel extends MLReadable[DBSCANClusteringModel] {

  private[ml] class Writer(instance: DBSCANClusteringModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val spark = instance.labeled.sparkSession
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods._
      val meta =
        ("class" -> classOf[DBSCANClusteringModel].getName) ~
        ("uid" -> instance.uid) ~
        ("eps" -> instance.getEps) ~
        ("minPoints" -> instance.getMinPoints) ~
        ("maxPointsPerPartition" -> instance.getOrDefault(instance.maxPointsPerPartition)) ~
        ("xCol" -> instance.getOrDefault(instance.xCol)) ~
        ("yCol" -> instance.getOrDefault(instance.yCol))
      import spark.implicits.{localSeqToDatasetHolder, newStringEncoder, newProductEncoder}
      Seq(compact(render(meta))).toDS().repartition(1)
        .write.mode("overwrite").text(s"$path/metadata")
      instance.labeled.write.mode("overwrite").parquet(s"$path/labeled")
      instance.partitions
        .map { case (pid, r) => (pid, r.x, r.y, r.x2, r.y2) }
        .toDF("pid", "x", "y", "x2", "y2")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$path/partitions")
    }
  }

  private class Reader extends MLReader[DBSCANClusteringModel] {
    override def load(path: String): DBSCANClusteringModel = {
      val spark = SparkSession.active
      import org.json4s._
      import org.json4s.jackson.JsonMethods._
      implicit val fmt: Formats = DefaultFormats
      val meta = parse(spark.read.text(s"$path/metadata").head().getString(0))
      val labeled = spark.read.parquet(s"$path/labeled")
      val partitions = spark.read.parquet(s"$path/partitions")
        .collect()
        .map(r => (r.getInt(0), graft.core.Rect(
          r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .sortBy(_._1)
        .toSeq
      val m = new DBSCANClusteringModel((meta \ "uid").extract[String],
        labeled, partitions)
      m.set(m.eps, (meta \ "eps").extract[Double])
      m.set(m.minPoints, (meta \ "minPoints").extract[Int])
      m.set(m.maxPointsPerPartition, (meta \ "maxPointsPerPartition").extract[Long])
      m.set(m.xCol, (meta \ "xCol").extract[String])
      m.set(m.yCol, (meta \ "yCol").extract[String])
      m
    }
  }

  override def read: MLReader[DBSCANClusteringModel] = new Reader
}
