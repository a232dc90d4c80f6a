package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import AnnSpec._

/** [[Similarity.annTopK]] checks its [[AnnSpec]] on the driver before
  * it builds a frame. The inputs here are column-less frames: a spec
  * that got past validation would fail with an AnalysisException, so an
  * IllegalArgumentException carrying the `require` message proves the
  * rejection came first.
  */
class AnnSpecSpec extends AnyFunSuite with Matchers {
  lazy val spark = TestSpark.spark

  private def rejection(spec: AnnSpec, k: Int = 5): String = {
    val none = spark.emptyDataFrame
    intercept[IllegalArgumentException](Similarity.annTopK(none, none, k, spec)).getMessage
  }

  test("annTopK rejects invalid compositions on the driver with a require message") {
    rejection(AnnSpec(Ivf(32, 4, assign = 2), Pq(8, 32))) should include("soft assignment")
    rejection(AnnSpec(Ivf(32, 4, assign = 2), PqResidual(8, 32), TrainedFp)) should include(
      "soft assignment")
    rejection(AnnSpec(Ivf(32, 4, assign = 2), Raw)) should include("over TrainedFp centroids only")
    rejection(AnnSpec(Ivf(32, 4, assign = 2), Raw, Trained)) should include(
      "over TrainedFp centroids only")
    rejection(AnnSpec(Flat, PqResidual(8, 32))) should include("needs Ivf")
    rejection(AnnSpec(Flat, Raw)) should include("use bruteForceTopK")
    rejection(AnnSpec(Flat, Pq(8, 32), TrainedFp)) should include("no fixed-point raw-vector PQ")
    rejection(AnnSpec(Ivf(32, 4), Pq(8, 32), Trained)) should include(
      "IVF x PQ runs over the LowestId centroids and codebook only")
    rejection(AnnSpec(Flat, Pq(8, 32, codes = Some(spark.emptyDataFrame)), Trained)) should
      include("LowestId codebook")
    rejection(AnnSpec(Ivf(32, 4), PqResidual(8, 32, rerankC = 16))) should include(
      "rerankC applies to the fixed-point residual scorer only")
    rejection(AnnSpec(Ivf(32, 4), PqResidual(8, 32, rerankC = 16), Trained)) should include(
      "rerankC applies to the fixed-point residual scorer only")
    rejection(AnnSpec(Ivf(32, 4), PqResidual(8, 32, rerankC = -2), TrainedFp)) should
      include("rerankC=-2")
    rejection(AnnSpec(Ivf(0, 4), Raw)) should include("nlist=0")
    rejection(AnnSpec(Ivf(32, 4, assign = 0), Raw)) should include("assign=0")
    rejection(AnnSpec(Flat, Pq(0, 32))) should include("m=0")
    rejection(AnnSpec(Ivf(32, 4), Raw), k = 0) should include("k=0")
  }
}
