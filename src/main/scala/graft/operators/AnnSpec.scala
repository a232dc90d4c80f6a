package graft.operators

import org.apache.spark.sql.DataFrame

/** One point of the ANN grid that [[Similarity.annTopK]] runs: a
  * COARSE stage that decides which corpus vectors a query may meet
  * (all of them, or the members of its `nprobe` nearest inverted
  * lists), a CODE stage that decides how a met pair is scored (exact
  * cosine, or ADC over a product-quantization codebook), and ONE
  * `source` that both stages read: the coarse centroids and the PQ
  * codebook are built the same way. The shape is REPOSE's (ICDE 2021):
  * prune partitions first, then search inside them.
  *
  * The grid is not a full product. [[validate]] accepts exactly these
  * points, and rejects every other composition on the driver with a
  * `require` message, before a frame is built:
  *
  *   - Ivf × Raw, any source; `assign` > 1 over TrainedFp only;
  *   - Flat × Pq, LowestId (optionally over a prebuilt code table) or
  *     Trained;
  *   - Ivf × Pq, LowestId;
  *   - Ivf × PqResidual, any source; `rerankC` under TrainedFp only.
  */
final case class AnnSpec(coarse: AnnSpec.Coarse, code: AnnSpec.Code,
    source: AnnSpec.Source = AnnSpec.LowestId) {
  import AnnSpec._

  private[operators] def validate(k: Int): Unit = {
    require(k >= 1, s"k=$k must be >= 1")
    coarse match {
      case Ivf(nlist, nprobe, assign) =>
        require(nlist >= 1 && nprobe >= 1 && assign >= 1,
          s"nlist=$nlist nprobe=$nprobe assign=$assign must be >= 1")
        require(assign == 1 || (code == Raw && source == TrainedFp),
          s"assign=$assign (soft assignment) is implemented for the Raw cosine scorer " +
            s"over TrainedFp centroids only, not $code over $source")
      case Flat =>
        require(code != Raw, "AnnSpec(Flat, Raw) is exact search: use bruteForceTopK")
    }
    code match {
      case Raw =>
      case Pq(m, ncode, codes) =>
        require(m >= 1 && ncode >= 1, s"m=$m ncode=$ncode must be >= 1")
        require(source != TrainedFp,
          "there is no fixed-point raw-vector PQ: use source LowestId or Trained")
        require(coarse == Flat || source == LowestId,
          s"IVF x PQ runs over the LowestId centroids and codebook only, not $source")
        require(codes.isEmpty || source == LowestId,
          "a prebuilt code table (ensurePqIndex) is encoded with the LowestId codebook")
      case PqResidual(m, ncode, rerankC) =>
        require(m >= 1 && ncode >= 1, s"m=$m ncode=$ncode must be >= 1")
        require(coarse != Flat,
          "PqResidual encodes residuals against a coarse centroid: it needs Ivf, not Flat")
        require(rerankC >= -1, s"rerankC=$rerankC must be -1 (8k), 0 (ADC only) or > 0")
        require(rerankC == -1 || source == TrainedFp,
          "rerankC applies to the fixed-point residual scorer only")
    }
  }
}

object AnnSpec {

  /** Where the coarse centroids and the PQ codebook come from. */
  sealed trait Source

  /** The lowest-id corpus vectors: no training, so an external engine
    * replays the exact partition and encoding (the oracle-checked rows).
    */
  case object LowestId extends Source

  /** Double-precision Lloyd k-means on the deterministic hash sample
    * ([[Similarity.ivfTrainCentroidsLocal]], [[Similarity.pqTrainCodebookLocal]]):
    * better centers, replayable only in one summation order.
    */
  case object Trained extends Source

  /** Integer Lloyd k-means ([[Similarity.ivfTrainCentroidsFp]],
    * [[Similarity.pqTrainCodebookFp]]): the SQL oracle replays the
    * training bit for bit. Centroids are ×2^15 integers: cosine routing
    * does not see the scale, and the residual code quantizes against it.
    */
  case object TrainedFp extends Source

  sealed trait Coarse

  /** No partition pruning: every query meets the whole corpus. */
  case object Flat extends Coarse

  /** Inverted-file pruning: `nlist` centroids; every corpus vector sits
    * in its `assign` nearest lists, and every query scans the lists of
    * its `nprobe` nearest centroids.
    */
  final case class Ivf(nlist: Int, nprobe: Int, assign: Int = 1) extends Coarse

  sealed trait Code

  /** Exact cosine on the raw vectors; output column cos_sim. */
  case object Raw extends Code

  /** ADC over `m` subspaces of `ncode` codewords on the RAW vectors;
    * output column adc_d2. `codes` is a prebuilt (n_id, codes) table
    * ([[Similarity.ensurePqIndex]]); without it the corpus is encoded
    * inline.
    */
  final case class Pq(m: Int, ncode: Int, codes: Option[DataFrame] = None) extends Code

  /** ADC over the RESIDUALS v - centroid(v), with one LUT per (query,
    * probed list) — the faiss IVFPQ shape. Output adc_d2, or under the
    * TrainedFp source the integer adc_fp and, when `rerankC` != 0, the
    * exact-integer rerank distance d2_fp over the ADC top-C (-1 = C of
    * 8k).
    */
  final case class PqResidual(m: Int, ncode: Int, rerankC: Int = -1) extends Code
}
