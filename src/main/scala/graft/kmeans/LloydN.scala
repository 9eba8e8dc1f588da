package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** n-D Lloyd over (pid, features ARRAY<DOUBLE>) points: the [[LloydCore]]
  * loop of [[Lloyd]], from first-K init by pid. f32Wire is the 2-D
  * reference's wire format; the n-D loop is f64 throughout and ignores it.
  */
object LloydN {

  def fit(points: DataFrame, cfg: KMeansConfig): KMeansResultN = {
    require(cfg.k > 0, "k must be positive")
    // first-K init by pid, as OpsN.initFirstKN
    LloydCore.run(points, col("features"), Seq(col("pid")), cfg.copy(f32Wire = false))
  }

  /** Fixed-iteration n-D Lloyd (NO early stop): exactly `iters` rounds of
    * assign → mean. Unlike [[fit]] this unrolls into an exact SQL oracle
    * (cf. [[Lloyd.iterate]]); empty clusters drop, matching the SQL's
    * group-by-assigned semantics. Any k runs the same per-row argmin, so a
    * corpus-sized quantizer (k ~ n/occupancy) needs no separate path.
    */
  def iterateN(points: DataFrame, k: Int, iters: Int): Seq[CentroidN] =
    fit(points, LloydCore.fixed(k, iters)).centroids

  /** [[iterateN]] with the quantizer fit on a DETERMINISTIC hash-sample
    * of ~`sampleCap` points: at corpus scale a k-means fit is otherwise
    * `iters` FULL corpus passes, while standard practice (FAISS trains
    * coarse quantizers on a bounded subsample) caps the training set —
    * assignment downstream still sees every row. The sample is id-pure
    * (md5-hash uniform on pid, no RNG state), so the fitted quantizer is
    * identical across runs, partitionings, and engines; `sampleCap >= n`
    * keeps the sample = the corpus, making the fit BIT-IDENTICAL to
    * [[iterateN]] (property-tested) — which is why oracle-checked paths
    * can route through this with a cap above the fixture sizes. One
    * O(n) count decides the rate; init is first-K by pid OF THE SAMPLE.
    */
  def iterateNSampled(
      points: DataFrame,
      k: Int,
      iters: Int,
      sampleCap: Long,
      knownCount: Option[Long] = None): Seq[CentroidN] = {
    require(sampleCap > 0, s"sampleCap=$sampleCap")
    // callers that already counted (e.g. a sized operator deriving k from
    // n) pass the count through — one corpus count total, not two
    val n = knownCount.getOrElse(points.count())
    // the sample must SUPPLY k centroids: a corpus-sized k (semDedupSized
    // derives k ~ n/occupancy) eventually exceeds any fixed cap, and a
    // sample smaller than k would silently fit fewer centroids — cell
    // occupancy then regrows ~n/|sample| and the within-cell pairwise
    // work goes quadratic again. Scale the effective cap to k times a
    // minimum per-centroid mass (FAISS trains on >= 39 points per
    // centroid for the same reason); below the cap the sample is still
    // the corpus, so oracle-checked fixture runs are unchanged.
    val effectiveCap = math.max(sampleCap, k.toLong * minPointsPerCentroid)
    val pts =
      if (n <= effectiveCap) points
      else points.filter(
        graft.text.TextOps.hashUniform(
          org.apache.spark.sql.functions.col("pid"), "qfit")
          < effectiveCap.toDouble / n.toDouble)
    iterateN(pts, k, iters)
  }

  /** Minimum expected sample points per requested centroid when the fit
    * is hash-sampled — FAISS's `min_points_per_centroid` default.
    */
  val minPointsPerCentroid: Long = 39L
}
