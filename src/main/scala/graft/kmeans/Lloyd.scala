package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array, col}

/** The iterative Lloyd driver loop (reference `master.py:215-258`: per
  * iteration broadcast centroids → map-assign → shuffle → group-by-key →
  * mean → converge-check) over (pid, x, y) points, run by [[LloydCore]]:
  * one map-side pass per iteration returning each partition's (Σ, n) of
  * the clusters it hit to the driver, which holds the model
  * (`master.py:8-9`).
  */
object Lloyd {

  /** Run Lloyd's algorithm on a (pid, x, y) DataFrame with first-K init.
    *
    * Convergence is id-joined max-movement ≤ tol (SURVEY.md §7.5); empty
    * clusters follow `cfg.emptyClusters` (Drop = reference-faithful shrink,
    * Keep = carry previous center).
    */
  def fit(points: DataFrame, cfg: KMeansConfig): KMeansResult2 = {
    require(cfg.k > 0, "k must be positive")
    val input = if (cfg.f32Wire) Ops.castF32(points) else points
    // first-K init by (pid, x, y), as Ops.initFirstK
    val r = LloydCore.run(input, array(col("x"), col("y")), Seq(col("pid"), col("x"), col("y")), cfg)
    KMeansResult2(r.centroids.map(to2), r.iterations, r.converged)
  }

  /** Run exactly `iters` update steps with NO early stop, returning the
    * model after each step — the fixed-iteration form used by the unrolled
    * SQL oracle and the parity goldens (the reference effectively always
    * runs to max_iterations, SURVEY.md §4.3 defect 1).
    */
  def iterate(points: DataFrame, k: Int, iters: Int): Seq[Centroid2] =
    fit(points, LloydCore.fixed(k, iters)).centroids

  /** [[iterate]] under the reference's float32 wire funnel
    * (`comm.proto:41,51-52`): input coordinates rounded through f32 once
    * (the mapper's parse), and every centroid list rounded through f32
    * before it is "sent" to the next assignment (the protobuf broadcast).
    * Fixed iterations, so it unrolls into an exact SQL oracle via
    * `CAST(CAST(x AS REAL) AS DOUBLE)` — the `p5_f32_lloyd` registry
    * entry; the f64 arithmetic BETWEEN wire points is unchanged.
    */
  def iterateF32(points: DataFrame, k: Int, iters: Int): Seq[Centroid2] =
    fit(points, LloydCore.fixed(k, iters).copy(f32Wire = true)).centroids

  private def to2(c: CentroidN): Centroid2 = Centroid2(c.cid, c.features(0), c.features(1))
}
