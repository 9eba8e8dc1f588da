package graft.kmeans

/** Data model for the clustering engine (SURVEY.md §1).
  *
  * The reference's fundamental abstraction is a flat table of d-dimensional
  * numeric points (reference `master.py:12-16`, `mapper.py:107-111`). The
  * engine is n-D from day one; the 2-D specialization exists because the
  * reference's wire protocol clamps to 2-D (`comm.proto:50-53`) and because
  * 2-D columns (`x`, `y`) keep every operator ANSI-SQL-expressible for the
  * DuckDB oracle.
  */

/** A 2-D centroid. `cid` is 0-based, assigned in first-K order
  * (reference `master.py:27-30`).
  */
final case class Centroid2(cid: Int, x: Double, y: Double) {
  def dist2To(px: Double, py: Double): Double = {
    val dx = px - x; val dy = py - y
    dx * dx + dy * dy
  }
}

/** An n-D centroid. */
final case class CentroidN(cid: Int, features: Array[Double]) {
  def dist2To(p: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < features.length) {
      val d = p(i) - features(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Lloyd-loop configuration (reference `master.py:199-206`: K, max
  * iterations; tolerance hard-coded 0.001 at `master.py:32`).
  *
  * @param emptyClusters `Drop` reproduces the reference (a cluster with no
  *   assigned points vanishes — `reducer.py:116-122`); `Keep` carries the
  *   previous center forward (MLlib-style). SURVEY.md §7.5.
  * @param f32Wire emulates the reference's float32 wire funnel (protobuf
  *   `float` coordinates, `comm.proto:41,51-52`): points are rounded
  *   through f32 once and the model state is rounded through f32 after
  *   every update, reproducing artifacts like the logged
  *   (0.824999988079071, 9.7) centroid. Default off (engine is f64,
  *   SURVEY.md §7.5).
  */
final case class KMeansConfig(
    k: Int,
    maxIter: Int = 20,
    tol: Double = 0.001,
    emptyClusters: EmptyClusterPolicy = EmptyClusterPolicy.Drop,
    f32Wire: Boolean = false
)

sealed trait EmptyClusterPolicy
object EmptyClusterPolicy {
  case object Drop extends EmptyClusterPolicy
  case object Keep extends EmptyClusterPolicy
}

/** Result of a Lloyd run. `converged` reports whether the id-joined
  * convergence check (SURVEY.md §4.3 defect 1, fixed) fired before
  * `maxIter`.
  */
final case class KMeansResult2(
    centroids: Seq[Centroid2],
    iterations: Int,
    converged: Boolean
)

final case class KMeansResultN(
    centroids: Seq[CentroidN],
    iterations: Int,
    converged: Boolean
)
