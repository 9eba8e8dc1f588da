package perfbench

/** Plain-Scala Lloyd with the engine's contract: first-K init by pid,
  * lowest-cid ties, Drop policy for empty clusters, and id-joined max
  * movement <= tol as the stop rule. The same left-to-right distance fold
  * as the engine, so on exact-sum inputs the centroids match bit for bit.
  */
object RefLloyd {
  final case class Model(cids: Array[Int], centres: Array[Array[Double]], iterations: Int, converged: Boolean)

  def dist2(p: Array[Double], po: Int, c: Array[Double], d: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < d) { val t = p(po + j) - c(j); acc += t * t; j += 1 }
    acc
  }

  /** Returns the model and the per-iteration assignment counts. */
  def fit(m: Gen.Mixture, k: Int, maxIter: Int, tol: Double): Model = {
    val d = m.d
    val order = m.pids.indices.sortBy(m.pids(_)).take(k)
    var cids = order.indices.toArray
    var centres = order.map(m.point).toArray
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      iter += 1
      val sums = Array.fill(cids.length)(new Array[Double](d))
      val counts = new Array[Long](cids.length)
      var i = 0
      while (i < m.n) {
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cids.length) {
          val dd = dist2(m.coords, i * d, centres(c), d)
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < d) { s(j) += m.coords(i * d + j); j += 1 }
        counts(best) += 1
        i += 1
      }
      val keep = cids.indices.filter(counts(_) > 0)
      val nextCids = keep.map(cids(_)).toArray
      val next = keep.map(c => sums(c).map(_ / counts(c).toDouble)).toArray
      val sameIds = nextCids.toSeq == cids.toSeq
      val moved = keep.zipWithIndex.map { case (c, ni) =>
        math.sqrt(dist2(next(ni), 0, centres(c), d))
      }.foldLeft(0.0)(math.max)
      done = sameIds && moved <= tol
      cids = nextCids
      centres = next
    }
    Model(cids, centres, iter, done)
  }
}
