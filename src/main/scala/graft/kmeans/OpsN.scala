package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** n-D generalizations of the reference's map/reduce kernels over
  * `ARRAY<DOUBLE>` feature columns (the reference's mapper parses arbitrary
  * arity, `mapper.py:110`; the reducer's mean is n-D, `reducer.py:124-132`;
  * only the wire protocol clamps it to 2-D, `comm.proto:50-53`).
  *
  * Scale notes: assignment stays a shuffle-free per-row projection at any
  * K (the K·d centroid model rides as a runtime reference of one argmin
  * node — [[graft.expr.NearestCentroid]]); the update is a single
  * partial+final aggregation via [[VectorMean]], so the exchange carries
  * O(K·d·partitions) bytes. [[LloydCore]] runs the Lloyd loops' assign +
  * update; these operators are the reference it is tested against.
  */
object OpsN {

  /** Canonical n-D points view over the embeddings testdata: (pid, features). */
  def pointsFromEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings.select(
      col("vec_id").as("pid"),
      col("embedding").cast("array<double>").as("features"))

  /** L1 n-D: first K rows in pid order become centroids 0..K-1.
    * (Rank after limit(k) touches only K rows; the non-foldable
    * constant-zero partition key avoids WindowExec's unpartitioned-window
    * path — see [[Ops.initFirstK]].)
    */
  def initFirstKN(points: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(coalesce(col("pid"), lit(0L)), lit(1))).orderBy(col("pid"))
    points
      .orderBy(col("pid"))
      .limit(k)
      .withColumn("cid", (row_number().over(w) - 1).cast("int"))
      .select(col("cid"), col("features"))
  }

  /** Collect a K-row centroid DataFrame to the driver model state. */
  def collectCentroidsN(centroids: DataFrame): Seq[CentroidN] =
    centroids
      .select(col("cid").cast("int"), col("features").cast("array<double>"))
      .collect()
      .map(r => CentroidN(r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_.cid)
      .toSeq

  /** J1+A3 n-D: nearest-centroid assignment, lowest-cid tiebreak.
    * Output: (pid, features, cid, dist2).
    */
  def assignN(points: DataFrame, centroids: Seq[CentroidN]): DataFrame = {
    require(centroids.nonEmpty, "assignN: empty centroid set")
    val d = centroids.head.features.length
    require(
      centroids.forall(_.features.length == d),
      "assignN: ragged centroid dimensions")
    withNearest(points, Seq("pid", "features"), col("features"),
      centroids.map(c => (c.cid, c.features)))
  }

  /** `keep` plus the (cid, dist2) of the centroid nearest to each row's
    * vector `v`: ONE codegen'd argmin node with the model as a runtime
    * reference ([[graft.expr.NearestCentroid]]), so the plan stays one
    * node at any k and its generated source does not change with the
    * model. TWO projections (argmin struct → field extraction), the second
    * referencing the first's ATTRIBUTE: CollapseProject keeps a non-cheap
    * alias referenced twice apart, so the argmin evaluates once per row,
    * and whole-stage codegen still fuses the pair.
    */
  private[kmeans] def withNearest(
      points: DataFrame,
      keep: Seq[String],
      v: Column,
      centroids: Seq[(Int, Array[Double])]): DataFrame = {
    val nc = graft.expr.ArrayVector.nearestCentroid(v, centroids)
    points
      .select(keep.map(col) :+ nc.as("__gnc"): _*)
      .select(keep.map(col) ++
        Seq(col("__gnc.cid").as("cid"), col("__gnc.dist2").as("dist2")): _*)
  }

  /** A2 n-D: per-cluster mean vector via the one-pass [[VectorMean]]
    * aggregator. Output: (cid, features, n).
    */
  def updateN(assigned: DataFrame): DataFrame = {
    val meanVec = udaf(VectorMean)
    assigned
      .groupBy(col("cid"))
      .agg(
        meanVec(col("features")).as("features"),
        count(lit(1)).as("n"))
  }

  /** A2 n-D alternative: posexplode + per-dimension avg + re-assemble.
    * Same result as [[updateN]]; kept because it is the ANSI-SQL-expressible
    * formulation (the oracle's shape) and scales via plain hash aggregates.
    * Output: (cid, dim, mean) — exploded, one row per dimension.
    */
  def updateNExploded(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("features")).as(Seq("dim", "v")))
      .groupBy(col("cid"), col("dim"))
      .agg(avg(col("v")).as("mean"))

  /** C4 n-D: id-joined max movement. */
  def maxMovementN(oldC: Seq[CentroidN], newC: Seq[CentroidN]): Double = {
    val oldById = oldC.map(c => c.cid -> c).toMap
    newC.iterator.flatMap { n =>
      oldById.get(n.cid).map(o => math.sqrt(o.dist2To(n.features)))
    }.foldLeft(0.0)(math.max)
  }

  def convergedN(oldC: Seq[CentroidN], newC: Seq[CentroidN], tol: Double): Boolean =
    oldC.map(_.cid).toSet == newC.map(_.cid).toSet &&
      maxMovementN(oldC, newC) <= tol

  /** Scalable k-means|| initialization (Bahmani et al., VLDB'12) — the
    * init the reference lacks: first-K init seeds adjacent points
    * (terrible spread); k-means++ is inherently sequential (one point
    * per pass). k-means|| oversamples ~l candidates per round for
    * `rounds` rounds, each round sampling ∝ d²(x, C) against the
    * CURRENT candidate set, then keeps the k heaviest candidates by
    * nearest-point count.
    *
    * DETERMINISTIC by construction (no rand(), no Σd² scalar): per-round
    * weighted sampling-without-replacement uses the Efraimidis–Spirakis
    * exponential clock — key = −ln(u)/d², u the id-pure
    * [[graft.text.TextOps.hashUniform]] draw (salt per round) — so the
    * l smallest keys ARE a ∝d² sample, with NO global d² sum whose
    * floating partial-aggregation order could flip membership (the
    * tx_dsir_sample Gumbel-top-k discipline; keys floor-truncated at
    * 1e-6 before ranking, pid tiebreak). Points at d² = 0 (the current
    * candidates and their exact duplicates) are excluded from the draw.
    *
    * The finisher is the paper's recluster-the-candidates step in its
    * DERANDOMIZED greedy form (weighted greedy k-means++ / maxmin):
    * seed with the heaviest candidate, then repeatedly add the
    * candidate maximizing wt·min-d² to the chosen set (pid tiebreak) —
    * NOT a plain weight-top-k, which provably collapses into the
    * densest cluster (a 40-vs-10 two-cluster fixture picks two seeds
    * from the dense side; spec-locked against exactly that).
    *
    * Scale shape: each round is one map-only [[assignN]] distance pass
    * (candidates ride as a runtime reference) + a TakeOrdered(l) — never a
    * global sort; the final weighting is one more assign pass + an
    * O(candidates) count, and the greedy finish runs driver-side over
    * the ≤ 1+rounds·l candidates, exactly like Lloyd's model state.
    *
    * Output: (cid, pid) — cid 0-based in selection order, the chosen k
    * seed points.
    */
  def initKMeansParallel(
      points: DataFrame, k: Int, rounds: Int, l: Int): DataFrame = {
    require(k >= 1 && rounds >= 1 && l >= 1,
      s"need k, rounds, l >= 1, got k=$k rounds=$rounds l=$l")
    require(k <= 1 + rounds * l,
      s"k=$k exceeds the candidate pool 1 + rounds*l = ${1 + rounds * l}")
    val spark = points.sparkSession
    import spark.implicits._
    val first = points.orderBy(col("pid")).limit(1)
      .select(col("pid"), col("features"))
      .as[(Long, Seq[Double])].collect()
    require(first.nonEmpty, "initKMeansParallel: empty input")
    var cands: Vector[(Long, Array[Double])] =
      Vector(first.head._1 -> first.head._2.toArray)
    for (r <- 1 to rounds) {
      // cid = index in pid-ascending order, so assignN's lowest-cid
      // distance tiebreak is the oracle's lowest-candidate-pid tiebreak
      val cs = cands.sortBy(_._1).zipWithIndex
        .map { case ((_, v), i) => CentroidN(i, v) }
      val key = floor(
        (-log(graft.text.TextOps.hashUniform(col("pid"), s"kmpar$r")) /
          col("dist2")) * 1e6) / 1e6
      val kept = assignN(points, cs)
        .filter(col("dist2") > 0.0)
        .select(col("pid"), col("features"), key.as("key"))
        .orderBy(col("key"), col("pid")).limit(l)
        .select(col("pid"), col("features"))
        .as[(Long, Seq[Double])].collect()
      cands ++= kept.map { case (p, v) => p -> v.toArray }
    }
    val ordered = cands.sortBy(_._1)
    val cs = ordered.zipWithIndex.map { case ((_, v), i) => CentroidN(i, v) }
    val weights = assignN(points, cs)
      .groupBy(col("cid")).agg(count(lit(1)).as("wt"))
      .as[(Int, Long)].collect().toMap
    val pool = ordered.zipWithIndex.map { case ((pid, v), i) =>
      (pid, v, weights.getOrElse(i, 0L).toDouble)
    }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // greedy weighted k-means++: heaviest first (pid tiebreak), then
    // argmax wt * min-d² to the chosen set (pid tiebreak — exact-zero
    // ties are real when candidates duplicate vectors)
    val first0 = pool.minBy { case (pid, _, wt) => (-wt, pid) }
    var chosen = Vector(first0)
    var rest = pool.filterNot(_._1 == first0._1)
    while (chosen.size < k && rest.nonEmpty) {
      val next = rest.minBy { case (pid, v, wt) =>
        (-(wt * chosen.map(c => d2(v, c._2)).min), pid)
      }
      chosen :+= next
      rest = rest.filterNot(_._1 == next._1)
    }
    chosen.zipWithIndex.map { case ((pid, _, _), cid) => (cid.toLong, pid) }
      .toDF("cid", "pid")
  }

  /** Prototype-distance outlier pruning (Sorscher et al. NeurIPS'22
    * prototypicality; D4, Tirumala et al. NeurIPS'23): assign each
    * embedding to its nearest prototype and emit the points whose
    * squared distance exceeds their OWN cluster's `pct` quantile — the
    * off-manifold tail an embedding-curation pipeline drops before
    * training (a global cut would mistake every small/tight cluster's
    * whole population for inliers and a diffuse cluster's core for
    * outliers; the per-cluster cut normalizes by local density).
    *
    * Scale shape: the assignment is the map-only [[assignN]] (no
    * shuffle); the per-cluster cut is ONE partial+final
    * aggregation producing k rows that broadcast back onto the
    * assigned stream; the outlier filter is map-side. One k-row
    * shuffle total, never a corpus sort. The exact per-group buffer
    * (`sort_array(collect_list(...))` — the same memory class the
    * previous `percentile` aggregate already carried) is kept so the
    * cut is oracle-derivable; at real corpus sizes swap
    * `percentile_approx` (the a5_percentiles_sketch contrast).
    *
    * The cut is the NEAREST-RANK percentile — the ⌈pct·n⌉-th smallest
    * d2 within the cluster, an exact DATUM of the data rather than an
    * interpolation (the tx_ppl_buckets rank-arithmetic discipline,
    * closing the r14-advice residual: two engines' `percentile` /
    * `quantile_cont` interpolation arithmetic could disagree in the
    * last ulp exactly on a truncation boundary and flip membership;
    * a rank-picked datum has no arithmetic to disagree on). Membership
    * is strict (d2 > cut), so points tied WITH the cut value are
    * inliers in both engines.
    *
    * Output: (pid, cid, d2, cut) for points with d2 > cut.
    */
  def prototypeOutliers(
      points: DataFrame, centroids: Seq[CentroidN], pct: Double): DataFrame = {
    require(pct > 0.0 && pct < 1.0, s"pct must be in (0,1), got $pct")
    // cached: feeds both the cut aggregation and the outlier join
    val assigned = graft.util.OpCaches.cache(
      assignN(points, centroids).select(col("pid"), col("cid"), col("dist2")))
    val cuts = assigned
      .groupBy(col("cid"))
      .agg(element_at(sort_array(collect_list(col("dist2"))),
        ceil(lit(pct) * count(lit(1))).cast("int")).as("cut"))
    assigned
      .join(broadcast(cuts), Seq("cid"))
      .where(col("dist2") > col("cut"))
      .select(col("pid"), col("cid"), col("dist2").as("d2"), col("cut"))
  }
}
