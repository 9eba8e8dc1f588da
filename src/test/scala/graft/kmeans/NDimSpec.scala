package graft.kmeans

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** n-D operators: VectorMean aggregator, assignN/updateN, LloydN, MLlib
  * wrapper (FIXTURES.md §B `ndim`).
  */
class NDimSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def ndDf(ps: (Long, Seq[Double])*): DataFrame =
    ps.map { case (pid, f) => (pid, f.toArray) }.toDF("pid", "features")

  test("VectorMean: per-dimension arithmetic mean, one pass") {
    val df = ndDf(
      (1L, Seq(1.0, 2.0, 3.0)),
      (2L, Seq(3.0, 4.0, 5.0)),
      (3L, Seq(5.0, 6.0, 10.0)))
      .withColumn("cid", org.apache.spark.sql.functions.lit(0))
    val got = OpsN.updateN(df).select("features").as[Array[Double]].head()
    assert(got.toSeq === Seq(3.0, 4.0, 6.0))
  }

  test("VectorMean rejects ragged dimensions") {
    val df = ndDf((1L, Seq(1.0, 2.0)), (2L, Seq(1.0)))
      .withColumn("cid", org.apache.spark.sql.functions.lit(0))
    val e = intercept[Exception] { OpsN.updateN(df).collect() }
    assert(e.getMessage.contains("ragged") || e.getCause != null)
  }

  test("fit refuses a null feature array") {
    val pts = Seq((1L, Some(Array(0.0, 0.0))), (2L, None), (3L, Some(Array(1.0, 1.0))))
      .toDF("pid", "features")
    val e = intercept[IllegalArgumentException](LloydN.fit(pts, KMeansConfig(k = 2)))
    assert(e.getMessage.contains("null feature array"), e.getMessage)
  }

  test("fit refuses rows whose width differs instead of folding the common prefix") {
    val pts = ndDf((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 1.0)), (3L, Seq(5.0, 5.0, 5.0)))
    val e = intercept[IllegalArgumentException](LloydN.fit(pts, KMeansConfig(k = 2)))
    assert(e.getMessage.contains("differ in width"), e.getMessage)
    // and however the rows are spread over partitions
    val split = pts.repartition(3, org.apache.spark.sql.functions.col("pid"))
    intercept[IllegalArgumentException](LloydN.iterateN(split, k = 1, iters = 1))
  }

  test("fit refuses a non-finite coordinate") {
    val pts = ndDf((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, Double.NaN)), (3L, Seq(5.0, 5.0)))
    val e = intercept[IllegalArgumentException](LloydN.fit(pts, KMeansConfig(k = 2)))
    assert(e.getMessage.contains("non-finite coordinate NaN"), e.getMessage)
  }

  test("assignN matches brute-force nearest with lowest-cid tiebreak") {
    val pts = ndDf(
      (1L, Seq(0.0, 0.0)),
      (2L, Seq(10.0, 10.0)),
      (3L, Seq(5.0, 5.0))) // equidistant from both centroids
    val cs = Seq(
      CentroidN(0, Array(0.0, 0.0)),
      CentroidN(1, Array(10.0, 10.0)))
    val got = OpsN.assignN(pts, cs)
      .select("pid", "cid").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("updateN (VectorMean) equals updateNExploded (posexplode+avg)") {
    val pts = OpsN.pointsFromEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val assigned = OpsN.assignN(pts, OpsN.collectCentroidsN(OpsN.initFirstKN(pts, 4)))
    val viaAgg = OpsN.updateN(assigned)
      .select($"cid", $"features").as[(Int, Array[Double])]
      .collect().map { case (c, f) => c -> f.toSeq }.toMap
    val viaExplode = OpsN.updateNExploded(assigned)
      .select($"cid", $"dim", $"mean").as[(Int, Int, Double)]
      .collect().groupBy(_._1)
      .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).toSeq }
    assert(viaAgg.keySet === viaExplode.keySet)
    viaAgg.foreach { case (c, f) =>
      f.zip(viaExplode(c)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"cid $c")
      }
    }
  }

  test("LloydN converges on separated embeddings and cost is non-increasing") {
    val pts = OpsN.pointsFromEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val r = LloydN.fit(pts, KMeansConfig(k = 4, maxIter = 10))
    assert(r.centroids.nonEmpty)
    assert(r.centroids.head.features.length === 64)
  }

  test("iterateNSampled: cap >= n is bit-identical to iterateN; " +
      "cap < n is deterministic and fits on the hash-sample") {
    val pts = OpsN.pointsFromEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val full = LloydN.iterateN(pts, k = 4, iters = 3)
    val capped = LloydN.iterateNSampled(pts, k = 4, iters = 3,
      sampleCap = 100000L)
    // the cap exceeds the corpus: the sample IS the corpus, so the fit
    // must be EXACTLY the uncapped one (this is what keeps oracle paths
    // unchanged under the production default cap)
    assert(capped.map(c => (c.cid, c.features.toSeq)) ===
      full.map(c => (c.cid, c.features.toSeq)))
    // under the cap: a genuine subsample fits, id-pure so a re-run is
    // identical; k centroids of the right dimension come back
    val s1 = LloydN.iterateNSampled(pts, k = 4, iters = 3, sampleCap = 100L)
    val s2 = LloydN.iterateNSampled(pts, k = 4, iters = 3, sampleCap = 100L)
    assert(s1.map(c => (c.cid, c.features.toSeq)) ===
      s2.map(c => (c.cid, c.features.toSeq)))
    assert(s1.nonEmpty && s1.forall(_.features.length === 64))
    // and it genuinely differs from the full fit (different training set)
    assert(s1.map(_.features.toSeq) !== full.map(_.features.toSeq))
  }

  test("MLlib wrapper fits and assigns every point") {
    val pts = OpsN.pointsFromEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val model = MLlibKMeans.fit(pts, k = 4, maxIter = 5)
    val assigned = MLlibKMeans.transform(pts, model)
    assert(assigned.count() === 500)
    assert(assigned.select("cid").distinct().count() === 4)
    assert(MLlibKMeans.centroids(spark, model).count() === 4)
  }

  // nearest-rank percentile exactly as prototypeOutliers derives its
  // cut: the ⌈p·n⌉-th smallest value — an exact datum, no interpolation
  private def refPercentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.ceil(p * s.length).toInt - 1)
  }

  test("prototypeOutliers flags exactly the points above their own " +
      "cluster's nearest-rank p-quantile distance") {
    val rnd = new scala.util.Random(5)
    // two clusters of different spread: a global cut would misclassify
    val pts = (0L until 40L).map { i =>
      val (cx, spread) = if (i % 2 == 0) (0.0, 1.0) else (100.0, 10.0)
      (i, Seq.tabulate(4)(_ => cx + rnd.nextGaussian() * spread))
    }
    val df = ndDf(pts: _*)
    val cs = Seq(
      CentroidN(0, Array.fill(4)(0.0)), CentroidN(1, Array.fill(4)(100.0)))
    val got = OpsN.prototypeOutliers(df, cs, pct = 0.8)
      .select("pid", "cid", "d2", "cut")
      .as[(Long, Int, Double, Double)].collect().toSeq
    graft.util.OpCaches.releaseAll(spark)
    // reference: assignments + per-cluster truncated quantile in Scala
    val assigned = pts.map { case (pid, v) =>
      val d0 = v.map(x => (x - 0.0) * (x - 0.0)).sum
      val d1 = v.map(x => (x - 100.0) * (x - 100.0)).sum
      (pid, if (d0 <= d1) 0 else 1, math.min(d0, d1))
    }
    val cuts = assigned.groupBy(_._2).map { case (cid, rows) =>
      cid -> refPercentile(rows.map(_._3), 0.8)
    }
    val expect = assigned
      .filter { case (_, cid, d2) => d2 > cuts(cid) }
      .map { case (pid, cid, d2) => (pid, cid, d2, cuts(cid)) }.toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet === expect)
    // both clusters contribute outliers despite 100x spread difference
    assert(got.map(_._2).toSet === Set(0, 1))
  }

  test("initKMeansParallel matches a driver-side re-derivation of the " +
      "exponential-clock rounds and the weight-top-k finish") {
    val rnd = new scala.util.Random(23)
    val pts = (0L until 60L).map(i =>
      (i, Seq.tabulate(4)(j => rnd.nextGaussian() + (i % 3) * 10.0 * (j + 1))))
    val df = ndDf(pts: _*)
    val got = OpsN.initKMeansParallel(df, k = 4, rounds = 2, l = 3)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    // reference: identical arithmetic in plain Scala
    def u(pid: Long, salt: String): Double = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$pid".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    }
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var cands = Vector(pts.minBy(_._1))
    for (r <- 1 to 2) {
      val kept = pts
        .map { case (pid, v) => (pid, v, cands.map(c => d2(v, c._2)).min) }
        .filter(_._3 > 0)
        .map { case (pid, v, dd) =>
          (pid, v, math.floor(-math.log(u(pid, s"kmpar$r")) / dd * 1e6) / 1e6) }
        .sortBy(t => (t._3, t._1)).take(3)
      cands ++= kept.map(t => (t._1, t._2))
    }
    val byPid = cands.sortBy(_._1)
    val weights = pts.groupBy { case (_, v) =>
      byPid.indices.minBy(i => (d2(v, byPid(i)._2), i))
    }.map { case (i, rows) => i -> rows.size.toLong }
    // greedy weighted k-means++ finish: heaviest first, then argmax
    // wt * min-d2 to the chosen set, pid tiebreak
    val pool = byPid.indices
      .map(i => (byPid(i)._1, byPid(i)._2, weights.getOrElse(i, 0L).toDouble))
    var chosen = Vector(pool.minBy { case (pid, _, wt) => (-wt, pid) })
    var rest = pool.filterNot(_._1 == chosen.head._1)
    while (chosen.size < 4 && rest.nonEmpty) {
      val next = rest.minBy { case (pid, v, wt) =>
        (-(wt * chosen.map(c => d2(v, c._2)).min), pid)
      }
      chosen :+= next
      rest = rest.filterNot(_._1 == next._1)
    }
    val expect = chosen.zipWithIndex
      .map { case ((pid, _, _), cid) => (cid.toLong, pid) }
    assert(got === expect)
  }

  test("initKMeansParallel spreads seeds across separated clusters where " +
      "first-K stays in one; rejects k past the candidate pool") {
    // cluster A: pids 0..39 near origin; cluster B: pids 40..49 far away
    val rnd = new scala.util.Random(9)
    val pts = (0L until 50L).map { i =>
      val c = if (i < 40) 0.0 else 500.0
      (i, Seq.tabulate(4)(_ => c + rnd.nextGaussian()))
    }
    val df = ndDf(pts: _*)
    val seeds = OpsN.initKMeansParallel(df, k = 2, rounds = 2, l = 4)
      .as[(Long, Long)].collect().map(_._2).toSet
    assert(seeds.exists(_ < 40L) && seeds.exists(_ >= 40L),
      s"seeds $seeds do not span both clusters")
    intercept[IllegalArgumentException](
      OpsN.initKMeansParallel(df, k = 10, rounds = 2, l = 3))
  }

  test("prototypeOutliers rejects pct outside (0,1)") {
    val df = ndDf((1L, Seq(0.0)))
    val cs = Seq(CentroidN(0, Array(0.0)))
    intercept[IllegalArgumentException](OpsN.prototypeOutliers(df, cs, 0.0))
    intercept[IllegalArgumentException](OpsN.prototypeOutliers(df, cs, 1.0))
  }
}
