package graft.kmeans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      // local[4, 2]: 4 threads, task maxFailures 2 — the reference's C2
      // retry concern surfaces as scheduler config; FaultToleranceSpec
      // demonstrates a task surviving an injected first-attempt failure
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Micro-fixture tests for each SURVEY.md §2 operator (FIXTURES.md §B). */
class KMeansOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def pointsDf(ps: (Long, Double, Double)*): DataFrame =
    ps.toDF("pid", "x", "y")

  test("L1: first-K init takes first k rows in pid order with cids 0..k-1") {
    val pts = pointsDf((3, 30.0, 0.0), (1, 10.0, 0.0), (2, 20.0, 0.0), (4, 40.0, 0.0))
    val init = Ops.collectCentroids(Ops.initFirstK(pts, 2))
    assert(init === Seq(Centroid2(0, 10.0, 0.0), Centroid2(1, 20.0, 0.0)))
  }

  test("A3: each point maps to its nearest centroid") {
    val pts = pointsDf((1, 0.0, 0.0), (2, 10.0, 10.0), (3, 1.0, 1.0))
    val cs = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 10.0, 10.0))
    val got = Ops.assign(pts, cs)
      .select("pid", "cid").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 0))
  }

  test("A3: tie breaks to the lowest cid (mapper.py:28 semantics)") {
    // point at (5,0) is equidistant from centroids 0 at (0,0) and 2 at (10,0)
    val pts = pointsDf((1, 5.0, 0.0))
    val cs = Seq(Centroid2(2, 10.0, 0.0), Centroid2(0, 0.0, 0.0))
    val got = Ops.assign(pts, cs).select("cid").as[Int].head()
    assert(got === 0)
  }

  test("A3: assign and assignCrossJoin agree row-for-row") {
    val pts = pointsDf(
      (1, 0.0, 0.0), (2, 10.0, 10.0), (3, 1.0, 1.0), (4, 5.0, 5.0),
      (4, 9.0, 9.0)) // duplicate pid on purpose
    val cs = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 10.0, 10.0))
    val csDf = Seq((0, 0.0, 0.0), (1, 10.0, 10.0)).toDF("cid", "x", "y")
    val a = Ops.assign(pts, cs).orderBy("pid", "x").collect()
    val b = Ops.assignCrossJoin(pts, csDf).orderBy("pid", "x").collect()
    assert(a.toSeq === b.toSeq)
  }

  /** The 2-D argmin `Ops.assign` planned before the `nearest_centroid`
    * node, kept as the reference: `least` over the k distances and a
    * when-chain taking the first cid whose distance equals it.
    */
  private def chainAssign(points: DataFrame, centroids: Seq[Centroid2]): DataFrame = {
    import org.apache.spark.sql.functions.{col, least, lit, when}
    val sorted = centroids.sortBy(_.cid)
    val dists = sorted.map(c => Ops.dist2(col("x"), col("y"), lit(c.x), lit(c.y)))
    val best = if (dists.size == 1) dists.head else least(dists: _*)
    val cid = sorted.zip(dists).tail.foldLeft(when(dists.head === best, lit(sorted.head.cid))) {
      case (acc, (c, d)) => acc.when(d === best, lit(c.cid))
    }
    points.select(col("pid"), col("x"), col("y"), cid.cast("int").as("cid"), best.as("dist2"))
  }

  /** (pid, cid, dist2 bits), nulls as None, in pid order. */
  private def assigned(df: DataFrame): Seq[(Long, Option[Int], Option[Long])] =
    df.select("pid", "cid", "dist2").collect().toSeq
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]),
        Option(r.get(2)).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))))
      .sortBy(_._1)

  test("A3: assign is bit-identical to the least/when chain, odd input too") {
    val inf = Double.PositiveInfinity
    val pts = Seq[(Long, Option[Double], Option[Double])](
      (1, Some(inf), Some(0.0)), (2, Some(-inf), Some(3.0)), (3, Some(Double.NaN), Some(0.0)),
      (4, Some(0.0), Some(Double.NaN)), (5, None, Some(1.0)), (6, Some(2.0), None),
      (7, Some(1e308), Some(1e308)), (8, Some(5.0), Some(0.0)), (9, Some(2.5), Some(0.0)),
      (10, Some(-0.0), Some(0.0)), (11, Some(0.1), Some(0.7))).toDF("pid", "x", "y")
    val models = Seq(
      Seq(Centroid2(0, inf, 0.0), Centroid2(1, 5.0, 0.0), Centroid2(2, 0.0, 0.0)),
      Seq(Centroid2(3, Double.NaN, 0.0), Centroid2(1, 1.0, 1.0), Centroid2(2, 1.0, 1.0)),
      Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 5.0, 0.0)),
      Seq(Centroid2(7, 0.3, 0.3)))
    for (cs <- models; df <- Seq(pts, pts.repartition(2))) {
      val got = assigned(Ops.assign(df, cs))
      assert(got === assigned(chainAssign(df, cs)), cs)
      assert(got.collect { case (5L, c, d) => (c, d) } === Seq((None, None)))
    }
  }

  test("A3: assign at k=100 equals a driver-side argmin in SQL order") {
    // past the size at which the chain took about 20 s to plan per step
    val rnd = new scala.util.Random(3)
    val cs = (0 until 100).map(i => Centroid2(i, rnd.nextInt(10) * 1.0, rnd.nextInt(10) * 1.0))
    val xs = (0 until 300).map(i => (i.toLong, rnd.nextDouble() * 10, rnd.nextDouble() * 10)) ++
      Seq((300L, Double.PositiveInfinity, 0.0), (301L, Double.NaN, 1.0), (302L, 4.0, 4.0))
    val want = xs.map { case (pid, x, y) =>
      // a NaN distance ranks above every number (TotalOrdering), ties to the lowest cid
      val (d, c) = cs.map(c => (c.dist2To(x, y), c.cid))
        .min(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      (pid, Some(c), Some(java.lang.Double.doubleToRawLongBits(d)))
    }
    assert(assigned(Ops.assign(xs.toDF("pid", "x", "y"), rnd.shuffle(cs))) === want)
  }

  test("A2: mean update is the arithmetic mean of members; empty clusters drop") {
    val pts = pointsDf((1, 0.0, 0.0), (2, 2.0, 2.0), (3, 100.0, 100.0))
    val cs = Seq(
      Centroid2(0, 1.0, 1.0),
      Centroid2(1, 1000.0, 1000.0), // captures nothing
      Centroid2(2, 100.0, 100.0))
    val got = Ops.update(Ops.assign(pts, cs))
      .select("cid", "x", "y", "n").as[(Int, Double, Double, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq === Seq((0, 1.0, 1.0, 2L), (2, 100.0, 100.0, 1L)))
  }

  test("A2: Keep policy carries empty-cluster centers forward") {
    val pts = pointsDf((1, 0.0, 0.0), (2, 2.0, 2.0))
    val r = Lloyd.fit(
      pts,
      KMeansConfig(k = 2, maxIter = 3, emptyClusters = EmptyClusterPolicy.Keep))
    // centroid 1 at (2,2) keeps its point; centroid 0 keeps (0,0): k stays 2
    assert(r.centroids.map(_.cid).sorted === Seq(0, 1))
  }

  test("fit refuses a null coordinate, naming it") {
    val pts = Seq((1L, Some(0.0), 0.0), (2L, None, 1.0), (3L, Some(5.0), 5.0))
      .toDF("pid", "x", "y")
    val e = intercept[IllegalArgumentException](Lloyd.fit(pts, KMeansConfig(k = 2)))
    assert(e.getMessage.contains("null coordinate"), e.getMessage)
  }

  test("fit refuses a non-finite coordinate instead of folding it into a centroid") {
    val pts = pointsDf((1, 0.0, 0.0), (2, 1.0, 1.0), (3, Double.NaN, 5.0))
    val e = intercept[IllegalArgumentException](Lloyd.fit(pts, KMeansConfig(k = 2)))
    assert(e.getMessage.contains("non-finite coordinate NaN"), e.getMessage)
    val inf = pointsDf((1, 0.0, 0.0), (2, 1.0, Double.PositiveInfinity))
    intercept[IllegalArgumentException](Lloyd.iterate(inf, k = 1, iters = 1))
  }

  test("C4: converged fires at a fixed point (one point per cluster)") {
    val pts = pointsDf((1, 0.0, 0.0), (2, 10.0, 0.0), (3, 0.0, 10.0))
    val r = Lloyd.fit(pts, KMeansConfig(k = 3, maxIter = 10))
    assert(r.converged)
    assert(r.iterations === 1) // update(init) == init, so movement is 0 immediately
    assert(r.centroids.toSet === Set(
      Centroid2(0, 0.0, 0.0), Centroid2(1, 10.0, 0.0), Centroid2(2, 0.0, 10.0)))
  }

  test("C4: movement is id-joined, not positional (SURVEY §4.3 defect 1)") {
    val oldC = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 10.0, 0.0))
    val newShuffled = Seq(Centroid2(1, 10.0, 0.0), Centroid2(0, 0.0, 0.0))
    assert(Ops.converged(oldC, newShuffled, 0.001))
    assert(Ops.maxMovement(oldC, Seq(Centroid2(0, 3.0, 4.0))) === 5.0)
  }

  test("C4: cluster disappearance blocks convergence") {
    val oldC = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 10.0, 0.0))
    assert(!Ops.converged(oldC, oldC.take(1), 0.001))
  }

  test("X1: keys congruent mod R land in one partition (modclash fixture)") {
    val r = 3
    val assigned = Seq((1L, 0.0, 0.0, 0), (2L, 0.0, 0.0, r), (3L, 0.0, 0.0, 2 * r))
      .toDF("pid", "x", "y", "cid")
    val parts = Ops.modPartition(assigned, r)
      .select("partition").as[Int].collect().toSet
    assert(parts === Set(0))
  }

  test("P2: malformed rows are dropped on CSV scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-malformed").toFile
    val f = new java.io.File(dir, "points.csv")
    val w = new java.io.PrintWriter(f)
    w.write("1.0,2.0\na,b\n3.0\n\n4.0, 5.0 \n")
    w.close()
    val got = Ops.readPointsCsv(spark, f.getAbsolutePath)
      .select("x", "y").as[(Double, Double)].collect().toSet
    assert(got === Set((1.0, 2.0), (4.0, 5.0)))
  }

  test("P3: f32 cast emulation rounds through float precision") {
    val pts = pointsDf((1, 0.825, 9.7))
    val got = Ops.castF32(pts).select("x").as[Double].head()
    assert(got === 0.824999988079071) // the reference's logged f32 artifact
  }

  test("S3: contiguous split gives N div M per chunk, remainder to last") {
    val pts = (1L to 11L).map(i => (i, i.toDouble, 0.0))
    val df = pts.toDF("pid", "x", "y")
    val sizes = Ops.splitContiguous(df, 3)
      .groupBy("chunk").count().as[(Int, Long)].collect().toMap
    // 11 rows, M=3: size 3 -> chunks 0,1 get 3, chunk 2 takes 5 (remainder)
    assert(sizes === Map(0 -> 3L, 1 -> 3L, 2 -> 5L))
    // contiguity: chunk of pid 4 is 1 (rows 4,5,6)
    val byPid = Ops.splitContiguous(df, 3)
      .select("pid", "chunk").as[(Long, Int)].collect().toMap
    assert(byPid(1L) === 0 && byPid(4L) === 1 && byPid(7L) === 2 && byPid(11L) === 2)
  }

  test("S3: chunk sizes follow N div M with remainder-to-last for random N, M") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(500)
      val m = 1 + rnd.nextInt(7)
      val df = (1L to n.toLong).map(i => (i, i.toDouble, 0.0)).toDF("pid", "x", "y")
      val sizes = Ops.splitContiguous(df, m)
        .groupBy("chunk").count().as[(Int, Long)].collect().toMap
      if (n >= m) {
        val base = n / m
        val expected = (0 until m).map(c =>
          c -> (if (c == m - 1) (n - base * (m - 1)).toLong else base.toLong)).toMap
        assert(sizes === expected, s"n=$n m=$m")
      } else {
        // degenerate n < m: chunk size clamps to 1 (reference semantics:
        // size = max(N div M, 1)); every chunk that exists has 1 row
        assert(sizes.values.sum === n.toLong, s"n=$n m=$m total")
        assert(sizes.forall(_._2 == 1L), s"n=$n m=$m per-chunk")
      }
    }
  }

  test("S9: writeCentroids emits 4-decimal x,y lines in cid order") {
    val f = java.nio.file.Files.createTempFile("graft-centroids", ".txt")
    Ops.writeCentroids(
      Seq(Centroid2(1, 2.0, 3.00005), Centroid2(0, 0.825, 9.7)),
      f.toString)
    val lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    assert(lines === "0.8250,9.7000\n2.0000,3.0001")
  }

  test("objective is non-increasing across Lloyd iterations") {
    val pts = Ops.pointsFromLineitem(
      spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"))
    var centroids = Ops.collectCentroids(Ops.initFirstK(pts, 5))
    var prevObj = Double.MaxValue
    for (_ <- 1 to 4) {
      val assigned = Ops.assign(pts, centroids).cache()
      val obj = assigned.agg(org.apache.spark.sql.functions.sum("dist2"))
        .as[Double].head()
      assert(obj <= prevObj + 1e-6, s"objective went up: $prevObj -> $obj")
      prevObj = obj
      centroids = Ops.collectCentroids(Ops.update(assigned))
      assigned.unpersist()
    }
  }
}
