package graft.kmeans

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The packed Lloyd loop against the DataFrame operators it replaces:
  * after one and after three steps, `Lloyd.fit` / `LloydN.fit` must equal
  * `collectCentroids(update(assign(..)))` iterated over the same cached
  * input, bit for bit, on random non-grid points (sums round) at 1, 3 and
  * 8 partitions, k up to the quantizer-sized 100, under Drop and Keep.
  */
class LloydCoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val partitions = Seq(1, 3, 8)
  private val ks = Seq(1, 3, 8, 100)
  private val policies = Seq(EmptyClusterPolicy.Drop, EmptyClusterPolicy.Keep)

  /** Gaussian blobs around 5 random centres. pid 1 repeats pid 0, so for
    * k >= 2 centroid 1 ties centroid 0 everywhere and captures nothing
    * from the first step on (an empty cluster for Drop/Keep to differ on).
    */
  private def points(d: Int): Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(d)
    val centres = Array.fill(5, d)(rnd.nextDouble() * 20 - 10)
    val ps = (0 until 600).map(i => (i.toLong, centres(i % 5).map(_ + rnd.nextGaussian())))
    ps.updated(1, (1L, ps(0)._2.clone()))
  }

  private def cached(df: DataFrame, p: Int)(body: DataFrame => Unit): Unit = {
    val c = df.repartition(p).persist()
    c.count()
    try body(c) finally c.unpersist(blocking = true)
  }

  private def carry[C](updated: Seq[C], prev: Seq[C], cid: C => Int): Seq[C] = {
    val seen = updated.map(cid).toSet
    (updated ++ prev.filterNot(c => seen(cid(c)))).sortBy(cid)
  }

  private def bits(cs: Seq[(Int, Seq[Double])]) =
    cs.map { case (cid, f) => (cid, f.map(java.lang.Double.doubleToRawLongBits)) }

  /** Models after each of `iters` DataFrame-operator steps. */
  private def reference[C](init: Seq[C], iters: Int, keep: Boolean, cid: C => Int)(
      step: Seq[C] => Seq[C]): Seq[Seq[C]] =
    Iterator.iterate(init) { cs =>
      val u = step(cs)
      if (keep) carry(u, cs, cid) else u
    }.slice(1, iters + 1).toSeq

  private def cfg(k: Int, iters: Int, policy: EmptyClusterPolicy) =
    KMeansConfig(k, maxIter = iters, tol = -1.0, emptyClusters = policy)

  test("2-D fit steps are bit-identical to Ops.update(Ops.assign(..))") {
    val df = points(2).map { case (pid, f) => (pid, f(0), f(1)) }.toDF("pid", "x", "y")
    def xy(cs: Seq[Centroid2]) = bits(cs.map(c => (c.cid, Seq(c.x, c.y))))
    for (p <- partitions) cached(df, p) { pts =>
      for (k <- ks; policy <- policies) {
        val steps = reference(Ops.collectCentroids(Ops.initFirstK(pts, k)), 3,
          policy == EmptyClusterPolicy.Keep, (c: Centroid2) => c.cid) { cs =>
          Ops.collectCentroids(Ops.update(Ops.assign(pts, cs)))
        }
        for (iters <- Seq(1, 3)) {
          val got = Lloyd.fit(pts, cfg(k, iters, policy))
          assert(got.iterations === iters)
          assert(xy(got.centroids) === xy(steps(iters - 1)),
            s"p=$p k=$k $policy after $iters steps")
        }
        if (policy == EmptyClusterPolicy.Drop)
          assert(xy(Lloyd.iterate(pts, k, 3)) === xy(steps(2)), s"iterate p=$p k=$k")
        if (k >= 2) assert(steps.head.exists(_.cid == 1) === (policy == EmptyClusterPolicy.Keep))
      }
    }
  }

  test("n-D fit steps are bit-identical to OpsN.updateN(OpsN.assignN(..))") {
    val df = points(5).toDF("pid", "features")
    def fs(cs: Seq[CentroidN]) = bits(cs.map(c => (c.cid, c.features.toSeq)))
    for (p <- partitions) cached(df, p) { pts =>
      for (k <- ks; policy <- policies) {
        val steps = reference(OpsN.collectCentroidsN(OpsN.initFirstKN(pts, k)), 3,
          policy == EmptyClusterPolicy.Keep, (c: CentroidN) => c.cid) { cs =>
          OpsN.collectCentroidsN(OpsN.updateN(OpsN.assignN(pts, cs)))
        }
        for (iters <- Seq(1, 3)) {
          val got = LloydN.fit(pts, cfg(k, iters, policy))
          assert(got.iterations === iters)
          assert(fs(got.centroids) === fs(steps(iters - 1)),
            s"p=$p k=$k $policy after $iters steps")
        }
        if (policy == EmptyClusterPolicy.Drop)
          assert(fs(LloydN.iterateN(pts, k, 3)) === fs(steps(2)), s"iterateN p=$p k=$k")
      }
    }
  }

  test("the one-pass first-K init equals Ops.initFirstK / OpsN.initFirstKN") {
    // pids repeat three times; x, then y, break the ties
    val rnd = new scala.util.Random(7)
    val df2 = (0 until 300).map(i => ((i / 3).toLong, rnd.nextInt(4).toDouble, rnd.nextDouble()))
      .toDF("pid", "x", "y")
    val dfN = points(4).reverse.toDF("pid", "features")
    for (p <- partitions) {
      cached(df2, p) { pts =>
        for (k <- Seq(1, 7, 100, 400))
          assert(Lloyd.iterate(pts, k, 0) === Ops.collectCentroids(Ops.initFirstK(pts, k)),
            s"2-D p=$p k=$k")
      }
      cached(dfN, p) { pts =>
        for (k <- Seq(1, 7, 100)) {
          val want = OpsN.collectCentroidsN(OpsN.initFirstKN(pts, k))
          val got = LloydN.iterateN(pts, k, 0)
          assert(bits(got.map(c => (c.cid, c.features.toSeq))) ===
            bits(want.map(c => (c.cid, c.features.toSeq))), s"n-D p=$p k=$k")
        }
      }
    }
  }

  test("first-K init with a null pid: distinct cids 0..k-1, as the core's") {
    // the null pid sorts first (SQL's ORDER BY) and must not open a second
    // window partition that restarts the rank at cid 0
    val df2 = (0 until 6).map(i => (if (i == 3) None else Some(i.toLong), i * 1.0, 0.0))
      .toDF("pid", "x", "y")
    val dfN = (0 until 6).map(i => (if (i == 3) None else Some(i.toLong), Array(i * 1.0)))
      .toDF("pid", "features")
    for (k <- Seq(2, 4)) {
      val init2 = Ops.collectCentroids(Ops.initFirstK(df2, k))
      assert(init2.map(_.cid) === (0 until k), s"2-D k=$k")
      assert(init2.head === Centroid2(0, 3.0, 0.0))
      assert(init2 === Lloyd.iterate(df2, k, 0), s"2-D k=$k")
      val initN = OpsN.collectCentroidsN(OpsN.initFirstKN(dfN, k))
      assert(initN.map(_.cid) === (0 until k), s"n-D k=$k")
      assert(bits(initN.map(c => (c.cid, c.features.toSeq))) ===
        bits(LloydN.iterateN(dfN, k, 0).map(c => (c.cid, c.features.toSeq))), s"n-D k=$k")
    }
  }

  test("partials carry only the clusters a partition hit") {
    val model = Array.tabulate(100 * 2)(i => i.toDouble)
    assert(LloydCore.partial(Array.empty, model, 100, 2).isEmpty)
    val part = LloydCore.partial(Array(0.1, 1.1, 0.2, 1.2, 50.0, 51.0), model, 100, 2)
    assert(part.map { case (j, n, s) => (j, n, s.toSeq) }.toSeq ===
      Seq((0, 2L, Seq(0.1 + 0.2, 1.1 + 1.2)), (25, 1L, Seq(50.0, 51.0))))
  }

  test("a k=120 fit over mostly empty partitions returns kilobytes per task, not k·d") {
    val sc = spark.sparkContext
    // 300 points hashed into 500 partitions: over a third of them empty
    val df = points(64).take(300).toDF("pid", "features")
    val k = 120
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val maxBytes = new java.util.concurrent.atomic.AtomicLong
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    // events arrive in order: once the job run after the fit has ended,
    // every task of the fit has been counted
    val lastJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val drained = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case "core-fit" => e.stageIds.foreach(stages.add)
          case "core-drain" => lastJob.set(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) {
          tasks.incrementAndGet()
          maxBytes.accumulateAndGet(e.taskMetrics.resultSize, math.max)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == lastJob.get) drained.set(true)
    }
    val c = df.repartition(500, col("pid")).persist()
    try {
      c.count()
      val empty = c.rdd.mapPartitions(it => Iterator.single(it.isEmpty)).collect().count(identity)
      assert(empty > 150, s"$empty empty partitions")
      val want = OpsN.collectCentroidsN(OpsN.updateN(OpsN.assignN(c,
        OpsN.collectCentroidsN(OpsN.initFirstKN(c, k)))))
      sc.addSparkListener(listener)
      sc.setJobGroup("core-fit", "core-fit")
      val got = try LloydN.iterateN(c, k, 1) finally sc.clearJobGroup()
      sc.setJobGroup("core-drain", "core-drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(drained.get))
      assert(bits(got.map(g => (g.cid, g.features.toSeq))) ===
        bits(want.map(g => (g.cid, g.features.toSeq))))
      // the pack's and the one step's tasks; a dense partial alone is
      // k · 64 · 8 ≈ 61 KB
      assert(tasks.get === 1000)
      assert(maxBytes.get < 16 * 1024, s"${maxBytes.get} bytes from one task")
    } finally {
      sc.removeSparkListener(listener)
      c.unpersist(blocking = true)
    }
  }

  test("a 2-D fit of i steps is i + 1 jobs: the pack, then one per step") {
    val sc = spark.sparkContext
    val df = points(2).map { case (pid, f) => (pid, f(0), f(1)) }.toDF("pid", "x", "y")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case "core-jobs" => jobs.incrementAndGet()
          case "core-jobs-drain" => drained.set(true)
          case _ =>
        }
    }
    cached(df, 3) { pts =>
      sc.addSparkListener(listener)
      try for (iters <- Seq(1, 3, 5)) {
        jobs.set(0)
        drained.set(false)
        sc.setJobGroup("core-jobs", "core-jobs")
        val got = try Lloyd.fit(pts, LloydCore.fixed(8, iters)) finally sc.clearJobGroup()
        sc.setJobGroup("core-jobs-drain", "core-jobs-drain")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        eventually(timeout(30.seconds))(assert(drained.get))
        assert(got.iterations === iters)
        assert(jobs.get === iters + 1, s"$iters steps")
      } finally sc.removeSparkListener(listener)
    }
  }

  test("a fit whose packed blocks are lost throws and returns no model") {
    val df = points(3).toDF("pid", "features")
    cached(df, 3) { pts =>
      def fit(afterPack: RDD[_] => Unit) =
        LloydCore.run(pts, col("features"), Seq(col("pid")), LloydCore.fixed(4, 3), afterPack)
      assert(fit(_ => ()).iterations === 3)
      // the blocks go between the pack job and the first step: the step
      // cannot recompute them, so the fit must fail, not fit what is left
      var model: Option[KMeansResultN] = None
      val e = intercept[SparkException] { model = Some(fit(_.unpersist(blocking = true))) }
      assert(model.isEmpty)
      assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
    }
  }
}
