package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.kmeans._

/** lloyd_2d and lloyd_nd: a Lloyd fit to convergence with the default
  * config (tol 0.001, Drop policy), through `Lloyd.fit` / `LloydN.fit`.
  *
  * The timed window repeats the fit; every fit's centroids and iteration
  * count must equal a plain-Scala Lloyd over the same points, computed
  * once per invocation. The traced run replays the same loop from the
  * public `Ops` / `OpsN` operators inside spans.
  */
object LloydWork {
  final case class Shape(name: String, n: Int, d: Int, k: Int)
  /** Driver-bound: the 2-D literal `least`/`when` chain is re-analysed,
    * re-planned and re-compiled every iteration.
    */
  val TwoD = Shape("lloyd_2d", 100000, 2, 8)
  /** Executor-bound: the NearestCentroid kernel and the VectorMean update. */
  val ND = Shape("lloyd_nd", 50000, 16, 64)
  /** Template: chains of 3 boxes, 2.2 half-widths apart; 10-11 iterations. */
  val Group = 3
  val Gap = 2.2
  val Tol = 0.001
  /** Untimed fits take the JIT through the cold start: the first fit takes
    * about three times as long as the next, and the second is still about
    * 20% slower than the third.
    */
  val WarmFits = 2
  val MinFits = 2

  /** The 2-D and n-D operator sets behind one interface, models as arrays. */
  trait Kernel {
    type C
    def init(df: DataFrame, k: Int): DataFrame
    def collect(df: DataFrame): Seq[C]
    def assign(df: DataFrame, cs: Seq[C]): DataFrame
    def update(assigned: DataFrame): DataFrame
    def converged(a: Seq[C], b: Seq[C]): Boolean
    def arrays(cs: Seq[C]): (Seq[Int], Seq[Seq[Double]])
    /** The public fit; returns (cids, centres, iterations, converged). */
    def fit(df: DataFrame, k: Int): (Seq[Int], Seq[Seq[Double]], Int, Boolean)
  }

  object K2 extends Kernel {
    type C = Centroid2
    def init(df: DataFrame, k: Int): DataFrame = Ops.initFirstK(df, k)
    def collect(df: DataFrame): Seq[C] = Ops.collectCentroids(df)
    def assign(df: DataFrame, cs: Seq[C]): DataFrame = Ops.assign(df, cs)
    def update(a: DataFrame): DataFrame = Ops.update(a)
    def converged(a: Seq[C], b: Seq[C]): Boolean = Ops.converged(a, b, Tol)
    def arrays(cs: Seq[C]) = (cs.map(_.cid), cs.map(c => Seq(c.x, c.y)))
    def fit(df: DataFrame, k: Int) = {
      val r = Lloyd.fit(df, KMeansConfig(k))
      val (ids, cs) = arrays(r.centroids)
      (ids, cs, r.iterations, r.converged)
    }
  }

  object KN extends Kernel {
    type C = CentroidN
    def init(df: DataFrame, k: Int): DataFrame = OpsN.initFirstKN(df, k)
    def collect(df: DataFrame): Seq[C] = OpsN.collectCentroidsN(df)
    def assign(df: DataFrame, cs: Seq[C]): DataFrame = OpsN.assignN(df, cs)
    def update(a: DataFrame): DataFrame = OpsN.updateN(a).drop("n")
    def converged(a: Seq[C], b: Seq[C]): Boolean = OpsN.convergedN(a, b, Tol)
    def arrays(cs: Seq[C]) = (cs.map(_.cid), cs.map(_.features.toSeq))
    def fit(df: DataFrame, k: Int) = {
      val r = LloydN.fit(df, KMeansConfig(k))
      val (ids, cs) = arrays(r.centroids)
      (ids, cs, r.iterations, r.converged)
    }
  }

  /** Write the mixture as parquet, one file per core,
    * and read it back: the fit runs on a table, as a user's would.
    */
  def pointsDf(r: Run, m: Gen.Mixture): DataFrame = {
    val dir = r.work.resolve(s"points-${m.hash}").toString
    val schema =
      if (m.d == 2) StructType(Seq(StructField("pid", LongType), StructField("x", DoubleType),
        StructField("y", DoubleType)))
      else StructType(Seq(StructField("pid", LongType),
        StructField("features", ArrayType(DoubleType, containsNull = false))))
    val rows = (0 until m.n).map { i =>
      val p = m.point(i)
      if (m.d == 2) Row(m.pids(i), p(0), p(1)) else Row(m.pids(i), p.toSeq)
    }
    r.spark.createDataFrame(r.spark.sparkContext.parallelize(rows, r.cores), schema)
      .write.mode("overwrite").parquet(dir)
    r.spark.read.schema(schema).parquet(dir)
  }

  def run(r: Run, shape: Shape): Unit = {
    val t0 = Main.nowNs()
    val kernel: Kernel = if (shape.d == 2) K2 else KN
    val mix = Gen.mixture(r.seed, shape.n, shape.d, shape.k, Group, Gap)
    r.phase("generate")
    val ref = RefLloyd.fit(mix, shape.k, KMeansConfig(shape.k).maxIter, Tol)
    val refIds = ref.cids.toSeq
    val refCs = ref.centres.map(_.toSeq).toSeq
    r.phase("reference")
    val points = pointsDf(r, mix)
    r.phase("write_input")
    val n = shape.n.toDouble
    r.detail("input") = Map("n" -> shape.n, "d" -> shape.d, "k" -> shape.k,
      "hash" -> mix.hash, "bytes" -> shape.n * (8L + 8L * shape.d),
      "bytes_per_heap" -> shape.n * (8.0 + 8.0 * shape.d) / Runtime.getRuntime.maxMemory,
      "ref_iterations" -> ref.iterations)

    def checkFit(op: String, got: (Seq[Int], Seq[Seq[Double]], Int, Boolean)): Unit =
      r.check(op, got._1 == refIds && got._2 == refCs && got._3 == ref.iterations &&
        got._4 == ref.converged,
        s"model differs from the reference: iterations ${got._3} vs ${ref.iterations}, " +
          s"${got._1.size} vs ${refIds.size} centroids")

    for (_ <- 0 until WarmFits) { r.reset(); kernel.fit(points, shape.k) }
    r.reset()
    r.phase("warm_up")
    r.metric("setup_s", (Main.nowNs() - t0) / 1e9 + r.detail("session_s").asInstanceOf[Double], "s")

    val fitMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def timedFit(op: String): Unit = {
      r.reset()
      val c0 = Main.cpuNs()
      val s0 = Main.nowNs()
      val got = r.attempt(op)(kernel.fit(points, shape.k))
      val ms = (Main.nowNs() - s0) / 1e6
      got.foreach { g =>
        checkFit(op, g)
        fitMs += ms
        cpuS += (Main.cpuNs() - c0) / 1e9
      }
    }

    if (!r.trace) {
      Main.window(r.seconds, minOps = MinFits)(_ => timedFit("fit"))
      r.metric("heap_peak_mb", r.heapLiveMb(), "MB")
      r.phase("window")
      val iters = ref.iterations
      val perIter = fitMs.map(_ / iters)
      val tail = Stats.tail(perIter)
      r.metric("op_s", Stats.median(fitMs) / 1e3, "s")
      r.metric("rate_per_s", n * iters / (Stats.median(fitMs) / 1e3), "1/s")
      r.metric("p50_ms", Stats.median(perIter), "ms")
      r.metric("tail_ms", tail.value, "ms")
      r.metric("cpu_s", Stats.median(cpuS), "s")
      r.detail("samples") = Map("fits" -> fitMs.size, "fit_ms" -> fitMs,
        "iterations" -> iters, "tail_pct" -> tail.pct, "cpu_s" -> cpuS)
    } else traced(r, shape, kernel, points, refIds, refCs, ref.iterations)
  }

  private def traced(
      r: Run, shape: Shape, kernel: Kernel, points: DataFrame,
      refIds: Seq[Int], refCs: Seq[Seq[Double]], refIters: Int): Unit = {
    val t = new Tracer(r.spark)
    var cacheMb = 0.0
    /** The fit loop from the public operators over cached points, in spans
      * when `tr` is set. Returns the cached points, the model and the wall
      * time of the loop.
      */
    def replay(op: String, tr: Option[Tracer]): Option[(DataFrame, Seq[kernel.C], Double)] = {
      def sp[A](name: String)(body: => A): A = Tracer.span(tr, name)(body)
      r.reset()
      val s0 = Main.nowNs()
      r.attempt(op) {
        val cached = points.persist(StorageLevel.MEMORY_AND_DISK)
        var cs = sp("kmeans.init")(kernel.collect(kernel.init(cached, shape.k)))
        var iter = 0
        var done = false
        while (iter < KMeansConfig(shape.k).maxIter && !done) {
          iter += 1
          val a = sp("kmeans.assign")(kernel.assign(cached, cs))
          val u = sp("kmeans.update")(kernel.update(a))
          val next = sp("kmeans.collect")(kernel.collect(u))
          done = sp("kmeans.converge")(kernel.converged(cs, next))
          cs = next
          if (iter == 1 && tr.isDefined)
            cacheMb = r.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        }
        val ms = (Main.nowNs() - s0) / 1e6
        val (ids, centres) = kernel.arrays(cs)
        r.check(op, ids == refIds && centres == refCs && iter == refIters,
          s"$op differs from the reference: $iter vs $refIters iterations")
        (cached, cs, ms)
      }
    }
    // one replay to warm its code paths, then untraced replays before and
    // after the traced one; their mean is the tracing-overhead baseline
    def untraced(): Option[Double] = replay("replay", None).map { case (cached, _, ms) =>
      cached.unpersist(blocking = true)
      ms
    }
    untraced()
    val untracedMs = untraced().toSeq
    val tracedMs = replay("traced_fit", Some(t)).map { case (cached, model, ms) =>
      r.attempt("assign_only")(t.span("kmeans.assign_only") {
        kernel.assign(cached, model).write.format("noop").mode("overwrite").save()
      })
      val assigned = kernel.assign(cached, model).persist(StorageLevel.MEMORY_AND_DISK)
      r.attempt("update_only") {
        assigned.count()
        val upd = t.span("kmeans.update_only")(kernel.collect(kernel.update(assigned)))
        r.check("update_only", kernel.arrays(upd) == ((refIds, refCs)),
          "update over the final assignment moved the converged model")
      }
      assigned.unpersist(blocking = true)
      cached.unpersist(blocking = true)
      ms
    }
    t.close()
    val baselineMs = untracedMs ++ untraced()
    val iters = refIters.toDouble
    def s(name: String) = t.get(name)
    r.metric("kmeans.init.wall_ms", s("kmeans.init").selfMs, "ms")
    r.metric("kmeans.init.jobs", s("kmeans.init").jobs, "count")
    for (p <- Seq("assign", "update", "converge"))
      r.metric(s"kmeans.$p.wall_ms", s(s"kmeans.$p").selfMs / iters, "ms")
    val c = s("kmeans.collect")
    r.metric("kmeans.collect.wall_ms", c.selfMs / iters, "ms")
    r.metric("kmeans.collect.plan_ms", c.planMs / iters, "ms")
    r.metric("kmeans.collect.codegen_ms", c.codegenMs / iters, "ms")
    r.metric("kmeans.collect.jobs", c.jobs / iters, "count")
    r.metric("kmeans.collect.driver_gap_ms", c.driverGapMs / iters, "ms")
    r.metric("kmeans.collect.exec_cpu_ms", c.execCpuMs / iters, "ms")
    r.metric("kmeans.collect.gc_ms", c.gcMs / iters, "ms")
    r.metric("kmeans.collect.shuffle_bytes", c.shuffleBytes / iters, "bytes")
    val ao = s("kmeans.assign_only")
    r.metric("kmeans.assign_only.wall_ms", ao.selfMs, "ms")
    r.metric("kmeans.assign_only.exec_cpu_ms", ao.execCpuMs, "ms")
    val uo = s("kmeans.update_only")
    r.metric("kmeans.update_only.wall_ms", uo.selfMs, "ms")
    r.metric("kmeans.update_only.exec_cpu_ms", uo.execCpuMs, "ms")
    r.metric("kmeans.update_only.shuffle_bytes", uo.shuffleBytes.toDouble, "bytes")
    val perAssign = shape.n.toDouble * shape.k
    r.metric("expr.dist_evals", perAssign * iters, "count")
    r.metric("expr.ns_per_dist", ao.execCpuMs * 1e6 / perAssign, "ns")
    r.metric("util.cache_mb", cacheMb, "MB")
    Tracer.overhead(r, tracedMs, baselineMs)
  }
}
