package graft.kmeans

import graft.expr.NearestCentroid
import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.types.DataType

/** The one Lloyd loop behind [[Lloyd]] and [[LloydN]] (reference
  * `master.py:215-258`). A fit of i steps is i + 1 jobs and broadcasts
  * nothing of its own. The first job reads the input once: it packs each
  * partition's features into one row-major `Array[Double]`, kept for the
  * fit, and returns the partition's first k rows (keys and coordinates),
  * from which the driver takes the first-K init of [[Ops.initFirstK]] /
  * [[OpsN.initFirstKN]]. Each step is one job over the blocks, the model
  * riding in the job's function (Spark ships that in the task binary it
  * broadcasts per job): the argmin per row and, per partition, (Σ, n) of
  * the clusters it hit (the in-mapper combiner for k-means, VLDB'12
  * *MapReduce Algorithms for Big Data Analysis*). No query is planned and
  * nothing is shuffled per step.
  *
  * The blocks are locally checkpointed, so a step task carries no SQL
  * lineage, and a block lost between the pack and a step (an executor
  * gone, its blocks removed) cannot be recomputed: the step's job fails
  * and the fit throws, returning no model. It never answers from the
  * partitions that are left.
  *
  * Bit-identical to iterating `Ops.update(Ops.assign(..))` /
  * `OpsN.updateN(OpsN.assignN(..))` over the same partitions: the argmin
  * is [[NearestCentroid.nearest]] (lowest-cid tiebreak, `mapper.py:28`),
  * and partials merge in partition-index order whatever order tasks
  * finish in — the hash aggregate's 0.0 + p0 + p1 + … (a tree or
  * completion-order merge would move last ulps between runs).
  */
private[kmeans] object LloydCore {

  /** One packed partition: `width` coordinates per row (-1 when empty),
    * and its first k rows as (init key, row index).
    */
  private final case class Block(width: Int, coords: Array[Double], first: Array[(InternalRow, Int)]) {
    /** The first k rows as (init key, row index, coordinates). */
    def heads: Array[(InternalRow, Int, Array[Double])] =
      first.map { case (key, row) => (key, row, coords.slice(row * width, (row + 1) * width)) }
  }

  /** One partition's (model index, n, Σ) for each cluster it hit, ascending. */
  private[kmeans] type Partial = Array[(Int, Long, Array[Double])]

  /** Exactly `iters` steps: no movement is ≤ -∞, so none stops early. */
  def fixed(k: Int, iters: Int): KMeansConfig =
    KMeansConfig(k, maxIter = iters, tol = Double.NegativeInfinity)

  /** Fit `features` (an array of numbers per row of `points`) from the
    * first `cfg.k` rows in ascending `key` order (nulls first, as SQL's
    * ORDER BY), which become cids 0..k-1. `cfg.f32Wire` rounds each model
    * through float32 (`master.py:64-66`); the input's rounding is the
    * caller's. Null, ragged or non-finite input is refused with an
    * IllegalArgumentException. `afterPack` sees the packed blocks before the
    * first step (a seam for the lost-block spec).
    */
  def run(
      points: DataFrame,
      features: Column,
      key: Seq[Column],
      cfg: KMeansConfig,
      afterPack: RDD[_] => Unit = _ => ()): KMeansResultN = {
    def wire(cs: Seq[CentroidN]) =
      if (!cfg.f32Wire) cs
      else cs.map(c => CentroidN(c.cid, c.features.map(_.toFloat.toDouble)))
    val q = points.select(key :+ features.cast("array<double>"): _*)
    val keyTypes = q.schema.fields.init.map(_.dataType).toSeq
    val k = cfg.k
    val blocks = q.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(pack(rows, keyTypes, k)))
      .localCheckpoint()
    try {
      val heads = refusing(blocks.sparkContext.runJob(blocks, OnBlock(b => (b.width, b.heads))))
      val widths = heads.map(_._1).filter(_ >= 0).distinct
      require(widths.size <= 1, s"feature rows differ in width: ${widths.sorted.mkString(", ")}")
      afterPack(blocks)
      var centroids = wire(init(heads.map(_._2), keyTypes, k))
      require(centroids.nonEmpty, s"fewer than 1 point available for k=$k init")
      var iter = 0
      var done = false
      while (iter < cfg.maxIter && !done) {
        iter += 1
        val updated = wire(step(blocks, centroids.toIndexedSeq))
        val next = cfg.emptyClusters match {
          case EmptyClusterPolicy.Drop => updated
          case EmptyClusterPolicy.Keep =>
            // carry forward centers whose cluster captured nothing
            val seen = updated.map(_.cid).toSet
            (updated ++ centroids.filterNot(c => seen(c.cid))).sortBy(_.cid)
        }
        done = OpsN.convergedN(centroids, next, cfg.tol)
        centroids = next
      }
      KMeansResultN(centroids, iter, done)
    } finally blocks.unpersist(blocking = true)
  }

  /** `f` over each partition's block, as a job's function. A named
    * object, not a lambda: for a lambda, Spark's closure cleaner reads
    * the enclosing class file from its jar and parses it on every job
    * (SparkContext's own too, for runJob's iterator-only forms), which
    * took most of the driver thread's time in a profiled 2-D fit.
    */
  private final case class OnBlock[U](f: Block => U) extends ((TaskContext, Iterator[Block]) => U) {
    def apply(ctx: TaskContext, it: Iterator[Block]): U = f(it.next())
  }

  /** Ascending over a row's leading `keyTypes` fields, nulls first. */
  private def byKey(keyTypes: Seq[DataType]): Ordering[InternalRow] =
    InterpretedOrdering.forSchema(keyTypes)

  /** Rows are (key…, features); the key's fields lead, so one ordering
    * compares a full row with a projected key.
    */
  private def pack(rows: Iterator[InternalRow], keyTypes: Seq[DataType], k: Int): Block = {
    val m = keyTypes.size
    val keyOf = UnsafeProjection.create(keyTypes.toArray)
    val key = byKey(keyTypes)
    val ord = key.on[(InternalRow, Int)](_._1).orElseBy(_._2)
    // the k least (key, row) so far, greatest on top; a later row never
    // displaces an equal key
    val first = new java.util.PriorityQueue[(InternalRow, Int)](ord.reverse)
    val out = new scala.collection.mutable.ArrayBuilder.ofDouble
    var width = -1
    var row = 0
    rows.foreach { r =>
      require(!r.isNullAt(m), "null feature array")
      val v = r.getArray(m)
      val w = v.numElements()
      require(w > 0, "empty feature array")
      require(width < 0 || w == width, s"feature rows differ in width: $width, $w")
      width = w
      var i = 0
      while (i < w) {
        require(!v.isNullAt(i), "null coordinate")
        val x = v.getDouble(i)
        require(java.lang.Double.isFinite(x), s"non-finite coordinate $x")
        out.addOne(x)
        i += 1
      }
      if (first.size < k) first.add((keyOf(r).copy(), row))
      else if (key.lt(r, first.peek._1)) { first.poll(); first.add((keyOf(r).copy(), row)) }
      row += 1
    }
    Block(width, out.result(), first.toArray(Array.empty[(InternalRow, Int)]))
  }

  /** The first k rows over all partitions by (key, partition, row), as
    * cids 0..k-1, from each partition's first k (key, row, coordinates).
    */
  private def init(
      first: Array[Array[(InternalRow, Int, Array[Double])]],
      keyTypes: Seq[DataType],
      k: Int): Seq[CentroidN] =
    first.zipWithIndex
      .flatMap { case (f, p) => f.map { case (key, row, xs) => (key, p, row, xs) } }
      .sorted(byKey(keyTypes).on[(InternalRow, Int, Int, Array[Double])](_._1).orElseBy(t => (t._2, t._3)))
      .take(k)
      .toSeq
      .zipWithIndex
      .map { case (t, cid) => CentroidN(cid, t._4) }

  /** One Lloyd step: the model after assign + mean, empty clusters
    * dropped, ascending cid.
    */
  private def step(blocks: RDD[Block], model: IndexedSeq[CentroidN]): Seq[CentroidN] = {
    val k = model.size
    val d = model.head.features.length
    val c = model.flatMap(_.features).toArray
    val sum = new Array[Double](k * d)
    val n = new Array[Long](k)
    // fold partials in partition-index order as they arrive, holding only
    // those that finish ahead of their turn
    val early = scala.collection.mutable.Map.empty[Int, Partial]
    var next = 0
    def merge(p: Int, part: Partial): Unit = {
      early(p) = part
      while (early.contains(next)) {
        for ((j, c, s) <- early.remove(next).get) {
          n(j) += c
          for (i <- 0 until d) sum(j * d + i) += s(i)
        }
        next += 1
      }
    }
    refusing(blocks.sparkContext.runJob(blocks, OnBlock(b => partial(b.coords, c, k, d)), merge _))
    (0 until k).filter(n(_) > 0).map { j =>
      CentroidN(model(j).cid, Array.tabulate(d)(i => sum(j * d + i) / n(j)))
    }
  }

  /** Argmin and (Σ, n) over one packed partition, for the clusters hit. */
  private[kmeans] def partial(xs: Array[Double], c: Array[Double], k: Int, d: Int): Partial =
    if (xs.isEmpty) Array.empty
    else {
      val sum = new Array[Double](k * d)
      val n = new Array[Long](k)
      var p = 0
      while (p < xs.length) {
        val j = NearestCentroid.nearest(xs, p, d, c, k, d)
        var i = 0
        while (i < d) { sum(j * d + i) += xs(p + i); i += 1 }
        n(j) += 1
        p += d
      }
      (0 until k).filter(n(_) > 0).map(j => (j, n(j), sum.slice(j * d, (j + 1) * d))).toArray
    }

  /** Surface a task's input refusal as itself, not as a stage failure. */
  private def refusing[T](job: => T): T =
    try job
    catch {
      case e: SparkException =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case r: IllegalArgumentException => r }.getOrElse(e)
    }
}
