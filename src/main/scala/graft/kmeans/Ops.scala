package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Each reference dataflow stage as a standalone, oracle-checkable
  * DataFrame operator (SURVEY.md §2). Operator ids (S1, P1, J1, A1–A4, X1,
  * L1–L2, C4) refer to the SURVEY.md §2 inventory rows.
  *
  * Scale notes (100 TB design):
  *   - Assignment (J1+A3) is shuffle-free: the K-row model rides as a
  *     runtime reference of one argmin node, a narrow per-row projection
  *     inside whole-stage codegen — the Spark analogue of the reference
  *     embedding the centroid list in every mapper RPC
  *     (`master.py:78-87`). No cross-join shuffle of N×K rows ever happens.
  *   - Update (A1+A2) is one partial+final hash aggregate: map-side combine
  *     reduces each task's output to ≤K rows before the exchange, so the
  *     shuffle moves O(K × partitions) rows regardless of input size.
  *   - Distances use `(a-b)*(a-b)` sums, never `pow`: IEEE multiply/add are
  *     exactly rounded, so Spark and the DuckDB oracle produce bit-identical
  *     distances from identical inputs (pow is not correctly rounded).
  */
object Ops {

  // ---------------------------------------------------------------------
  // S1 / P1: scans + parse projection
  // ---------------------------------------------------------------------

  /** S1: scan a header-less `x,y` CSV of points (reference `master.py:12-16`).
    * Adds a deterministic `pid` from file order — safe here because the scan
    * is single-file, matching the reference's driver-side read.
    */
  def readPointsCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(
      Seq(StructField("x", DoubleType), StructField("y", DoubleType)))
    spark.read
      .schema(schema)
      .option("mode", "DROPMALFORMED") // P2: malformed-row filter (`master.py:177-187`)
      .option("ignoreLeadingWhiteSpace", "true")  // points2/3 have ", " separators
      .option("ignoreTrailingWhiteSpace", "true")
      .csv(path)
      .withColumn("pid", monotonically_increasing_id())
      .select("pid", "x", "y")
  }

  /** Derive the canonical 2-D points view from the `lineitem` testdata table
    * (FIXTURES.md §C). `pid` is deterministic so the argmin oracle can
    * PARTITION BY it.
    */
  def pointsFromLineitem(lineitem: DataFrame): DataFrame =
    lineitem.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("pid"),
      col("l_extendedprice").cast("double").as("x"),
      (col("l_discount") * 100000).cast("double").as("y")
    )

  // ---------------------------------------------------------------------
  // L1: first-K centroid init
  // ---------------------------------------------------------------------

  /** L1: initial centroids = first K points in (deterministic) `pid` order,
    * cids 0..K-1 (reference `master.py:27-30` takes the first K file rows;
    * we order by the explicit pid to stay deterministic under parallel
    * scans — FIXTURES.md §C). `pid` may carry duplicates in the testdata,
    * so (x, y) join the sort key as tiebreakers: ties beyond that are
    * identical points, for which any order yields the same model.
    */
  def initFirstK(points: DataFrame, k: Int): DataFrame = {
    // the rank below runs AFTER limit(k), so it only ever sees K rows. The
    // partition key is constant-zero but NON-FOLDABLE (pmod over a data
    // column) — a literal key would be constant-folded out of the window
    // spec, putting WindowExec back on its unpartitioned warning path;
    // this keeps the same single-task K-row plan, declared partitioned.
    // The coalesce keeps a null pid in the one partition (pmod(null, 1)
    // is null, which would restart the rank at cid 0).
    val w = Window
      .partitionBy(pmod(coalesce(col("pid"), lit(0L)), lit(1)))
      .orderBy(col("pid"), col("x"), col("y"))
    points
      .orderBy(col("pid"), col("x"), col("y"))
      .limit(k)
      .withColumn("cid", (row_number().over(w) - 1).cast("int"))
      .select(col("cid"), col("x"), col("y"))
  }

  /** Collect a small centroid DataFrame to the driver (K rows — the model
    * state the reference keeps in the master's global list, `master.py:8-9`).
    */
  def collectCentroids(centroids: DataFrame): Seq[Centroid2] =
    centroids
      .select(col("cid").cast("int"), col("x").cast("double"), col("y").cast("double"))
      .collect()
      .map(r => Centroid2(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_.cid)
      .toSeq

  // ---------------------------------------------------------------------
  // J1 + A3: broadcast + argmin assignment
  // ---------------------------------------------------------------------

  /** Squared Euclidean distance between 2-D point columns — multiply/add
    * only (bit-reproducible across engines).
    */
  def dist2(px: Column, py: Column, cx: Column, cy: Column): Column =
    (px - cx) * (px - cx) + (py - cy) * (py - cy)

  /** J1+A3: assign each point to its nearest centroid; ties break to the
    * lowest cid (reference `mapper.py:26-29`: `list.index(min(...))`).
    *
    * Shuffle-free: the engine's one argmin node,
    * [[graft.expr.NearestCentroid]], over `array(x, y)` with the model as
    * a runtime reference; its fold `0.0 + dx² + dy²` is bit-identical to
    * [[dist2]]. A NaN distance ranks above every number, and a null
    * coordinate gives a null cid and dist2.
    *
    * Output: (pid, x, y, cid, dist2).
    */
  def assign(points: DataFrame, centroids: Seq[Centroid2]): DataFrame = {
    require(centroids.nonEmpty, "assign: empty centroid set")
    OpsN.withNearest(points, Seq("pid", "x", "y"),
      array(col("x").cast("double"), col("y").cast("double")),
      centroids.map(c => (c.cid, Array(c.x, c.y))))
  }

  /** J1 variant realized as an explicit broadcast cross join + window argmin
    * (the plan shape the reference literally implements: points × all K
    * centroids, then per-point min — SURVEY.md §2.3). Kept as the
    * oracle-shaped formulation (the `j1_crossjoin_assign` key); `assign`
    * is the engine's path at any K.
    */
  def assignCrossJoin(points: DataFrame, centroids: DataFrame): DataFrame = {
    val c = broadcast(
      centroids.select(
        col("cid").cast("int").as("cid"),
        col("x").as("cx"),
        col("y").as("cy")))
    // per-ROW argmin: pid is not guaranteed unique, so group by a generated
    // row id. Hash-aggregate min over struct(dist2, cid) beats a window
    // (no sort, partial agg before the exchange) and encodes the lowest-cid
    // tiebreak via lexicographic struct ordering.
    points
      .withColumn("rid", monotonically_increasing_id())
      .crossJoin(c)
      .withColumn("dist2", dist2(col("x"), col("y"), col("cx"), col("cy")))
      .groupBy(col("rid"))
      .agg(
        first(col("pid")).as("pid"),
        first(col("x")).as("x"),
        first(col("y")).as("y"),
        min(struct(col("dist2"), col("cid"))).as("best"))
      .select(col("pid"), col("x"), col("y"),
        col("best.cid").as("cid"), col("best.dist2").as("dist2"))
  }

  // ---------------------------------------------------------------------
  // A1 + A2 + A4: group-by-key + mean aggregation (centroid update)
  // ---------------------------------------------------------------------

  /** A1+A2+A4: new centroid per cluster = arithmetic mean of its members
    * (reference `reducer.py:108-132`). Clusters with no members don't
    * appear (Drop policy — `reducer.py:116-122`); the Lloyd loop re-adds
    * them under the Keep policy. One partial+final HashAggregate; the exchange
    * carries ≤ K rows per map task.
    *
    * Output: (cid, x, y, n).
    */
  def update(assigned: DataFrame): DataFrame =
    assigned
      .groupBy(col("cid"))
      .agg(avg(col("x")).as("x"), avg(col("y")).as("y"), count(lit(1)).as("n"))

  // ---------------------------------------------------------------------
  // C4: convergence check (id-joined — fixes SURVEY.md §4.3 defect 1)
  // ---------------------------------------------------------------------

  /** C4: max centroid movement, joined BY CLUSTER ID (the reference zips
    * positionally over nondeterministically ordered files, `master.py:32-41`,
    * which almost never converges; we keep the documented intent: every
    * centroid moved ≤ tol in Euclidean distance).
    */
  def maxMovement(oldC: Seq[Centroid2], newC: Seq[Centroid2]): Double = {
    val oldById = oldC.map(c => c.cid -> c).toMap
    newC.iterator.flatMap { n =>
      oldById.get(n.cid).map(o => math.sqrt(o.dist2To(n.x, n.y)))
    }.foldLeft(0.0)(math.max)
  }

  /** Whether two models are converged under tolerance `tol`: every surviving
    * cluster moved ≤ tol AND no cluster appeared/disappeared between
    * iterations.
    */
  def converged(oldC: Seq[Centroid2], newC: Seq[Centroid2], tol: Double): Boolean =
    oldC.map(_.cid).toSet == newC.map(_.cid).toSet &&
      maxMovement(oldC, newC) <= tol

  /** C4 as a DataFrame operator (oracle-expressible form): join old/new by
    * cid, emit per-cluster movement and the global max. Both sides are
    * ≤K-row model frames, so the join side is broadcast EXPLICITLY —
    * driver-built frames carry no size statistics, and without the hint
    * Catalyst plans a sort-merge join with two exchanges for K rows.
    */
  def movementDf(oldC: DataFrame, newC: DataFrame): DataFrame = {
    val o = oldC.select(col("cid"), col("x").as("ox"), col("y").as("oy"))
    val n = newC.select(col("cid"), col("x").as("nx"), col("y").as("ny"))
    o.join(broadcast(n), Seq("cid"))
      .select(
        col("cid"),
        sqrt(dist2(col("ox"), col("oy"), col("nx"), col("ny"))).as("movement"))
  }

  // ---------------------------------------------------------------------
  // X1: hash partitioning (exposed for inspection; implicit in groupBy)
  // ---------------------------------------------------------------------

  /** X1: the reference's `key % R` partitioner (`mapper.py:38-44`) as a
    * column, so tests/oracles can verify placement semantics. Spark's real
    * exchange uses Murmur3 — same correctness, different placement
    * (SURVEY.md §2.5); `pmod` reproduces the reference's modulo placement
    * for the RDD `HashPartitioner` equivalence.
    */
  def modPartition(assigned: DataFrame, numPartitions: Int): DataFrame =
    assigned.withColumn("partition", pmod(col("cid"), lit(numPartitions)))

  // ---------------------------------------------------------------------
  // P3: float32 wire-precision emulation
  // ---------------------------------------------------------------------

  /** P3: the reference's float32 precision funnel (protobuf `float` wire
    * format, `comm.proto:41,51-52`) as an explicit projection: round each
    * coordinate through FLOAT and back to DOUBLE. Engine default stays f64
    * (SURVEY.md §7.5); this is the bit-faithful emulation mode.
    */
  def castF32(points: DataFrame): DataFrame =
    points.select(
      col("pid"),
      col("x").cast("float").cast("double").as("x"),
      col("y").cast("float").cast("double").as("y"))

  // ---------------------------------------------------------------------
  // S3: contiguous input split
  // ---------------------------------------------------------------------

  /** S3: the reference's contiguous chunking (`master.py:44-62`): chunk
    * size = N div M, every chunk gets `size` consecutive rows in scan
    * order, the LAST chunk absorbs the remainder. Exposed as a `chunk`
    * column over the deterministic (pid, x, y) order; Spark's own
    * file-split planning replaces this at scale (SURVEY.md §2.1 S3).
    *
    * Scale: a global rank without a global window. The input is
    * range-partitioned on the sort key; per-partition row counts (one tiny
    * aggregate, ≤ one row per partition collected driver-side) give each
    * partition's cumulative start offset, and the global rank is that
    * offset plus a PER-PARTITION `row_number` — every task ranks only its
    * own slice, versus `Window.orderBy` with no partition spec, which
    * drags the entire dataset through one task. The total row count falls
    * out of the same aggregate, so callers don't pre-count.
    */
  def splitContiguous(points: DataFrame, m: Int): DataFrame = {
    require(m > 0, "m must be positive")
    // OpCaches-tracked: consumed eagerly by the count collect below AND by
    // the returned lazy plan, which must see the SAME (sample-based, hence
    // nondeterministic across jobs) range partitioning — release this
    // cache only after the returned frame materializes
    val ranged = graft.util.OpCaches.cache(
      points
        .repartitionByRange(col("pid"), col("x"), col("y"))
        .withColumn("_pidx", spark_partition_id()))
    val counts = ranged.groupBy(col("_pidx")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    if (counts.isEmpty)
      return points.withColumn("chunk", lit(0).cast("int"))
    val total = counts.map(_._2).sum
    val size = math.max(total / m, 1L)
    var acc = 0L
    val offsets = counts.map { case (p, c) => val o = (p, acc); acc += c; o }
    val offsetCol = element_at(
      map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }.toIndexedSeq: _*),
      col("_pidx"))
    // partitionBy keeps the rank local to each range partition (parallel);
    // range disjointness makes offset + local rank the global rank
    val w = Window.partitionBy(col("_pidx")).orderBy(col("pid"), col("x"), col("y"))
    ranged
      .withColumn("rn", row_number().over(w).cast("long") + offsetCol)
      .withColumn(
        "chunk",
        least(floor((col("rn") - 1) / size), lit(m - 1L)).cast("int"))
      .drop("rn", "_pidx")
  }

  // ---------------------------------------------------------------------
  // S9: final centroid sink
  // ---------------------------------------------------------------------

  /** S9: final sink — centroids at fixed 4-decimal formatting, one line
    * `x,y` per centroid, ordered by cid (the reference's `centroids.txt`
    * shape, `master.py:264-266`, with the nondeterministic order fixed).
    */
  def writeCentroids(centroids: Seq[Centroid2], path: String): Unit = {
    val lines = centroids.sortBy(_.cid).map(c => f"${c.x}%.4f,${c.y}%.4f")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes("UTF-8"))
  }
}
