package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.kmeans.{CentroidN, LloydN, OpsN}
import graft.util.{GenStore, OpCaches, SegmentStore}

/** Similarity search over embedding columns (`ARRAY<DOUBLE>`/`ARRAY<FLOAT>`):
  * brute-force cosine top-k as the exact baseline, a random-hyperplane
  * (sign-LSH) bucketed variant as the scale path, and embedding-cosine
  * near-duplicate pairs.
  *
  * Scale design (100 TB): brute force is O(|Q|·|C|) — fine when one side is
  * small enough to broadcast (queries here). The LSH path hashes each vector
  * to a B-bit sign signature under DETERMINISTIC pseudo-random hyperplanes
  * (components derived from md5, so plans are reproducible across runs and
  * engines with no RNG state), buckets on the signature, and searches only
  * within-bucket — trading recall for a bounded equality join. Hot paths are
  * higher-order functions over array columns (codegen'd, no UDFs).
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dot product of two ARRAY<DOUBLE> columns — codegen'd
    * [[graft.expr.ArrayDot]] (left fold, order-stable, bit-identical to
    * DuckDB's `list_sum(list_transform(...))`).
    */
  def dot(a: Column, b: Column): Column = graft.expr.ArrayVector.dot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding self-matches by id). Queries are broadcast;
    * ties break by ascending corpus id.
    * Input frames: (id, vec). Output: (qid, cid, sim, rank).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    // norms computed once per row BEFORE the join (bit-identical to
    // computing them per pair — same expression, evaluated once)
    val q = broadcast(
      queries.select(col("id").as("qid"), col("vec").as("qv"),
        norm(col("vec")).as("qn")))
    val c = corpus.select(col("id").as("cid"), col("vec").as("cv"),
      norm(col("vec")).as("cn"))
    val scored = c.crossJoin(q)
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1): derived
    * from the first 15 hex digits of md5("p,d"). No RNG state — the same
    * hyperplanes every run, reproducible in any engine with md5. Computed
    * driver-side once (they are constants) and inlined as plan literals, so
    * executors never hash.
    */
  def planeComponent(plane: Int, dim: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    val hex = digest.digest(s"$plane,$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (math.pow(2.0, 60.0) / 2.0) - 1.0
  }

  /** The B × d hyperplane matrix as driver-side constants. */
  def hyperplanes(bits: Int, d: Int): Array[Array[Double]] =
    Array.tabulate(bits, d)(planeComponent)

  /** B-bit sign-LSH signature of a vector: bit p = sign of <v, plane_p>.
    * The hyperplane rides in the plan as a literal array (K·d doubles);
    * each projection is the codegen'd [[graft.expr.ArrayDot]] left fold —
    * same evaluation order as `aggregate(zip_with(...))` (bit-identical
    * signs, so DuckDB-oracle-compatible) without B interpreted
    * higher-order functions per row.
    */
  def lshSignature(vec: Column, planes: Array[Array[Double]]): Column =
    concat(
      planes.map { plane =>
        val planeLit = graft.expr.ArrayVector.vecLit(plane.toIndexedSeq)
        when(dot(vec, planeLit) >= 0, lit("1")).otherwise(lit("0"))
      }.toSeq: _*)

  /** LSH-bucketed approximate top-k: search only within the query's bucket.
    * Lower recall, but the join is an equality join on the signature —
    * bounded work at any corpus size. Output: (qid, cid, sim, rank).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int,
      d: Int): DataFrame = {
    // a wrong or ragged d silently zeroes signatures (zip_with null-pads,
    // the fold goes null, every bit renders '0') and the bucket join
    // degrades toward all-pairs — validate EVERY row via one min/max
    // aggregate (a cheap metadata-only scan, vs the first-row-only probe
    // that let ragged corpora through)
    checkDims(corpus, d, "lshTopK")
    lshTopKWithBits(queries, corpus, k, bits, d)
  }

  /** [[lshTopK]] with `bits` derived from the corpus size via
    * [[sizedBitsPerBand]]: fixed bits leave per-query candidate volume at
    * n/2^bits (linear in the corpus); sizing holds each bucket at
    * ~`targetOccupancy` rows, so per-query work stays constant as the
    * corpus grows (recall drops with the narrower bucket — widen via
    * multi-probe or re-rank depth, never by letting buckets grow).
    */
  def lshTopKSized(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      d: Int,
      targetOccupancy: Long = 64L): DataFrame = {
    val stats = corpus
      .agg(min(size(col("vec"))), max(size(col("vec"))), count(lit(1)))
      .collect()(0)
    require(
      stats.isNullAt(0) || (stats.getInt(0) == d && stats.getInt(1) == d),
      s"lshTopKSized: d=$d but corpus vectors span " +
        s"[${stats.get(0)}, ${stats.get(1)}] dimensions")
    val bits = sizedBitsPerBand(stats.getLong(2), targetOccupancy)
    lshTopKWithBits(queries, corpus, k, bits, d)
  }

  private def lshTopKWithBits(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bits: Int,
      d: Int): DataFrame = {
    val planes = hyperplanes(bits, d)
    val sig = (df: DataFrame, idName: String, vecName: String, normName: String) =>
      df.select(
        col("id").as(idName),
        col("vec").as(vecName),
        norm(col("vec")).as(normName),
        lshSignature(col("vec"), planes).as("bucket"))
    val q = broadcast(sig(queries, "qid", "qv", "qn"))
    val c = sig(corpus, "cid", "cv", "cn")
    val scored = c.join(q, Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rank"))
  }

  /** IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    * with the engine's own k-means ([[fitQuantizer]], `nlist`
    * centroids), then search each query only against the `nprobe` nearest
    * cells. The standard billion-scale ANN layout: the corpus is
    * partitioned by cell once; each query touches nprobe/nlist of the
    * data. Recall degrades gracefully as nprobe shrinks.
    * Output: (qid, cid, sim, rank).
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    val pts = points(corpus)
    val model = fitQuantizer(pts, nlist, None)
    ivfProbeScore(queries, assignCells(pts, model), model, k, nprobe)
  }

  /** (id, vec) rows as the (pid, features) points the Lloyd core reads. */
  private def points(vectors: DataFrame): DataFrame =
    vectors.select(col("id").as("pid"), col("vec").as("features"))

  /** Lloyd iterations and sample cap of [[fitQuantizer]]. */
  private val QuantizerIters = 5
  private val QuantizerSample = 100000L

  /** The coarse-quantizer fit of every IVF build, [[ivfTopK]],
    * [[semDedup]] and [[knnJoin]]: [[QuantizerIters]] fixed Lloyd
    * iterations (no early stop: deterministic AND unrollable into an
    * exact SQL oracle, cf. [[graft.kmeans.LloydN.iterateN]]) on a
    * deterministic hash-sample of at most [[QuantizerSample]] points
    * (FAISS-style). Below the cap the sample IS the corpus, so
    * oracle-checked fixture runs are bit-identical to an uncapped fit.
    * `knownCount` forwards a corpus count the caller already ran.
    */
  private def fitQuantizer(
      pts: DataFrame, nlist: Int, knownCount: Option[Long]): Seq[CentroidN] =
    LloydN.iterateNSampled(pts, nlist, QuantizerIters, QuantizerSample, knownCount)

  /** Each point's cell under `model`, as the (cid_id, cv, cn, cell) rows
    * every IVF scan tier holds. The norm is computed here, below any
    * probe join, so it costs O(d) once per corpus row — not once per
    * (query-probe × corpus-row) candidate (same hoist as lshTopK's
    * signature projection).
    */
  private def assignCells(pts: DataFrame, model: Seq[CentroidN]): DataFrame =
    OpsN.assignN(pts, model)
      .select(col("pid").as("cid_id"), col("features").as("cv"),
        norm(col("features")).as("cn"), col("cid").as("cell"))

  /** The nprobe nearest cells of a query vector, nearest first, as
    * struct(d2, cell) (shared by the exact and quantized probe paths and
    * [[probeLegs]]): one [[graft.expr.NearestCells]] node.
    */
  private def probeCells(
      v: Column, model: Seq[CentroidN], nprobe: Int): Column =
    graft.expr.ArrayVector.nearestCells(v, model.map(c => (c.cid, c.features)), nprobe)

  /** The probe+score half of IVF search, shared by [[ivfTopK]] (inline
    * quantizer) and [[ivfTopKFromStore]] (persisted index): each query
    * explodes into its `nprobe` nearest cells ([[probeCells]]: the
    * O(nlist·d) model rides as a runtime reference of one node), the
    * exploded query side broadcasts, and scoring touches only the probed
    * cells' rows. `cells` must carry (cid_id, cv, cn, cell) with the norm
    * PREcomputed — from the store that means the norm is read, not
    * recomputed.
    */
  private def ivfProbeScore(
      queries: DataFrame,
      cells: DataFrame,
      model: Seq[CentroidN],
      k: Int,
      nprobe: Int): DataFrame = {
    val q = broadcast(
      queries
        .select(col("id").as("qid"), col("vec").as("qv"),
          norm(col("vec")).as("qn"),
          explode(probeCells(col("vec"), model, nprobe)).as("probe"))
        .select(col("qid"), col("qv"), col("qn"), col("probe.cell").as("cell")))
    val scored = cells.join(q, Seq("cell"))
      .filter(col("qid") =!= col("cid_id"))
      .withColumn("sim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid_id").as("cid"), col("sim"), col("rank"))
  }

  /** Persist an IVF index for [[ivfTopKFromStore]]: `path/centroids` holds
    * the quantizer (cell, cv — O(nlist) rows), `path/meta` the fit count
    * and nlist, and `path/cells` the assigned corpus (cid_id, cv, cn,
    * cell) as flat part-files with norms precomputed, so query time never
    * re-clusters, re-assigns, or re-norms — and never reads the original
    * embeddings table (plan-locked in PlanShapeSpec). The same split a
    * FAISS-style serving layout uses: build once, search many. The cells
    * are written by one uncached pass over the corpus.
    */
  def writeIvfIndex(corpus: DataFrame, nlist: Int, path: String): Unit = {
    val pts = points(corpus)
    buildIvf(pts, nlist, path, pts.count())
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  /** The prefix every IVF build shares: fit the quantizer on the `n`-row
    * corpus, write `centroids/` and `meta/` (`n` is the fit count that
    * [[appendToIvfIndex]]'s growth check compares against), and return
    * the corpus's cells rows ([[assignCells]]) for the caller to write.
    */
  private def buildIvf(
      pts: DataFrame, nlist: Int, path: String, n: Long): DataFrame = {
    val spark = pts.sparkSession
    import spark.implicits._
    val model = fitQuantizer(pts, nlist, Some(n))
    model.map(c => (c.cid, c.features.toSeq)).toDF("cell", "cv")
      .write.mode("overwrite").parquet(s"$path/centroids")
    Seq((n, nlist)).toDF("fit_count", "nlist")
      .write.mode("overwrite").parquet(s"$path/meta")
    assignCells(pts, model)
  }

  /** The scan tiers of the IVF store at `path`, each with how cells rows
    * ([[assignCells]]) are encoded into it under the STORED quantizer:
    * `cells` (the rows as they are) always, `cells_sq`
    * ([[quantizeCells]] with the stored bounds) when `quant/` exists,
    * and `cells_pq` ([[encodePq]] with the stored codebooks) when
    * `pq_meta/` exists. An encoder reads its quantizer only when called.
    * Every append, segment write, delete and compaction iterates this
    * list, so a tier cannot be left out of one of them.
    */
  private def ivfTiers(
      spark: SparkSession,
      path: String): Seq[(String, DataFrame => DataFrame)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq[(String, Option[String], DataFrame => DataFrame)](
      ("cells", None, rows => rows),
      ("cells_sq", Some("quant"), rows => {
        val (mins, maxs) = readSqBounds(spark, path)
        quantizeCells(rows, mins, maxs)
      }),
      ("cells_pq", Some("pq_meta"), rows => {
        val (m, _, dsub) = readPqMeta(spark, path)
        encodePq(rows, readPqCodebooks(spark, path, m), dsub)
      }))
      .collect {
        case (tier, meta, encode) if meta.forall(d => fs.exists(new Path(s"$path/$d"))) =>
          tier -> encode
      }
  }

  /** Append a new batch to an existing IVF index: the batch is assigned
    * with the STORED quantizer (centroids are immutable post-build — the
    * standard IVF serving contract; rebuild via [[writeIvfIndex]] when
    * distribution drift warrants), encoded into every scan tier
    * ([[ivfTiers]]), and appended to each tier's active generation. The
    * daily loop of a growing ANN corpus: O(batch) assignment work, the
    * existing index is never rewritten. Exactly-once is the caller's
    * contract (a re-run of the same batch appends duplicates), same as
    * [[graft.dedup.Dedup.appendToSignatureStore]].
    *
    * '''Refit discipline.''' The stored quantizer only fits the
    * distribution and density it was trained on: once appends grow the
    * index well past the fit-time corpus, per-cell occupancy multiplies
    * and every probe's within-cell scan creeps back toward the
    * fixed-parameter saturation the sized operators exist to avoid —
    * silently, because the index still "works". So each append compares
    * the post-append row count against the fit count recorded by
    * [[writeIvfIndex]] (`path/meta`): past 4× (FAISS lore says re-train
    * somewhere around 2–10× growth) it WARNS, naming the remedy — re-run
    * [[writeIvfIndex]] to refit on the grown corpus — and still appends.
    * Indexes written before `meta` existed skip the check (logged).
    */
  def appendToIvfIndex(newVectors: DataFrame, path: String): Unit = {
    val spark = newVectors.sparkSession
    val rows = assignBatch(newVectors, path)
    // counting the cached batch also pins it for the writes below
    checkIvfGrowth(spark, path, rows.count())
    for ((tier, encode) <- ivfTiers(spark, path))
      encode(rows).write.mode("append")
        .parquet(GenStore.resolve(spark, s"$path/$tier"))
    OpCaches.releaseAll(spark)
  }

  /** One micro-batch of [[graft.streaming.StreamOps.runStreamingIvfAppend]]
    * — [[appendToIvfIndex]]'s streaming sibling, deterministic and
    * IDEMPOTENT in (batch contents, segment name, store state): every
    * tier's rows land by `overwrite` into a per-batch SEGMENT directory
    * (`<tier-generation>/<segment>/`), so an at-least-once foreachBatch
    * replay rewrites identical bytes instead of double-appending — the
    * same replay discipline as the signature store's streaming runner.
    * The quantizer must already exist (streaming into an unbuilt index
    * has no assignment basis and fails fast). No growth check runs per
    * segment. [[compactIvfCells]] folds segment buildup back into flat
    * files.
    */
  private[graft] def appendIvfSegment(
      batch: DataFrame, path: String, segment: String): Unit = {
    require(!segment.startsWith("_") && !segment.contains("/"),
      s"bad segment name: $segment")
    val spark = batch.sparkSession
    val rows = assignBatch(batch, path)
    for ((tier, encode) <- ivfTiers(spark, path))
      encode(rows).write.mode("overwrite")
        .parquet(s"${GenStore.resolve(spark, s"$path/$tier")}/$segment")
    OpCaches.releaseAll(spark)
  }

  /** A batch's cells rows under the stored quantizer, cached: every scan
    * tier encodes from them.
    */
  private def assignBatch(batch: DataFrame, path: String): DataFrame =
    OpCaches.cache(
      assignCells(points(batch), readIvfCentroids(batch.sparkSession, path)))

  /** The growth past the fit count at which [[appendToIvfIndex]] warns. */
  private val MaxGrowth = 4.0

  /** [[appendToIvfIndex]]'s growth check: post-append rows vs the fit
    * count recorded in `meta/`. The fit count is a one-row read; the
    * index's rows come from the cells tier's parquet footers minus its
    * tombstone rows ([[graft.util.SegmentStore.footerRowCount]]), read
    * on the driver, so the check costs no job that grows with the index.
    * That count is the live count unless a delete named an absent or
    * already-deleted id (then it is low) or an id held by several rows
    * (then high): close enough for a warning threshold.
    */
  private def checkIvfGrowth(
      spark: SparkSession, path: String, batchCount: Long): Unit = {
    val metaPath = new Path(s"$path/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath)) {
      log.warn(s"IVF index at $path has no meta (pre-refit-check layout); " +
        "growth vs fit cannot be checked — rebuild with writeIvfIndex to " +
        "record the fit count")
    } else {
      val fitCount = SegmentStore.parquet(spark, s"$path/meta")
        .select(col("fit_count")).head().getLong(0)
      val afterAppend =
        SegmentStore.footerRowCount(spark, s"$path/cells") + batchCount
      if (fitCount > 0 && afterAppend > MaxGrowth * fitCount)
        log.warn(s"IVF index at $path has grown to $afterAppend rows, > " +
          f"$MaxGrowth%.1fx its fit-time corpus of $fitCount rows: " +
          "cell occupancy is drifting past what the stored quantizer was " +
          "trained for (probe cost rises with the largest cells). Refit " +
          "with writeIvfIndex on the grown corpus.")
    }
  }

  /** DELETE vectors from an IVF index — the takedown leg of the
    * index's log-structured CRUD (build / [[appendToIvfIndex]] /
    * delete / [[compactIvfCells]]), the FAISS `remove_ids` shape: a
    * physical rewrite per takedown batch is an O(index) job, this is
    * O(batch). The deleted ids land as a tombstone segment
    * ([[graft.util.Tombstones]]) inside EACH scan tier's active
    * generation ([[ivfTiers]]), and every probe path anti-joins its
    * tier's tombstones before scoring, so a deleted vector can never
    * surface in a result or displace a live candidate from the re-rank
    * buffer. The next [[compactIvfCells]] folds each tier's tombstones
    * away physically. The quantizer is untouched (centroids are
    * immutable post-build — the same serving contract as appends);
    * mass deletions drift cell occupancy just as mass appends do, so
    * the [[appendToIvfIndex]] refit discipline applies in reverse:
    * refit with [[writeIvfIndex]] when the live corpus has shrunk far
    * from the fit. Idempotent — re-deleting an absent id hides
    * nothing. Single-writer vs compaction, as with appends.
    */
  def deleteFromIvfIndex(
      spark: SparkSession,
      path: String,
      ids: DataFrame): Unit =
    for ((tier, _) <- ivfTiers(spark, path))
      SegmentStore.delete(spark, s"$path/$tier", ids)

  /** Compact an IVF index's scan tiers ([[ivfTiers]]) after a season of
    * appends, streaming segments and deletes — each daily append adds a
    * handful of small parquet files, and the probe-time scan eventually
    * pays more in listing + footers than bytes; the signature store has
    * the same maintenance pass
    * ([[graft.dedup.Dedup.compactSignatureStore]]). Each tier is read
    * with its segments and tombstones folded in and rewritten as
    * ⌈rows / targetFileRows⌉ flat files ([[graft.util.SegmentStore.compactFlat]]).
    * The quantizer, meta, and search results are untouched (asserted in
    * SimilaritySpec). The rewrite lands in a new generation directory
    * and the tier's manifest is repointed atomically
    * ([[graft.util.GenStore.compactInto]]): ATOMIC FOR READERS — a
    * mid-query reader keeps its resolved generation's complete file
    * set for one further compaction cycle. Writers stay single-writer:
    * no concurrent appends during compaction.
    */
  def compactIvfCells(
      spark: SparkSession,
      path: String,
      targetFileRows: Long = 4L * 1024 * 1024): Unit = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    for ((tier, _) <- ivfTiers(spark, path)) {
      val store = s"$path/$tier"
      SegmentStore.compactFlat(
        spark, store, SegmentStore.read(spark, store, "cid_id"), targetFileRows)
    }
  }

  // -------------------------------------------------------------------
  // Scalar-quantized (SQ8) IVF tier — the 100 TB memory story
  // -------------------------------------------------------------------

  /** Per-dimension SQ8 step widths; a constant dimension gets step 1 so
    * its codes are 0 and decode EXACTLY to the stored minimum.
    */
  private def sqDeltas(mins: Seq[Double], maxs: Seq[Double]): Seq[Double] =
    mins.lazyZip(maxs).map((mn, mx) => if (mx > mn) (mx - mn) / 255.0 else 1.0)

  /** SQ8-encode exact cell rows: code_i = clamp(round((v_i − min_i) /
    * Δ_i), 0, 255) − 128, stored as ARRAY<TINYINT> — 1 byte per
    * dimension against the exact tier's 8 (plus parquet level overhead;
    * the measured on-disk ratio is asserted in IvfSqSpec). The encode
    * transform is a build/append-time one-off, never on the query path.
    */
  private def quantizeCells(
      cells: DataFrame, mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    val minsLit = graft.expr.ArrayVector.vecLit(mins)
    val deltasLit = graft.expr.ArrayVector.vecLit(sqDeltas(mins, maxs))
    cells.select(
      col("cid_id"),
      col("cn"),
      col("cell"),
      transform(col("cv"), (v, i) =>
        (least(
          greatest(
            round((v - element_at(minsLit, i + 1)) / element_at(deltasLit, i + 1)),
            lit(0.0)),
          lit(255.0)) - 128.0).cast("tinyint")).as("qv"))
  }

  private def readSqBounds(
      spark: SparkSession,
      path: String): (Seq[Double], Seq[Double]) = {
    val row = SegmentStore.parquet(spark, s"$path/quant").collect()(0)
    (row.getSeq[Double](row.fieldIndex("mins")),
      row.getSeq[Double](row.fieldIndex("maxs")))
  }

  /** [[writeIvfIndex]] plus a SCALAR-QUANTIZED scan tier — the layout
    * for corpora whose raw embeddings dwarf storage/cache budgets. At
    * 100 TB of float64 embeddings the IVF cells ARE the index cost;
    * SQ8 stores each component as one byte (`cells_sq/`:
    * (cid_id, cell, cn, qv ARRAY<TINYINT>) + `quant/` per-dimension
    * bounds), an ~8× raw reduction, while the exact tier (`cells/`)
    * is kept for candidate re-ranking and for [[ivfTopKFromStore]]
    * compatibility. Queries run [[ivfTopKFromStoreSq]]: probe the
    * QUANTIZED tier (the full-cell scans), then re-rank only the top
    * `rerank` candidates per query against exact vectors — the
    * FAISS `IndexIVFScalarQuantizer` + refine shape.
    *
    * The per-dimension bounds come from the build corpus (one
    * build-time explode+aggregate pass); appends encode with the
    * STORED bounds, clamped — the same quantizer-immutability contract
    * as the centroids, with the same [[appendToIvfIndex]] refit
    * discipline when the corpus drifts.
    */
  def writeIvfIndexSq(corpus: DataFrame, nlist: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = points(corpus)
    val cells = OpCaches.cache(buildIvf(pts, nlist, path, pts.count()))
    cells.write.mode("overwrite").parquet(s"$path/cells")
    val bounds = cells
      .select(posexplode(col("cv")).as(Seq("i", "v")))
      .groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .orderBy(col("i")).collect()
    val mins = bounds.map(_.getDouble(1)).toSeq
    val maxs = bounds.map(_.getDouble(2)).toSeq
    Seq((mins, maxs)).toDF("mins", "maxs")
      .write.mode("overwrite").parquet(s"$path/quant")
    quantizeCells(cells, mins, maxs)
      .write.mode("overwrite").parquet(s"$path/cells_sq")
    OpCaches.releaseAll(spark)
  }

  /** [[ivfTopKFromStore]] against the QUANTIZED tier of a
    * [[writeIvfIndexSq]] store, with exact re-rank.
    *
    * Plan shape: the probed cells' SQ8 codes are scanned and scored
    * with the codegen'd [[graft.expr.ArrayDot]] — the decode never
    * materializes, because dot(q, decode(b)) algebraically splits into
    * per-QUERY constants plus dot(qΔ, codes):
    * Σ qᵢ(minᵢ + Δᵢ(bᵢ+128)) = dot(q, mins) + 128·Σ qᵢΔᵢ + dot(qΔ, b),
    * where qΔᵢ = qᵢ·Δᵢ rides the broadcast query row. The top `rerank`
    * candidates per query (approx-sim order, deterministic id
    * tiebreak) then join the EXACT tier on (cell, cid_id)
    * ([[rerankExact]]), and the final top-k uses exact cosine with the
    * plain path's exact ordering.
    *
    * CONTRACT: output equals [[ivfTopKFromStore]] whenever each true
    * within-probe top-k candidate ranks inside `rerank` by quantized
    * score (IvfSqSpec asserts equality on the fixture corpus; the
    * default depth 4·k makes a swap past it a ~4σ quantization-error
    * event). Recall vs exact search is governed by nprobe exactly as
    * in the plain path.
    */
  def ivfTopKFromStoreSq(
      queries: DataFrame,
      path: String,
      k: Int,
      nprobe: Int,
      rerank: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val model = readIvfCentroids(spark, path)
    require(nprobe >= 1 && nprobe <= model.size,
      s"need 1 <= nprobe <= ${model.size} (stored nlist)")
    val depth = if (rerank > 0) rerank else 4 * k
    require(depth >= k, s"rerank depth $depth < k=$k")
    val (mins, maxs) = readSqBounds(spark, path)
    val deltasLit = graft.expr.ArrayVector.vecLit(sqDeltas(mins, maxs))
    val minsLit = graft.expr.ArrayVector.vecLit(mins)
    // broadcast query prep: qΔ and the per-query constant live on the
    // tiny side; HOFs here run once per query row, never per cell row
    val q = broadcast(
      queries
        .select(col("id").as("qid"), col("vec").as("qvec"),
          norm(col("vec")).as("qn"),
          zip_with(col("vec"), deltasLit, (a, b) => a * b).as("qdelta"),
          explode(probeCells(col("vec"), model, nprobe)).as("probe"))
        .select(col("qid"), col("qvec"), col("qn"), col("qdelta"),
          (graft.expr.ArrayVector.dot(col("qvec"), minsLit) +
            lit(128.0) * aggregate(col("qdelta"), lit(0.0), (acc, x) => acc + x))
            .as("qconst"),
          col("probe.cell").as("cell")))
    // the tier read filters delete tombstones BEFORE the approximate
    // ranking, so a deleted vector can't occupy one of the `depth`
    // re-rank slots (and absorbs streaming segments)
    val cellsSq = SegmentStore.read(spark, s"$path/cells_sq", "cid_id")
    val approx = cellsSq.join(q, Seq("cell"))
      .filter(col("qid") =!= col("cid_id"))
      .withColumn("adot",
        col("qconst") + graft.expr.ArrayVector.dot(
          col("qdelta"), col("qv").cast("array<double>")))
      .withColumn("asim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(col("adot") / (col("qn") * col("cn"))))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("asim").desc, col("cid_id"))
    val cand = approx
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= depth)
      .select(col("qid"), col("cell"), col("cid_id"),
        col("qvec"), col("qn"))
    rerankExact(spark, path, cand, k)
  }

  /** Exact re-rank shared by the SQ and PQ probe paths: the
    * O(queries · rerank) candidates join the exact tier on
    * (cell, cid_id) — one scan of the flat exact tier, its segments and
    * tombstones folded in — and only they are scored with exact cosine.
    * `cand` must carry (qid, cell, cid_id, qvec, qn).
    */
  private def rerankExact(
      spark: SparkSession,
      path: String,
      cand: DataFrame,
      k: Int): DataFrame = {
    val exact = SegmentStore.read(spark, s"$path/cells", "cid_id")
      .select(col("cell"), col("cid_id"), col("cv"), col("cn"))
    val rer = cand.join(exact, Seq("cell", "cid_id"))
      .withColumn("sim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(dot(col("qvec"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid_id"))
    rer
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid_id").as("cid"), col("sim"), col("rank"))
  }

  // -------------------------------------------------------------------
  // Product-quantized (PQ) IVF tier — sub-byte-per-dim compression
  // -------------------------------------------------------------------

  /** Codebooks in [[graft.expr.PqEncode]]'s flattened form: per
    * subspace, surviving (id, vector) entries sorted by id (the sort is
    * what gives the encoder its lowest-id tiebreak).
    */
  private def pqBooks(
      codebooks: IndexedSeq[Seq[CentroidN]])
      : IndexedSeq[Seq[(Int, Array[Double])]] =
    codebooks.map(_.sortBy(_.cid).map(c => c.cid -> c.features))

  /** PQ-encode exact cell rows against per-subspace codebooks: for each
    * of the `m` subspaces, the code is the argmin sub-centroid id
    * (lowest-id tiebreak), stored −128 as one TINYINT — m bytes per
    * vector against the exact tier's 8·d (e.g. 64× raw at d=64, m=8,
    * vs SQ8's 8×). The whole m-subspace argmin is ONE codegen'd
    * [[graft.expr.PqEncode]] node — a per-candidate `least/when`
    * formulation builds m·ksub expression nodes (2048 at the 8-bit
    * default) whose plan analysis dominates the build. Build/append-
    * time one-off, never on the query path.
    */
  private def encodePq(
      cells: DataFrame,
      codebooks: IndexedSeq[Seq[CentroidN]],
      dsub: Int): DataFrame =
    cells.select(
      col("cid_id"), col("cn"), col("cell"),
      graft.expr.ArrayVector.pqEncode(col("cv"), pqBooks(codebooks), dsub)
        .as("pqcode"))

  /** Fit all `m` subspace codebooks JOINTLY — one corpus pass per Lloyd
    * iteration, not per (subspace × iteration): the assignment step for
    * every subspace is a single [[graft.expr.PqEncode]] projection, and
    * the update step one (sub, cid, dim) mean aggregation collected to
    * the driver (m·ksub·dsub rows — 16k doubles at the defaults).
    * Training m separate [[graft.kmeans.LloydN]] fits would scan the
    * corpus m·[[QuantizerIters]] times (the 100-TB non-starter) and pay
    * m independent job chains; this shape costs [[QuantizerIters]]
    * scans total, the same discipline as the engine's own Lloyd loop.
    * Semantics match the per-subspace fits: first-ksub init in id order
    * (every subspace initializes from the same sampled rows), argmin
    * with lowest-id tiebreak, mean update, empty sub-cells drop. The fit
    * trains on a deterministic hash-sample of
    * ≤ max([[QuantizerSample]], ksub·39) rows (FAISS-style floor, as
    * [[graft.kmeans.LloydN.iterateNSampled]]).
    */
  private def fitPqCodebooks(
      cells: DataFrame,
      m: Int,
      dsub: Int,
      ksub: Int,
      knownCount: Long): IndexedSeq[Seq[CentroidN]] = {
    val effectiveCap = math.max(
      QuantizerSample, ksub.toLong * LloydN.minPointsPerCentroid)
    val pts0 = cells.select(col("cid_id").as("pid"), col("cv"))
    val pts =
      if (knownCount <= effectiveCap) pts0
      else pts0.filter(
        graft.text.TextOps.hashUniform(col("pid"), "qfit")
          < effectiveCap.toDouble / knownCount.toDouble)
    val initRows = pts.orderBy(col("pid")).limit(ksub)
      .select(col("cv")).collect()
      .map(_.getSeq[Double](0).toArray)
    var books: IndexedSeq[Seq[CentroidN]] = (0 until m).map { j =>
      initRows.toSeq.zipWithIndex.map { case (v, i) =>
        CentroidN(i, v.slice(j * dsub, j * dsub + dsub))
      }
    }
    for (_ <- 0 until QuantizerIters) {
      val assigned = pts.select(
        col("cv"),
        posexplode(
          graft.expr.ArrayVector.pqEncode(col("cv"), pqBooks(books), dsub))
          .as(Seq("sub", "code")))
      val means = assigned
        .select(col("sub"), (col("code").cast("int") + 128).as("scid"),
          posexplode(slice(col("cv"), col("sub") * dsub + 1, lit(dsub)))
            .as(Seq("dim", "v")))
        .groupBy(col("sub"), col("scid"), col("dim"))
        .agg(avg(col("v")).as("mv"))
        .collect()
      books = (0 until m).map { j =>
        means.filter(_.getInt(0) == j).groupBy(_.getInt(1)).toSeq
          .map { case (cid, rows) =>
            val vec = new Array[Double](dsub)
            rows.foreach(r => vec(r.getInt(2)) = r.getDouble(3))
            CentroidN(cid, vec)
          }
          .sortBy(_.cid)
      }
    }
    books
  }

  private def readPqMeta(
      spark: SparkSession,
      path: String): (Int, Int, Int) = {
    val row = SegmentStore.parquet(spark, s"$path/pq_meta").collect()(0)
    (row.getInt(row.fieldIndex("m")),
      row.getInt(row.fieldIndex("ksub")),
      row.getInt(row.fieldIndex("dsub")))
  }

  /** Per-subspace codebooks, indexed by subspace. Possibly fewer than
    * ksub entries per subspace (the fit drops empty sub-cells, matching
    * the engine's k-means semantics) — codes only ever reference
    * surviving ids, and the LUT leaves missing slots at 0.
    */
  private def readPqCodebooks(
      spark: SparkSession,
      path: String,
      m: Int): IndexedSeq[Seq[CentroidN]] = {
    val rows = SegmentStore.parquet(spark, s"$path/pq_codebooks").collect()
      .map(r => (r.getInt(r.fieldIndex("sub")),
        CentroidN(
          r.getInt(r.fieldIndex("cell")),
          r.getSeq[Double](r.fieldIndex("cv")).toArray)))
      .groupBy(_._1)
    (0 until m).map(j =>
      rows.getOrElse(j, Array.empty).map(_._2).sortBy(_.cid).toSeq)
  }

  /** [[writeIvfIndex]] plus a PRODUCT-QUANTIZED scan tier — the layout
    * past SQ8's reach: where SQ8 stores one byte per DIMENSION, PQ
    * stores one byte per SUBSPACE (`m` bytes per vector — 64× raw at
    * d=64/m=8), the IVF-ADC layout of Jégou et al. (TPAMI 2011) and
    * FAISS `IndexIVFPQ`. Each of the `m` subspaces gets its own
    * `ksub`-centroid codebook (default 256 — the standard 8-bit PQ;
    * smaller codebooks compress no further here since codes ship as
    * one byte either way, they only lose reconstruction accuracy), fit
    * by the engine's own k-means on the build corpus — all subspaces
    * JOINTLY, one corpus pass per iteration, with the same FAISS-style
    * sample cap as the coarse quantizer; codes are argmin sub-centroid
    * ids. The
    * exact tier (`cells/`) is kept for candidate re-ranking and
    * [[ivfTopKFromStore]] compatibility; `pq_codebooks/` + `pq_meta/`
    * make the store self-describing. Queries run
    * [[ivfTopKFromStorePq]]. Codebooks are immutable post-build —
    * appends encode with the STORED codebooks under
    * [[appendToIvfIndex]]'s refit discipline.
    */
  def writeIvfIndexPq(
      corpus: DataFrame,
      nlist: Int,
      path: String,
      m: Int = 8,
      ksub: Int = 256): Unit = {
    require(m > 0, s"m=$m")
    require(ksub > 0 && ksub <= 256, s"ksub=$ksub out of (0, 256]")
    val spark = corpus.sparkSession
    import spark.implicits._
    val pts = points(corpus)
    // ONE scan for corpus count + dimensionality (was a count() job plus
    // a separate head() job, r19); min(size) rides in the same buffers
    // so RAGGED input is refused loudly here instead of surfacing later
    // as an opaque slicing error (the old first-row probe silently
    // depended on scan order; max alone would silently pick the widest)
    val statsRow = pts.agg(
      count(lit(1)), max(size(col("features"))), min(size(col("features"))))
      .head()
    val n = statsRow.getLong(0)
    // loud degenerate-input refusal (n is already counted — no extra
    // job): the dimension read below would otherwise be a null get on
    // an empty corpus
    require(n > 0,
      "writeIvfIndexPq: empty corpus at fit time — cannot fit the " +
        "quantizer or PQ codebooks (need >= 1 vector)")
    val d = statsRow.getInt(1)
    require(statsRow.getInt(2) == d,
      s"writeIvfIndexPq: ragged vector dimensions (min ${statsRow.getInt(2)}" +
        s", max $d) — PQ subspace slicing needs uniform dimensionality")
    require(d % m == 0, s"dim $d not divisible into m=$m subspaces")
    val dsub = d / m
    val cells = OpCaches.cache(buildIvf(pts, nlist, path, n))
    cells.write.mode("overwrite").parquet(s"$path/cells")
    // per-subspace codebooks, fit JOINTLY: one corpus pass per Lloyd
    // iteration covers all m subspaces (see fitPqCodebooks)
    val codebooks = fitPqCodebooks(cells, m, dsub, ksub, n)
    codebooks.zipWithIndex
      .flatMap { case (cb, j) => cb.map(c => (j, c.cid, c.features.toSeq)) }
      .toDF("sub", "cell", "cv")
      .write.mode("overwrite").parquet(s"$path/pq_codebooks")
    Seq((m, ksub, dsub)).toDF("m", "ksub", "dsub")
      .write.mode("overwrite").parquet(s"$path/pq_meta")
    encodePq(cells, codebooks, dsub)
      .write.mode("overwrite").parquet(s"$path/cells_pq")
    OpCaches.releaseAll(spark)
  }

  /** [[ivfTopKFromStore]] against the PQ tier of a [[writeIvfIndexPq]]
    * store, with exact re-rank — the FAISS `IndexIVFPQ` + refine shape.
    *
    * Plan shape: each query precomputes ONE flattened lookup table
    * (m·ksub doubles, subspace-major): lut[j·ksub + c] =
    * dot(q_subⱼ, codebookⱼ[c]). The LUT rides the broadcast query row,
    * so the probed cells' scan is a pure table-lookup accumulate —
    * the codegen'd [[graft.expr.PqAdcDot]], m adds per candidate
    * regardless of d; the reconstruction never materializes. The top
    * `rerank` candidates per query (approx order, deterministic id
    * tiebreak) then re-rank against the exact tier, exactly as the SQ
    * path.
    *
    * CONTRACT: output equals [[ivfTopKFromStore]] whenever each true
    * within-probe top-k candidate ranks inside `rerank` by ADC score —
    * a RECALL property, not a theorem: PQ codes are coarser than SQ8
    * (whole subspaces quantize to one of ksub prototypes), and at the
    * 8·k default depth larger corpora measurably push true neighbors
    * below the buffer (first observed at sf0.1, 2000 vectors / ~500
    * probed: 5 of 10 query lists missed true top-5 rows — FAISS
    * IndexIVFPQ+refine behaves the same way; k_factor is the knob).
    * Equality is GUARANTEED only when `rerank` covers the whole probed
    * set (depth ≥ Σ probed-cell sizes): the ADC order then cannot drop
    * anything before the exact re-rank. `rerank = CoverProbed` derives
    * that depth STRUCTURALLY from the store itself — the sum of the
    * `nprobe` largest LIVE cell populations (tombstones folded), an
    * upper bound on any query's probed set at ANY corpus size — which
    * is the form the correctness gate pins and IvfPqSpec asserts (a
    * hand-pinned constant was the r13→r15 sleeper: right at the SFs it
    * was measured on, silently a recall property one SF later). Recall
    * at serving depths is governed by nprobe/rerank as in FAISS, and
    * is the trade the PQ tier exists to make.
    * One PQ-specific caveat: rows appended from OUTSIDE the build
    * distribution reconstruct poorly (codebooks only span their
    * training region — there is no SQ-style clamp granularity) and can
    * under-rank in ADC until a refit; [[appendToIvfIndex]]'s
    * growth/refit discipline is the guard, and drift-heavy ingest
    * should refit sooner than the count-based default suggests.
    */
  /** Sentinel for [[ivfTopKFromStorePq]]'s `rerank`: derive a re-rank
    * depth that covers the whole probed set from the store's live cell
    * populations (equality-with-exact by construction, at any SF).
    */
  val CoverProbed: Int = -1

  /** The structural coverage bound behind [[CoverProbed]]: Σ of the
    * `nprobe` largest live cell populations in the PQ tier (read
    * through [[graft.util.SegmentStore.read]], so appends and delete
    * tombstones are folded). No query's probed set can exceed it, so an ADC
    * preselection of this depth passes EVERY probed candidate to the
    * exact re-rank. Costs one O(tier) count + an O(nlist) TakeOrdered —
    * a harness/audit price; production approximate serving keeps the
    * fixed FAISS-style depth and buys recall, not equality.
    */
  private[graft] def coveredRerankDepth(
      spark: SparkSession,
      path: String,
      nprobe: Int,
      k: Int): Int = {
    val top = SegmentStore.read(spark, s"$path/cells_pq", "cid_id")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("cell")).limit(nprobe)
      .agg(coalesce(sum(col("n")), lit(0L)))
      .collect()(0).getLong(0)
    math.max(k.toLong, top).min(Int.MaxValue.toLong).toInt
  }

  def ivfTopKFromStorePq(
      queries: DataFrame,
      path: String,
      k: Int,
      nprobe: Int,
      rerank: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val model = readIvfCentroids(spark, path)
    require(nprobe >= 1 && nprobe <= model.size,
      s"need 1 <= nprobe <= ${model.size} (stored nlist)")
    val depth =
      if (rerank == CoverProbed) coveredRerankDepth(spark, path, nprobe, k)
      else if (rerank > 0) rerank
      else 8 * k
    require(depth >= k, s"rerank depth $depth < k=$k")
    val (m, ksub, dsub) = readPqMeta(spark, path)
    val codebooks = readPqCodebooks(spark, path, m)
    // the query LUT: ONE codegen'd PqLut node building all m·ksub
    // sub-dots — O(d·ksub) work once per QUERY, never per candidate;
    // dropped sub-cells leave their slot 0 (never referenced). The
    // per-slot CreateArray formulation (m·ksub dot nodes) dominated
    // plan analysis at the 8-bit default.
    val lutCol = graft.expr.ArrayVector.pqLut(
      col("vec"), pqBooks(codebooks), dsub, ksub)
    val q = broadcast(
      queries
        .select(col("id").as("qid"), col("vec").as("qvec"),
          norm(col("vec")).as("qn"), lutCol.as("lut"),
          explode(probeCells(col("vec"), model, nprobe)).as("probe"))
        .select(col("qid"), col("qvec"), col("qn"), col("lut"),
          col("probe.cell").as("cell")))
    // same pre-ranking tombstone/segment handling as the SQ tier
    val cellsPq = SegmentStore.read(spark, s"$path/cells_pq", "cid_id")
    val approx = cellsPq.join(q, Seq("cell"))
      .filter(col("qid") =!= col("cid_id"))
      .withColumn("adot",
        graft.expr.ArrayVector.pqAdc(col("pqcode"), col("lut"), ksub))
      .withColumn("asim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(col("adot") / (col("qn") * col("cn"))))
    val wApprox = Window.partitionBy(col("qid"))
      .orderBy(col("asim").desc, col("cid_id"))
    val cand = approx
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= depth)
      .select(col("qid"), col("cell"), col("cid_id"),
        col("qvec"), col("qn"))
    rerankExact(spark, path, cand, k)
  }

  private def readIvfCentroids(
      spark: SparkSession,
      path: String): Seq[CentroidN] = {
    val model = SegmentStore.parquet(spark, s"$path/centroids")
      .collect()
      .map(r => CentroidN(
        r.getInt(r.fieldIndex("cell")),
        r.getSeq[Double](r.fieldIndex("cv")).toArray))
      .sortBy(_.cid)
      .toSeq
    require(model.nonEmpty, s"empty IVF centroid store at $path/centroids")
    model
  }

  /** [[ivfTopK]] against a PERSISTED index written by [[writeIvfIndex]]:
    * identical output (same quantizer, same probe policy — asserted in
    * SimilaritySpec), but the corpus embeddings are never touched.
    *
    * Read path, with no metadata job: `centroids/` is collected once
    * (O(nlist) driver rows, one job; they re-enter the plan as the probe
    * node's model, exactly as in the inline path), and the cells tier is
    * read with its schema from a footer
    * ([[SegmentStore.parquet]]), streaming segments and delete
    * tombstones folded in. The scoring query reads only
    * (cid_id, cv, cn, cell) from the store. A warm request runs 4 jobs:
    * the centroids collect and the scoring query's 3 (broadcast query
    * side, window shuffle, result). Nothing is cached between requests,
    * so appends, deletes and compactions are seen by the next request.
    */
  def ivfTopKFromStore(
      queries: DataFrame,
      path: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    val model = readIvfCentroids(spark, path)
    require(nprobe >= 1 && nprobe <= model.size,
      s"need 1 <= nprobe <= ${model.size} (stored nlist)")
    // streaming segments absorbed, delete tombstones anti-joined —
    // zero plan change on a plain store
    ivfProbeScore(queries, SegmentStore.read(spark, s"$path/cells", "cid_id"),
      model, k, nprobe)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * coarse-clustering the embedding space with the engine's own k-means
    * ([[graft.kmeans.LloydN]], fixed iterations — deterministic and
    * SQL-oracle-unrollable), then comparing cosine similarity only WITHIN
    * each cluster and dropping the higher id of every pair at or above
    * `threshold` (keep-min-id, this library's uniform drop policy; the
    * paper's choice of representative is a pluggable detail, the layout is
    * the contribution). This is how semantic near-dedup runs at web scale:
    * the quadratic pairwise step collapses from n² to Σ|cell|², the
    * within-cell join is one shuffle on the cell id, and no all-pairs path
    * exists at any corpus size.
    *
    * `nlist` must grow with the corpus for per-cell occupancy to stay
    * bounded — the same fixed-parameter trap [[sizedBitsPerBand]] names;
    * [[semDedupSized]] derives it from a corpus count.
    * Input: (id, vec). Output: surviving (id, cell).
    */
  def semDedup(
      vectors: DataFrame,
      nlist: Int,
      threshold: Double,
      knownCount: Option[Long] = None): DataFrame = {
    val pts = points(vectors)
    // knownCount forwards a count the caller already ran (semDedupSized)
    // so the sizing+sampling pair costs ONE corpus count, not two
    val model = fitQuantizer(pts, nlist, knownCount)
    val assigned = OpsN.assignN(pts, model)
    // cache: both sides of the within-cell self-join and the surviving
    // anti-join read the assignment (else it computes three times);
    // OpCaches-tracked for post-materialize release
    val cells = OpCaches.cache(
      assigned.select(
        col("pid").as("id"), col("features").as("v"),
        norm(col("features")).as("nn"), col("cid").as("cell")))
    val dropped = cells
      .select(col("cell"), col("id").as("d1"), col("v").as("v1"),
        col("nn").as("n1"))
      .join(
        cells.select(col("cell"), col("id").as("d2"), col("v").as("v2"),
          col("nn").as("n2")),
        Seq("cell"))
      .filter(col("d1") < col("d2"))
      .filter(
        when(col("n1") * col("n2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
          >= threshold)
      .select(col("d2").as("id"))
      .distinct()
    cells.select(col("id"), col("cell")).join(dropped, Seq("id"), "left_anti")
  }

  /** [[semDedup]] with `nlist` derived from the corpus size at a target
    * per-cell occupancy (⌈n / targetCellSize⌉): within-cell pairwise work
    * stays ~n·targetCellSize — linear in the corpus — instead of n²/nlist
    * with a fixed cell count. One O(n) count decides nlist before the
    * quantizer runs; integer-exact, so an external oracle derives the same
    * nlist from the same row count.
    *
    * Scaling shape, measured (ProbeScale100, round 10): ~2–3× time at
    * 10× rows, ~125× at 100×. The 100× point is ~LINEAR per point, not
    * sublinear, and that is correct: once the derived nlist exceeds the
    * fit's sample floor, a sound quantizer must sample at least
    * minPointsPerCentroid·nlist points (LloydN's FAISS-style guard), so
    * fit work grows ~n/targetCellSize per iteration. An earlier round
    * measured 16.6× at 100× — sublinear only because the fit silently
    * trained fewer centroids than requested (the bug the guard closes);
    * honest linear beats fast-but-undersized cells whose occupancy
    * drift re-quadratizes the pairwise stage.
    */
  def semDedupSized(
      vectors: DataFrame,
      threshold: Double,
      targetCellSize: Long = 4096L): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize=$targetCellSize")
    val n = vectors.count()
    val nlist = math.max((n + targetCellSize - 1) / targetCellSize, 1L).toInt
    semDedup(vectors, nlist, threshold, Some(n))
  }

  /** Cell-confined k-nearest-neighbor SELF-join: for EVERY vector, its
    * `k` most-cosine-similar neighbors among the vectors sharing its
    * quantizer cell — the kNN-GRAPH builder (semantic clustering,
    * stratified corpus visualization, NN-descent seeding, per-doc
    * redundancy stats), where [[bruteForceTopK]] answers a handful of
    * query vectors and [[semDedup]] only reports threshold crossings.
    *
    * Same confinement discipline as [[semDedup]]: the pairwise step is
    * Σ|cell|², never the n² self-join; the quantizer is the engine's own
    * fixed-iteration sampled Lloyd fit ([[graft.kmeans.LloydN]]), so the
    * whole operator — fit included — unrolls into an external SQL
    * oracle. The per-vector top-k is a window `row_number` partitioned
    * by vector id over the within-cell candidates (per-partition
    * ranking after one hash exchange on id — no global sort), ordered
    * (sim DESC, neighbor id ASC): a deterministic total order, so the
    * rank-k cutoff is reproducible cross-engine. With the default
    * `nprobe = 1`, neighbors outside the cell are invisible BY DESIGN
    * (that is the recall trade of confinement) and vectors in singleton
    * cells emit no rows.
    *
    * MULTI-PROBE (`nprobe > 1`): each vector PROBES its `nprobe`
    * nearest cells (the IVF search discipline of [[ivfTopK]]) while
    * still being a candidate only in its own primary cell — so a
    * near-boundary vector sees the neighbors just across the quantizer
    * boundary that confinement hides, and a singleton-cell vector
    * recovers neighbors from its next-nearest cells. Pair volume grows
    * by at most `nprobe`× (each probe leg is one more |probe-cell| scan
    * per vector; candidates stay Σ over probed cells, never n²), and
    * each (id, nbr) pair still appears at most once because a
    * neighbor's primary cell is unique.
    *
    * `nprobe = 2` is the PRODUCTION RECOMMENDATION for
    * boundary-sensitive users (graph quality, per-doc redundancy): the
    * round-14 quiet-box certification measured it at 1.15× the confined
    * form's wall at 10× scale (9.80 s vs 8.56 s, `BENCH_full_r14.json`)
    * — the ≤ nprobe× pair-volume contract holds with margin: the probe
    * legs ([[probeLegs]]) come from one per-row scan of the model, not a
    * per-row codebook sort. Cost-sensitive bulk paths keep the confined
    * default.
    *
    * Output: (id, rank, nbr_id, sim), sim floor-truncated to 6 decimals
    * AFTER ranking (ranking compares raw doubles).
    */
  def knnJoin(
      vectors: DataFrame,
      nlist: Int,
      k: Int,
      knownCount: Option[Long] = None,
      nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k=$k")
    require(nprobe >= 1, s"nprobe=$nprobe")
    val pts = points(vectors)
    val model = fitQuantizer(pts, nlist, knownCount)
    val assigned = OpsN.assignN(pts, model)
    // both sides of the within-cell join read the assignment;
    // OpCaches-tracked for post-materialize release
    val cells = OpCaches.cache(
      assigned.select(
        col("pid").as("id"), col("features").as("v"),
        norm(col("features")).as("nn"), col("cid").as("cell")))
    // probe side: the primary cell at nprobe=1, the nprobe nearest cells
    // otherwise (probeLegs' first leg is the same argmin, lowest-cid
    // tiebreak, as assignN's cell)
    val probes =
      if (nprobe == 1) cells.select(col("cell"), col("id"), col("v"), col("nn"))
      else probeLegs(cells, model, nprobe)
    val w = Window.partitionBy(col("id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    probes
      .join(
        cells.select(col("cell"), col("id").as("nbr_id"), col("v").as("v2"),
          col("nn").as("n2")),
        Seq("cell"))
      .filter(col("id") =!= col("nbr_id"))
      .withColumn("sim",
        when(col("nn") * col("n2") === 0.0, lit(0.0))
          .otherwise(dot(col("v"), col("v2")) / (col("nn") * col("n2"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("rank").cast("long").as("rank"), col("nbr_id"),
        (floor(col("sim") * 1e6) / 1e6).as("sim"))
  }

  /** The multi-probe legs of [[knnJoin]]: every vector replicated into
    * its `min(nprobe, nlist)` nearest cells, in (d2, cell) order, by one
    * [[graft.expr.NearestCells]] scan per row: O(nlist·d) distance work
    * and an nprobe-slot insertion, with no per-cell literal in the plan,
    * no per-row sort and no exchange.
    */
  private[graft] def probeLegs(
      cells: DataFrame,
      model: Seq[CentroidN],
      nprobe: Int): DataFrame =
    cells
      .select(col("id"), col("v"), col("nn"),
        explode(probeCells(col("v"), model, nprobe)).as("probe"))
      .select(col("probe.cell").as("cell"), col("id"), col("v"), col("nn"))

  /** [[knnJoin]] with the cell count derived from the corpus size at a
    * target per-cell occupancy — the same ⌈n / targetCellSize⌉ sizing
    * as [[semDedupSized]], keeping the within-cell pairwise volume
    * ~n·targetCellSize (linear) as the corpus grows.
    */
  def knnJoinSized(
      vectors: DataFrame,
      k: Int,
      targetCellSize: Long = 4096L,
      nprobe: Int = 1): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize=$targetCellSize")
    val n = vectors.count()
    val nlist = math.max((n + targetCellSize - 1) / targetCellSize, 1L).toInt
    knnJoin(vectors, nlist, k, Some(n), nprobe)
  }

  /** Embedding-cosine near-duplicate pairs: all (id1 < id2) with
    * cosine >= threshold. Exact all-pairs — the small-corpus BASELINE:
    * cost is O(n²) pairs, so the guard refuses corpora above
    * `maxExactRows` (one count job) rather than silently launching a
    * quadratic cross join; at scale route through
    * [[cosineLshNearDupPairs]] (banded sign-LSH candidates + exact
    * verify), the same trade [[bruteForceTopK]] documents vs [[lshTopK]].
    * Output: (d1, d2, sim).
    *
    * @param maxExactRows refusal bound on |corpus| (default 100k ⇒ ≤10¹⁰
    *   candidate pairs); raise explicitly only when the quadratic cost is
    *   understood and intended.
    */
  def cosineNearDupPairs(
      vectors: DataFrame,
      threshold: Double,
      maxExactRows: Long = 100000L): DataFrame = {
    val n = vectors.count()
    require(
      n <= maxExactRows,
      s"cosineNearDupPairs is the exact all-pairs baseline: corpus has $n " +
        s"rows > maxExactRows=$maxExactRows (~${n * n} candidate pairs); " +
        "use cosineLshNearDupPairs (banded LSH + exact verify) at scale, " +
        "or raise maxExactRows explicitly")
    val withNorm = vectors.select(col("id"), col("vec"), norm(col("vec")).as("nn"))
    val a = withNorm.select(col("id").as("d1"), col("vec").as("v1"), col("nn").as("n1"))
    val b = withNorm.select(col("id").as("d2"), col("vec").as("v2"), col("nn").as("n2"))
    a.crossJoin(b)
      .filter(col("d1") < col("d2"))
      .withColumn("sim",
        when(col("n1") * col("n2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("n1") * col("n2"))))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"), col("sim"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-BUCKETED — the scale path.
    * Banded OR-construction over sign-LSH (the random-hyperplane analogue
    * of MinHash banding): one `bands`·`bitsPerBand`-bit signature per
    * vector under deterministic md5 hyperplanes ([[lshSignature]]), split
    * into `bands` buckets of `bitsPerBand` bits; vectors are CANDIDATES if
    * any band matches, and every candidate is verified with the EXACT
    * cosine. Precision 1.0 vs the exact [[cosineNearDupPairs]]; per-pair
    * recall = 1 − (1 − p^bitsPerBand)^bands with p = 1 − θ/π, tunable by
    * adding bands.
    *
    * Scale: candidates come from `bands` equality joins-by-bucket
    * (Σ_buckets |bucket|², never |corpus|²), the standard LSH trade; the
    * deterministic hyperplanes keep every stage reproducible and
    * oracle-expressible (md5 exists in any engine).
    * Output: (d1, d2, sim) with d1 < d2 and sim >= threshold.
    */
  /** End-to-end embedding near-DEDUP: banded-LSH candidates, exact-cosine
    * verify, then greedy keep-lowest-id — a vector is dropped iff some
    * SMALLER-id vector is near-identical to it (the same single-pass
    * policy as [[graft.dedup.Dedup.nearDedup]] for documents).
    * Output: the surviving vectors (id, vec).
    */
  def cosineNearDedup(
      vectors: DataFrame,
      threshold: Double,
      bands: Int,
      bitsPerBand: Int,
      d: Int): DataFrame = {
    val dropped = cosineLshNearDupPairs(vectors, threshold, bands, bitsPerBand, d)
      .select(col("d2").as("id")).distinct()
    vectors.join(dropped, Seq("id"), "left_anti")
  }

  def cosineLshNearDupPairs(
      vectors: DataFrame,
      threshold: Double,
      bands: Int,
      bitsPerBand: Int,
      d: Int): DataFrame = {
    checkDims(vectors, d, "cosineLshNearDupPairs")
    lshNearDupPairsWithBits(vectors, threshold, bands, bitsPerBand, d)
  }

  /** [[cosineNearDedup]] HARDENED against duplicate cliques — the
    * embedding-side analogue of
    * [[graft.dedup.Dedup.nearDedupHardened]]. A scraped corpus embeds
    * byte-identical boilerplate to byte-identical vectors; they all
    * share every LSH band bucket and the within-bucket join goes
    * quadratic in clique size. Two counters, composed:
    *
    *  1. '''Exact-dup short-circuit''': vectors group by VALUE (the
    *     vec array is the group key — exact float equality, the
    *     provably-safe collapse); only each group's min-id
    *     representative enters the LSH pipeline. Members drop iff the
    *     group's self-similarity (dot(v,v)/(‖v‖·‖v‖), the identical
    *     float expression a (rep, member) pair would evaluate — 1 up
    *     to rounding, 0 for zero vectors) clears `threshold`, so the
    *     collapse changes NO drop decision: with no clique larger than
    *     `maxBucket`, output is IDENTICAL to [[cosineNearDedup]]
    *     (asserted in DedupHardenedSpec).
    *  2. '''Per-bucket candidate cap''': within each (band, bucket) a
    *     pair forms only when at least one side ranks in the bucket's
    *     `maxBucket` smallest ids — O(maxBucket · occupancy) per
    *     bucket, linear in clique size, and every vector stays
    *     pairable against the bucket's minimum ids (the partners
    *     keep-min-id dedup needs). RECALL CONTRACT: a residual
    *     (non-identical) near-dup pair is missed only if BOTH sides
    *     rank past the cap in EVERY shared band.
    *
    * Output: the surviving vectors (id, vec).
    */
  def cosineNearDedupHardened(
      vectors: DataFrame,
      threshold: Double,
      bands: Int,
      bitsPerBand: Int,
      d: Int,
      maxBucket: Int = 4096): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be >= 1")
    checkDims(vectors, d, "cosineNearDedupHardened")
    val grp = OpCaches.cache(
      vectors.groupBy(col("vec")).agg(min(col("id")).as("rep")))
    val reps = grp.select(col("rep").as("id"), col("vec"))
    val planes = hyperplanes(bands * bitsPerBand, d)
    val sig = OpCaches.cache(
      reps.select(col("id"), col("vec"), norm(col("vec")).as("nn"),
        lshSignature(col("vec"), planes).as("s")))
    val banded = sig.select(
      col("id"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => col("s").substr(b * bitsPerBand + 1, lit(bitsPerBand)))))
      .toDF("id", "band", "bucket")
    val bandedCached = OpCaches.cache(banded)
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val head = bandedCached
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBucket)
      .drop("_rn")
    val cands = head.as("a")
      .join(bandedCached.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .distinct()
    val droppedReps = cands
      .join(sig.select(col("id").as("d1"), col("vec").as("v1"),
        col("nn").as("n1")), "d1")
      .join(sig.select(col("id").as("d2"), col("vec").as("v2"),
        col("nn").as("n2")), "d2")
      .withColumn("sim",
        when(col("n1") * col("n2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("n1") * col("n2"))))
      .filter(col("sim") >= threshold)
      .select(col("d2").as("id"))
    // members drop against their representative at the group's
    // self-similarity — the same float expression the pairwise path
    // evaluates for two identical vectors
    val selfSim = when(norm(col("vec")) * norm(col("vec")) === 0.0, lit(0.0))
      .otherwise(dot(col("vec"), col("vec")) / (norm(col("vec")) * norm(col("vec"))))
    val droppedMembers = vectors
      .join(grp.filter(selfSim >= threshold), Seq("vec"))
      .filter(col("id") =!= col("rep"))
      .select(col("id"))
    vectors.join(
      droppedMembers.unionByName(droppedReps).distinct(),
      Seq("id"), "left_anti")
  }

  /** Per-band bucket width sized so expected occupancy stays at
    * ~`targetOccupancy` rows as the corpus grows: the smallest B with
    * `2^B * targetOccupancy >= n`. FIXED bits are the quadratic trap in
    * banded sign-LSH — with 2^B buckets constant, candidate pairs grow as
    * Σ|bucket|² ≈ n²/2^B; sizing B to n keeps that ≈ n·targetOccupancy,
    * i.e. LINEAR in the corpus (recall per pair then drops as p^B — add
    * bands to re-establish it, never let buckets saturate instead).
    *
    * Integer-exact (no floating log), so an external oracle derives the
    * SAME width from the same row count: this is
    * `LENGTH(BIN(CEIL(n/target) - 1))` in e.g. DuckDB.
    */
  def sizedBitsPerBand(n: Long, targetOccupancy: Long = 64L): Int = {
    require(n >= 0 && targetOccupancy > 0,
      s"sizedBitsPerBand: n=$n, targetOccupancy=$targetOccupancy")
    val buckets = (n + targetOccupancy - 1) / targetOccupancy // ceil
    java.lang.Long.toBinaryString(math.max(buckets - 1, 0L)).length
  }

  /** [[cosineLshNearDupPairs]] with `bitsPerBand` derived from the corpus
    * size via [[sizedBitsPerBand]] — the form to deploy when the corpus
    * grows: candidate volume stays ~`n * targetOccupancy * bands` instead
    * of n²/2^bits. One extra O(n) aggregate (count + dimension check in a
    * single pass) decides the width before any signature is computed.
    */
  def cosineLshNearDupPairsSized(
      vectors: DataFrame,
      threshold: Double,
      bands: Int,
      d: Int,
      targetOccupancy: Long = 64L): DataFrame = {
    val stats = vectors
      .agg(min(size(col("vec"))), max(size(col("vec"))), count(lit(1)))
      .collect()(0)
    require(
      stats.isNullAt(0) || (stats.getInt(0) == d && stats.getInt(1) == d),
      s"cosineLshNearDupPairsSized: d=$d but corpus vectors span " +
        s"[${stats.get(0)}, ${stats.get(1)}] dimensions")
    val bits = sizedBitsPerBand(stats.getLong(2), targetOccupancy)
    lshNearDupPairsWithBits(vectors, threshold, bands, bits, d)
  }

  private def checkDims(vectors: DataFrame, d: Int, who: String): Unit = {
    val dims = vectors
      .agg(min(size(col("vec"))), max(size(col("vec")))).collect()(0)
    require(
      dims.isNullAt(0) || (dims.getInt(0) == d && dims.getInt(1) == d),
      s"$who: d=$d but corpus vectors span " +
        s"[${dims.get(0)}, ${dims.get(1)}] dimensions")
  }

  private def lshNearDupPairsWithBits(
      vectors: DataFrame,
      threshold: Double,
      bands: Int,
      bitsPerBand: Int,
      d: Int): DataFrame = {
    val planes = hyperplanes(bands * bitsPerBand, d)
    // cache: consumed by both sides of the band join AND the verify joins
    // (else the signature pass runs four times); OpCaches-tracked
    val sig = OpCaches.cache(
      vectors.select(col("id"), col("vec"), norm(col("vec")).as("nn"),
        lshSignature(col("vec"), planes).as("s")))
    val banded = sig.select(
      col("id"),
      posexplode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => col("s").substr(b * bitsPerBand + 1, lit(bitsPerBand)))))
      .toDF("id", "band", "bucket")
    val cands = banded.as("a")
      .join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .distinct()
    cands
      .join(sig.select(col("id").as("d1"), col("vec").as("v1"),
        col("nn").as("n1")), "d1")
      .join(sig.select(col("id").as("d2"), col("vec").as("v2"),
        col("nn").as("n2")), "d2")
      .withColumn("sim",
        when(col("n1") * col("n2") === 0.0, lit(0.0))
          .otherwise(dot(col("v1"), col("v2")) / (col("n1") * col("n2"))))
      .filter(col("sim") >= threshold)
      .select(col("d1"), col("d2"), col("sim"))
  }

  /** Johnson–Lindenstrauss random projection: reduce each vector to
    * `dOut` dimensions, y_j = ⟨v, plane_j⟩ under the SAME deterministic
    * md5-derived hyperplanes as the sign-LSH path ([[planeComponent]]) —
    * sign-LSH is precisely the 1-bit quantization of this map, so the
    * two share one projection discipline (and one oracle formula).
    *
    * Why it matters at 100 TB: every downstream distance computation —
    * brute-force rerank, IVF training, kNN-graph construction — costs
    * O(d) FLOPs and O(d) shuffle bytes per vector. Projecting 64→16 (or
    * 768→64) cuts both by the same factor while JL preserves pairwise
    * geometry to within ~1/√dOut distortion; the standard recipe is
    * search in the projected space, exact-rerank the survivors in the
    * original space. The plane matrix is dOut·d driver-side constants
    * riding the plan as literals (like the LSH hyperplanes and the
    * classifier weights) — no broadcast, no second input, and each
    * output component is one codegen'd [[graft.expr.ArrayDot]] fold.
    *
    * Output: (id, pvec ARRAY<DOUBLE> of length dOut).
    */
  def projectVectors(vecs: DataFrame, dIn: Int, dOut: Int): DataFrame = {
    require(dOut > 0 && dIn > 0, "dimensions must be positive")
    val planes = hyperplanes(dOut, dIn)
    vecs.select(
      col("id"),
      array(planes.toIndexedSeq.map(p => dot(col("vec"), lit(p))): _*)
        .as("pvec"))
  }

  /** The full project-search-rerank recipe: candidate SEARCH runs in the
    * [[projectVectors]] JL space (dOut dims, oversampled to
    * `k * overscan` candidates per query), then the final ranking
    * re-scores ONLY those candidates with exact cosine in the ORIGINAL
    * dIn-dim space.
    *
    * Scale shape: the O(nq·N) pair scan — the term that dominates at
    * 100 TB — pays dOut-dim FLOPs and ships dOut-dim vectors
    * (dIn/dOut× cheaper than exact brute force); the exact pass touches
    * only nq·k·overscan candidate pairs. Both rerank join sides are
    * tiny relative to the corpus, so the candidate list broadcasts INTO
    * the corpus scan (the corpus is filtered by a broadcast hash join,
    * never shuffled) and the query vectors broadcast on top. JL
    * distortion ~1/√dOut is absorbed by the oversample: a true
    * neighbor missing from the final k requires `(overscan-1)·k`
    * non-neighbors to beat it in the projected space.
    *
    * Output: (qid, cid, sim, rank) with `sim` the EXACT original-space
    * cosine, rank 1-based per query, cid as tiebreak.
    */
  def projectedRerankTopK(
      queries: DataFrame, corpus: DataFrame,
      dIn: Int, dOut: Int, k: Int, overscan: Int = 4): DataFrame = {
    require(k > 0, "k must be positive")
    require(overscan >= 1, "overscan must be >= 1")
    val projQ = projectVectors(queries, dIn, dOut)
      .select(col("id"), col("pvec").as("vec"))
    val projC = projectVectors(corpus, dIn, dOut)
      .select(col("id"), col("pvec").as("vec"))
    val cands = bruteForceTopK(projQ, projC, k * overscan)
      .select(col("qid"), col("cid"))
    val q = broadcast(
      queries.select(col("id").as("qid"), col("vec").as("qv"),
        norm(col("vec")).as("qn")))
    val c = corpus.select(col("id").as("cid"), col("vec").as("cv"),
      norm(col("vec")).as("cn"))
    val rescored = broadcast(cands)
      .join(c, Seq("cid"))
      .join(q, Seq("qid"))
      .withColumn("sim",
        when(col("qn") * col("cn") === 0.0, lit(0.0))
          .otherwise(dot(col("qv"), col("cv")) / (col("qn") * col("cn"))))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    rescored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"), col("sim"), col("rank"))
  }

  /** Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher, SIGIR'09): fuse a lexical BM25 ranking over the
    * documents table with a dense cosine ranking over the aligned
    * embeddings table — the standard RAG serving shape, where neither
    * ranker alone is robust (BM25 misses paraphrase, dense misses rare
    * exact terms). `rrf = Σ_rankers 1/(rrfK + rank)`, rank-based on
    * purpose: raw BM25 scores and cosines live on incomparable scales,
    * and RRF needs no per-query score normalization.
    *
    * Scale shape: all the heavy lifting is inside the two retrievals,
    * which keep their own certified plans ([[graft.text.TextOps.bm25TopK]]
    * one pruned corpus scan + TakeOrdered; [[bruteForceTopK]] a broadcast
    * probe — swap in [[ivfTopKFromStore]] for a served corpus). The
    * fusion itself touches two ≤ kEach-row lists: the rank windows and
    * the full-outer join are O(kEach), not corpus-sized, so the
    * empty-partition-spec window here is deliberate and harmless.
    *
    * The dense query is a corpus vector by id (the "more like this"
    * anchor form); [[bruteForceTopK]] excludes the anchor itself.
    *
    * Output: (doc_id, lex_rank, dense_rank, rrf_score), rrf descending,
    * doc_id tiebreak, limit k. Ranks are null where a ranker did not
    * surface the doc; rrf is floor-truncated to 9 decimals.
    */
  def hybridRrfTopK(
      docs: DataFrame,
      vecs: DataFrame,
      queryTerms: Seq[String],
      queryVecId: Long,
      k: Int,
      kEach: Int = 10,
      rrfK: Double = 60.0): DataFrame = {
    require(k > 0 && kEach > 0, "k and kEach must be positive")
    val lex = graft.text.TextOps.bm25TopK(docs, queryTerms, kEach)
      .withColumn("lex_rank",
        row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val dense = bruteForceTopK(
        vecs.filter(col("id") === queryVecId), vecs, kEach)
      .select(col("cid").as("doc_id"), col("rank").cast("long").as("dense_rank"))
    lex
      .join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        floor((coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("dense_rank")), lit(0.0)))
          * 1e9) / 1e9)
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        col("rrf_score"))
  }
}
