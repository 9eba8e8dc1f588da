package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.Bridge

/** The shared read/delete/compact core of the log-structured persisted
  * stores (signature store, BM25 index, IVF cell tiers). Each store
  * composes the same four pieces — generation resolution
  * ([[GenStore]]), streaming segment subdirectories, tombstone
  * anti-joins ([[Tombstones]]), and count-sized compaction rewrites —
  * and before this object existed each reimplemented the glue. The
  * store-SPECIFIC logic (what a row means, multi-subtable layouts like
  * BM25's postings/terms/stats, partition-pruned query paths) stays in
  * the stores; only the storage mechanics live here.
  *
  * '''Read path.''' Every store read goes through [[parquet]], which
  * runs no Spark job before the caller's own action: the schema comes
  * from ONE data file's footer, read on the driver (Spark's inference
  * runs a job to read the same footer), and a caller that knows which
  * `k=v` partition directories it needs names them, so the file listing
  * covers only those directories (past 32 directories Spark lists in a
  * job). Nothing is cached: each read lists and resolves the store's
  * current files, so a writer in another process is seen on the next
  * read.
  *
  * Snapshot-style model stores (TF-IDF df counts, LM bigram counts,
  * classifier sufficient statistics) are DELIBERATELY not clients:
  * they are rebuild-only by contract (overwrite parquet, no appends, no
  * deletes), so generations/tombstones would be dead machinery there.
  */
object SegmentStore {

  /** ⌈total / targetFileRows⌉, at least 1, clamped to Int — the one
    * sizing rule for store writes: one task, and so one file, per
    * ~targetFileRows rows. Compaction rewrites size their files with it,
    * and the BM25 build and compaction size their term-hash bucket count
    * with it (from the postings rows), so the count follows the data.
    */
  def fileCount(total: Long, targetFileRows: Long): Int = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    math.max(1L, (total + targetFileRows - 1) / targetFileRows)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Parquet under `dir`, with the schema taken from the footer of its
    * first data file in path order — the file Spark's inference would
    * open — so the read starts no job. Partition columns of `k=v`
    * directories are still inferred from the listing, as in
    * `spark.read.parquet(dir)`, whose schema this read equals.
    *
    * `parts` names partition directories under `dir` (`tbucket=3`); when
    * any of them exists only those are listed and read, with `basePath`
    * set so their partition column stays. Callers keep their partition
    * filter: the pruning is of the listing, not of the answer. When none
    * exists, or `parts` is empty, the whole of `dir` is read. A directory
    * without a data file falls back to Spark's own read, with its error.
    */
  def parquet(
      spark: SparkSession,
      dir: String,
      parts: Seq[String] = Nil,
      recursive: Boolean = false): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = parts.distinct.map(new Path(root, _)).filter(fs.exists)
    val reader =
      if (recursive) spark.read.option("recursiveFileLookup", "true")
      else spark.read
    firstDataFile(fs, if (live.isEmpty) Seq(root) else live) match {
      case None => reader.parquet(dir)
      case Some(file) =>
        val r = reader.schema(Bridge.parquetFileSchema(spark, file))
        if (live.isEmpty) r.parquet(dir)
        else r.option("basePath", dir).parquet(live.map(_.toString): _*)
    }
  }

  /** What Spark's file index skips: `_`/`.`-prefixed names other than
    * `k=v` directories.
    */
  private def hidden(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
  }

  /** The first data file under `roots` in path-string order, skipping
    * [[hidden]] names. A depth-first walk: a directory sorts as its
    * path plus `/`, which places it exactly where its files sort.
    */
  private def firstDataFile(fs: FileSystem, roots: Seq[Path]): Option[FileStatus] = {
    def key(st: FileStatus) =
      st.getPath.toString + (if (st.isDirectory) "/" else "")
    def walk(sts: Seq[FileStatus]): Option[FileStatus] =
      sts.sortBy(key).iterator.map { st =>
        if (st.isDirectory) walk(fs.listStatus(st.getPath).toSeq.filterNot(hidden))
        else Some(st)
      }.collectFirst { case Some(f) => f }
    walk(roots.filter(fs.exists).map(fs.getFileStatus))
  }

  /** Rows in the parquet files under `dir`, at any depth, skipping
    * [[hidden]] names: the sum of their footers' row counts, read on the
    * driver, so no Spark job runs and no data page is read. 0 when `dir`
    * does not exist.
    */
  private def footerRows(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    def rows(st: FileStatus): Long =
      if (st.isDirectory) fs.listStatus(st.getPath).filterNot(hidden).map(rows).sum
      else {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try reader.getRecordCount finally reader.close()
      }
    if (fs.exists(root)) rows(fs.getFileStatus(root)) else 0L
  }

  /** A store's row count from footers alone: the rows of its active
    * generation (segments included) minus its tombstone rows. No Spark
    * job runs, where `read(...).count()` scans the store and anti-joins
    * the tombstones. The two differ when a tombstone names an id the
    * store does not hold or that an earlier delete already removed (this
    * count is then low), and when a tombstoned id matches several rows
    * (high). Good for a size check; use `read(...).count()` for the
    * exact live count.
    */
  def footerRowCount(spark: SparkSession, store: String): Long = {
    val base = GenStore.resolve(spark, store)
    footerRows(spark, base) - footerRows(spark, s"$base/${Tombstones.DirName}")
  }

  /** Read a store's active generation with per-batch segment
    * subdirectories folded in (`recursiveFileLookup` — no partition
    * inference) and the generation's tombstones anti-joined on `idCol`
    * (zero plan change when no delete has landed). The read for stores
    * whose layout is always flat part-files + optional segment dirs
    * (signature store, IVF scan tiers). A `k=v` directory is read as a
    * segment, without its partition column, so a query that names that
    * column fails analysis instead of answering without it.
    */
  def read(spark: SparkSession, store: String, idCol: String): DataFrame = {
    val base = GenStore.resolve(spark, store)
    Tombstones.filter(parquet(spark, base, recursive = true), spark, base, idCol)
  }

  /** The DELETE leg shared by every store: the batch's ids land as a
    * tombstone segment inside the ACTIVE generation — O(batch) where a
    * physical rewrite is O(store). Idempotent; single-writer vs
    * compaction, as with appends.
    */
  def delete(spark: SparkSession, store: String, ids: DataFrame): Unit =
    Tombstones.write(ids, GenStore.resolve(spark, store))

  /** Count-sized FLAT compaction: rewrite `rows` (a [[read]]-shaped
    * frame, so tombstones and segments are already folded) into
    * ⌈rows / targetFileRows⌉ files in a new generation and atomically
    * repoint the manifest ([[GenStore.compactInto]]). `coalesce` — a
    * file-merge read, no shuffle. Stores with partitioned layouts keep
    * their own rewrite inside `compactInto`.
    */
  def compactFlat(
      spark: SparkSession,
      store: String,
      rows: DataFrame,
      targetFileRows: Long): Unit = {
    val nFiles = fileCount(rows.count(), targetFileRows)
    GenStore.compactInto(spark, store) { genDir =>
      rows.coalesce(nFiles).write.mode("overwrite").parquet(genDir)
    }
  }
}
