package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Tombstone segments for the persisted stores (signature store, BM25
  * index, IVF cells) — the DELETE leg of the stores' log-structured
  * CRUD, the shape a 100 TB training-data store needs for
  * right-to-be-forgotten removals: physically rewriting a store per
  * delete batch is an O(store) job, while a tombstone append is
  * O(batch) and the rewrite folds into the NEXT scheduled compaction.
  *
  * Layout: deleted ids land as parquet under `_tombstones/` INSIDE the
  * store's active generation directory. The underscore prefix makes
  * the directory invisible to every data read of the generation
  * (Spark's file index filters `_`/`.`-prefixed paths — the same
  * convention that hides `_graft_manifest` from legacy flat-store
  * reads), so delete segments ride inside the data directory without
  * a separate component path. Readers that honor deletes anti-join
  * against [[readOpt]]; compactors fold tombstones into the rewrite
  * and simply DON'T carry the directory into the new generation — the
  * old generation (with its tombstones) stays on disk for one further
  * compaction cycle under [[GenStore]]'s existing reader-grace rule,
  * so a mid-query reader of the old generation keeps a complete,
  * immutable view with zero extra bookkeeping. Re-applying an
  * already-folded tombstone is a no-op anti-join of absent ids, so
  * every path is idempotent.
  *
  * Same single-writer contract as appends: don't run deletes
  * concurrently with compaction.
  */
object Tombstones {

  val DirName = "_tombstones"

  private def dir(genDir: String): String = s"$genDir/$DirName"

  /** Append a delete batch's ids to the generation's tombstone
    * segment. `ids` must be a single `id` column (any integral type);
    * rows are written as-is — the id column name is normalized to
    * `_ts_id` so readers join without caring what the store calls its
    * key. Small by construction (a delete batch), so one file.
    */
  def write(ids: DataFrame, genDir: String): Unit =
    ids.toDF("_ts_id").coalesce(1)
      .write.mode("append").parquet(dir(genDir))

  /** The generation's tombstoned ids, if any delete segment exists —
    * None means no delete has touched this generation (the overwhelming
    * common case; the existence probe is one file-listing call, and the
    * read takes its schema from a footer: no Spark job either way).
    */
  def readOpt(spark: SparkSession, genDir: String): Option[DataFrame] = {
    val p = new Path(dir(genDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(SegmentStore.parquet(spark, dir(genDir)).distinct())
    else None
  }

  /** `df` minus tombstoned rows: a BROADCAST left-anti join on
    * `idCol` when a tombstone segment exists, `df` untouched (zero
    * plan change) when none does. Delete batches are small relative to
    * the store, so the anti-join never shuffles the store side.
    */
  def filter(
      df: DataFrame,
      spark: SparkSession,
      genDir: String,
      idCol: String): DataFrame =
    readOpt(spark, genDir) match {
      case None => df
      case Some(ts) =>
        df.join(
          broadcast(ts),
          df(idCol) === ts("_ts_id"),
          "left_anti")
    }
}
