package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

/** Checkpoint mode for the engine's lineage barriers, read from the
  * context.
  *
  * Three operators use checkpoints as PLAN-TRUNCATION barriers (guide
  * §7.3 — materializing an intermediate stops Catalyst re-analyzing the
  * whole upstream tree per action): `TextOps.bpeFitWithDict` (one per
  * merge step), `SparkEntry.pipelineSurvivors` (the multi-consumer stage
  * frames), and `Dedup.dupGroups` (one per contraction round). On a
  * single-node bench a `localCheckpoint` is the right barrier: executor
  * == driver, so "blocks die with their executor" is not a real failure
  * mode and the barrier costs no FS write. On a multi-node 100 TB run a
  * local checkpoint is a reliability bug — lineage is TRUNCATED, so one
  * lost executor makes the frame unrecomputable and fails the query. The
  * mode therefore follows the one setting a cluster deployment makes
  * anyway:
  *
  *   - no checkpoint dir on the context (no main sets one): a
  *     `localCheckpoint`, blocks released by unpersisting the backing RDD;
  *   - `sparkContext.setCheckpointDir` called (HDFS/object store on a
  *     cluster): `Dataset.checkpoint` to that dir; superseded rounds
  *     release by deleting the round's checkpoint files
  *     ([[org.apache.spark.sql.graftshim.Bridge.cleanReliableCheckpoint]]).
  *
  * Both modes compute the SAME rows from the same plan — the mode only
  * changes where the materialized partitions live (executor block store
  * vs fault-tolerant FS), never values (asserted for all three consumers
  * in CheckpointModeSpec). No operator takes a mode parameter of its own.
  */
object Checkpoints {

  /** True when the context has a checkpoint dir, i.e. barriers write
    * reliable checkpoints; read per checkpoint call.
    */
  def reliableEnabled(spark: SparkSession): Boolean =
    spark.sparkContext.getCheckpointDir.isDefined

  /** Checkpoint `df` under the context's mode and return the
    * barrier frame plus an IDEMPOTENT releaser for its storage (local:
    * unpersist the backing RDD's blocks; reliable: delete the RDD's
    * checkpoint files). The releaser is safe to call more than once and
    * safe to register in [[OpCaches]] alongside an eager in-loop release.
    *
    * `eager = false` defers materialization to the frame's first action
    * (the caller's next job doubles as the pin — the bpeFitWithDict
    * discipline). Releasing a LAZY checkpoint before any action has
    * materialized it leaves the frame recomputable (the checkpoint never
    * happened); after materialization the frame is unrecomputable — only
    * release frames that are never used again.
    */
  def checkpoint(df: DataFrame, eager: Boolean): (DataFrame, () => Unit) = {
    val reliable = reliableEnabled(df.sparkSession)
    val c = if (reliable) df.checkpoint(eager) else df.localCheckpoint(eager)
    val release: () => Unit =
      if (reliable)
        () => org.apache.spark.sql.graftshim.Bridge.cleanReliableCheckpoint(c)
      else
        org.apache.spark.sql.graftshim.Bridge.checkpointedRdd(c)
          .map(r => () => { r.unpersist(blocking = false); () })
          .getOrElse(() => ())
    (c, release)
  }

  /** [[checkpoint]] with the releaser handed straight to [[OpCaches]] —
    * for barriers whose storage lives until the harness sweep (the
    * pipelineSurvivors stage frames).
    */
  def checkpointTracked(df: DataFrame, eager: Boolean): DataFrame = {
    val (c, release) = checkpoint(df, eager)
    OpCaches.track(df.sparkSession, release)
    c
  }
}
