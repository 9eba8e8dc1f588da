package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession

/** Session-selectable checkpoint mode for the engine's lineage barriers.
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
  * lost executor makes the frame unrecomputable and fails the query —
  * and the documented posture ("swap in reliable checkpoints") was a
  * manual edit until round 20. This knob makes it configuration:
  *
  *   - `spark.graft.checkpoint = local` (default): `localCheckpoint`,
  *     blocks released by unpersisting the backing RDD.
  *   - `spark.graft.checkpoint = reliable`: `Dataset.checkpoint` to the
  *     context's configured `sparkContext.setCheckpointDir` (HDFS/object
  *     store on a cluster), which must be set; superseded rounds release
  *     by deleting the round's checkpoint files
  *     ([[org.apache.spark.sql.graftshim.Bridge.cleanReliableCheckpoint]]).
  *
  * Both modes compute the SAME rows from the same plan — the mode only
  * changes where the materialized partitions live (executor block store
  * vs fault-tolerant FS), never values (asserted for all three consumers
  * in CheckpointModeSpec). The knob is the only selector: no operator
  * takes a mode parameter of its own.
  */
object Checkpoints {

  /** Session conf key selecting the mode; read per checkpoint call so a
    * long-lived session can switch between pipelines.
    */
  val ModeKey = "spark.graft.checkpoint"

  /** True when the session selects reliable checkpoints. Fails fast on an
    * unknown mode or a reliable selection without a checkpoint dir —
    * silently degrading to local would void the fault-tolerance the
    * caller asked for.
    */
  def reliableEnabled(spark: SparkSession): Boolean =
    spark.conf.get(ModeKey, "local") match {
      case "local" => false
      case "reliable" =>
        require(
          spark.sparkContext.getCheckpointDir.isDefined,
          s"$ModeKey=reliable requires sparkContext.setCheckpointDir(...) " +
            "(a fault-tolerant FS path all executors can reach)")
        true
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }

  /** Checkpoint `df` under the session's configured mode and return the
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
