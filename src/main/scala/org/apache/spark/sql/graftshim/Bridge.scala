package org.apache.spark.sql.graftshim

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` / `private[spark]` internals: the
  * Column↔Expression converters (Spark 4 removed the public
  * `Column(expr)` constructor), the materialized RDD behind a
  * checkpointed Dataset (needed to release a superseded
  * `localCheckpoint`'s blocks eagerly — `Dataset.unpersist` only talks to
  * the CacheManager, which never sees checkpoint storage), and the
  * schema of one parquet file read from its footer. This is the only
  * file outside the `graft` namespace; it contains no logic.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Spark schema of one parquet file, read from its footer on the
    * calling thread with the converter and footer rules Spark's own
    * schema inference uses, made nullable as a file-source relation
    * makes it. Inference runs the same read as a Spark job.
    */
  def parquetFileSchema(spark: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(conf)).asNullable
  }

  /** The RDD backing a `df.localCheckpoint(...)` / `df.checkpoint(...)`
    * result (eager or LAZY) — None for any other plan shape.
    * Unpersisting it frees the checkpoint blocks: immediately for an
    * eager (or already-materialized lazy) checkpoint, while a lazy
    * checkpoint that no action has materialized yet simply never
    * persists — the frame stays recomputable until its first action,
    * and unrecomputable after materialization. Only release frames that
    * are never used again (or not yet used at all).
    */
  def checkpointedRdd(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Delete the on-disk files behind a RELIABLY-checkpointed Dataset
    * (`df.checkpoint(eager = true)`). Spark only deletes checkpoint files
    * on context shutdown (or lazily via the async ContextCleaner when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set), so an
    * iterative operator that supersedes a round each iteration must
    * delete eagerly to keep checkpoint storage bounded at ~2 rounds. The
    * frame is unrecomputable afterwards — only release frames that are
    * never used again. No-op for non-checkpoint plans or already-deleted
    * files.
    */
  def cleanReliableCheckpoint(df: Dataset[_]): Unit =
    checkpointedRdd(df).foreach { r =>
      org.apache.spark.rdd.ReliableRDDCheckpointData
        .cleanCheckpoint(r.sparkContext, r.id)
    }
}
