package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.SparkTestSession

/** Store-corruption guards: each turns a silently-wrong read into a
  * named failure.
  *
  *  - [[graft.util.SegmentStore.read]] folds streaming segment subdirs
  *    into a flat store, and reads a `k=v` directory as a segment without
  *    its partition column, so a query on that column fails analysis
  *    instead of answering without it.
  *  - [[graft.text.TextOps.classifierScoreFromStore]] validates every
  *    stored bucket against the meta-declared n_buckets instead of
  *    throwing a raw ArrayIndexOutOfBounds on a corrupt store.
  */
class StoreGuardsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(); ()
  }

  test("SegmentStore.read folds segments into a flat store and never " +
      "answers from a cell= layout") {
    // flat store plus a segment: reads both
    val flat = "target/graft_stores/flat_layout_spec"
    rm(new java.io.File(flat))
    Seq((1L, "a")).toDF("cid_id", "v").write.parquet(flat)
    Seq((2L, "b")).toDF("cid_id", "v").write.parquet(s"$flat/batch-0")
    assert(graft.util.SegmentStore.read(spark, flat, "cid_id").count() === 2)
    // a cell=-partitioned layout has no cell column under this read
    val parted = "target/graft_stores/parted_layout_spec"
    rm(new java.io.File(parted))
    Seq((1L, 0), (2L, 1)).toDF("cid_id", "cell")
      .write.partitionBy("cell").parquet(parted)
    intercept[org.apache.spark.sql.AnalysisException](
      graft.util.SegmentStore.read(spark, parted, "cid_id").select($"cell"))
  }

  test("classifierScoreFromStore names the store on an out-of-range " +
      "bucket instead of a raw ArrayIndexOutOfBounds") {
    import graft.text.TextOps
    val docs = Seq(
      (1L, "src0", "alpha beta"), (2L, "src1", "gamma delta"))
      .toDF("doc_id", "source", "text")
    val store = "target/graft_stores/classifier_corrupt_spec"
    rm(new java.io.File(store))
    TextOps.writeClassifierModel(docs, col("source") === "src0", store,
      nBuckets = 64)
    // sanity: the intact store scores
    assert(TextOps.classifierScoreFromStore(docs, store).count() === 2)
    // corrupt: append a counts row whose bucket exceeds meta's n_buckets
    Seq((999L, 1L, 1L)).toDF("bucket", "cp", "cn")
      .write.mode("append").parquet(s"$store/counts")
    val e = intercept[IllegalArgumentException](
      TextOps.classifierScoreFromStore(docs, store).count())
    assert(e.getMessage.contains("corrupt classifier store") &&
      e.getMessage.contains(store))
  }
}
