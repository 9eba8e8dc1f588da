package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.kmeans.SparkTestSession
import graft.sim.Similarity
import graft.text.TextOps
import graft.util.GenStore

/** The generation-manifest contract ([[graft.util.GenStore]]) that makes
  * store compaction ATOMIC FOR READERS — the r10 "run OFFLINE" window is
  * gone. Three properties, asserted per store type:
  *
  *  1. A reader that resolved the store BEFORE a compaction re-reads its
  *     complete previous file set afterwards — identical rows (the
  *     "reader mid-query while the compactor swaps" case: Spark pins a
  *     DataFrame's file listing at creation, and vacuum keeps the
  *     superseded state for one full compaction cycle).
  *  2. A reader that resolves AFTER the swap sees the compacted
  *     generation — identical rows.
  *  3. The grace lifecycle: superseded state survives exactly one
  *     further compaction (legacy flat files are dropped by compaction
  *     2; generation N is dropped by compaction N+2).
  */
class StoreCompactionAtomicitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rootParquetFiles(store: String): Int =
    new java.io.File(store).listFiles.toSeq
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  private def genDirs(store: String): Set[String] =
    new java.io.File(store).listFiles.toSeq
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("gen-")).toSet

  test("signature store: mid-compaction readers and the generation grace " +
      "lifecycle") {
    val store = tmpDir("sigatomic")
    Dedup.writeSignatureStore(
      docs((1L, "a b c d e"), (2L, "v w x y z")),
      n = 3, numHashes = 12, bands = 4, store)
    Dedup.appendToSignatureStore(
      docs((3L, "fresh content entirely new here")),
      n = 3, numHashes = 12, bands = 4, store)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // reader A resolves the LEGACY layout (no manifest yet)
    val readerLegacy = Dedup.readSignatureStore(spark, store)
    val expect = rows(readerLegacy)
    assert(expect.length === 3)

    // compaction 1: legacy -> gen-0; the swap must not disturb reader A
    Dedup.compactSignatureStore(spark, store, targetFileRows = 1000L)
    assert(GenStore.currentGen(spark, store) === Some("gen-000000000"))
    assert(rows(readerLegacy) === expect) // pinned legacy files intact
    assert(rootParquetFiles(store) > 0)   // grace copy still present
    val readerGen0 = Dedup.readSignatureStore(spark, store)
    assert(rows(readerGen0) === expect)

    // compaction 2: gen-0 -> gen-1; legacy grace copy is dropped, gen-0
    // (the new "previous") is kept for reader B
    Dedup.compactSignatureStore(spark, store, targetFileRows = 1000L)
    assert(GenStore.currentGen(spark, store) === Some("gen-000000001"))
    assert(rootParquetFiles(store) === 0)
    assert(genDirs(store) === Set("gen-000000000", "gen-000000001"))
    assert(rows(readerGen0) === expect) // reader B's generation survives
    val readerGen1 = Dedup.readSignatureStore(spark, store)

    // compaction 3: gen-0 is now superseded twice and vacuumed
    Dedup.compactSignatureStore(spark, store, targetFileRows = 1000L)
    assert(genDirs(store) === Set("gen-000000001", "gen-000000002"))
    assert(rows(readerGen1) === expect)
    assert(rows(Dedup.readSignatureStore(spark, store)) === expect)

    // appends land INSIDE the active generation, visible to new readers
    Dedup.appendToSignatureStore(
      docs((4L, "another novel appended document")),
      n = 3, numHashes = 12, bands = 4, store)
    assert(Dedup.readSignatureStore(spark, store).count() === 4L)
    assert(rootParquetFiles(store) === 0) // not at the legacy root
  }

  test("bm25 index: pre-compaction query plans re-read identically; " +
      "post-compaction queries and appends use the new generation") {
    val store = tmpDir("bm25atomic")
    TextOps.writeBm25Index(
      docs(
        (1L, "spark shuffles data across the cluster"),
        (2L, "spark spark spark and more spark"),
        (3L, "the cluster runs jobs")),
      store, targetFileRows = 2L)
    TextOps.appendToBm25Index(docs((4L, "cluster cluster spark again")), store)
    def topkDf() =
      TextOps.bm25TopKFromStore(spark, Seq("spark", "cluster"), store, k = 10)
    def drain(df: DataFrame): Seq[(Long, Double)] = {
      val r = df.as[(Long, Double)].collect().toSeq
      graft.util.OpCaches.releaseAll(spark)
      r
    }
    val reader = topkDf() // resolves the legacy layout
    val expect = drain(reader)
    TextOps.compactBm25Index(spark, store, targetFileRows = 1000L)
    assert(drain(reader) === expect)  // mid-query reader undisturbed
    assert(drain(topkDf()) === expect) // new reader: compacted generation
    // appends after compaction land in the generation and are queryable
    TextOps.appendToBm25Index(docs((5L, "spark once more")), store)
    val post = drain(topkDf())
    assert(post.map(_._1).contains(5L))
    // second compaction folds the in-generation append too
    TextOps.compactBm25Index(spark, store, targetFileRows = 1000L)
    assert(drain(topkDf()) === post)
  }

  test("ivf cells: pre-compaction probe plans re-read identically; the " +
      "quantizer is untouched") {
    val store = "target/graft_stores/ivf_atomic_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(store))
    val corpus = (0L to 19L).map(i => (i, Seq(i * 1.0, (i % 5).toDouble)))
      .toDF("id", "vec")
    Similarity.writeIvfIndex(corpus, nlist = 3, path = store)
    Similarity.appendToIvfIndex(
      (100L to 104L).map(i => (i, Seq(i * 1.0, 2.0))).toDF("id", "vec"), store)
    val q = corpus.filter($"id" < 3)
    def probe() = Similarity.ivfTopKFromStore(q, store, k = 4, nprobe = 2)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val reader = probe()
    val expect = rows(reader)
    val centroids = spark.read.parquet(s"$store/centroids").collect().toSeq
    Similarity.compactIvfCells(spark, store)
    assert(rows(reader) === expect)  // mid-query probe undisturbed
    assert(rows(probe()) === expect) // new probe: compacted generation
    assert(spark.read.parquet(s"$store/centroids").collect().toSeq === centroids)
    // post-compaction append is assigned by the stored quantizer and
    // lands in the active cells generation
    Similarity.appendToIvfIndex(
      Seq((200L, Seq(1.0, 1.0))).toDF("id", "vec"), store)
    assert(spark.read
      .parquet(GenStore.resolve(spark, s"$store/cells")).count() === 26L)
  }

  test("GenStore primitives: numbering, atomic repoint, vacuum keep-set") {
    val store = tmpDir("genprims")
    assert(GenStore.currentGen(spark, store) === None)
    assert(GenStore.resolve(spark, store) === store)
    assert(GenStore.nextGen(spark, store) === "gen-000000000")
    // commit is an overwrite-rename: repointing twice leaves one manifest
    new java.io.File(s"$store/gen-000000000").mkdirs()
    new java.io.File(s"$store/gen-000000001").mkdirs()
    GenStore.commit(spark, store, "gen-000000000")
    assert(GenStore.currentGen(spark, store) === Some("gen-000000000"))
    GenStore.commit(spark, store, "gen-000000001")
    assert(GenStore.currentGen(spark, store) === Some("gen-000000001"))
    assert(GenStore.nextGen(spark, store) === "gen-000000002")
    // vacuum drops exactly the non-kept generations; the manifest stays
    GenStore.vacuum(spark, store, keep = Set("gen-000000001"), dropLegacy = false)
    assert(genDirs(store) === Set("gen-000000001"))
    assert(GenStore.currentGen(spark, store) === Some("gen-000000001"))
  }
}
