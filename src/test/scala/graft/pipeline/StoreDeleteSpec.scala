package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.kmeans.SparkTestSession
import graft.sim.Similarity
import graft.text.TextOps
import graft.util.GenStore

/** Tombstone deletes for the three persisted stores
  * ([[graft.util.Tombstones]]) — the takedown leg of the stores'
  * log-structured CRUD:
  *
  *  - BM25: a deleted store answers BIT-IDENTICALLY to a fresh index
  *    over the remaining corpus (negated stats/df segments + postings
  *    tombstone), and compaction folds the tombstones away physically
  *    without changing answers.
  *  - Signature store: deleted ids vanish from reads and stop
  *    suppressing near-dups; results match a store that never held
  *    them; deleting absent ids is a no-op.
  *  - IVF: deleted vectors never surface and survivors rank exactly as
  *    probes over the remaining rows (same quantizer); every tier's
  *    tombstones fold at compaction.
  */
class StoreDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(); ()
  }

  private def fresh(name: String): String = {
    val dir = new java.io.File(s"target/test_stores/$name")
    rm(dir)
    dir.toString
  }

  private def rows(df: DataFrame): Seq[String] = {
    val r = df.collect().map(_.toString).sorted.toSeq
    graft.util.OpCaches.releaseAll(spark)
    r
  }

  private def tombstoneDirs(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f +: f.listFiles.toSeq.flatMap(walk) else Seq(f)
    val f = new java.io.File(root)
    if (!f.exists) Seq.empty
    else walk(f).filter(d => d.isDirectory && d.getName == "_tombstones")
  }

  // 20 corpus docs: doc i%4==1 shares doc i-1's 12-token prefix (a
  // near-dup family), the rest have unique prefixes. wordsFor is shared
  // with the batch builder so look-alikes are exact by construction.
  private def wordsFor(i: Int): Seq[String] =
    if (i % 4 == 1) (0 until 12).map(j => s"w${i - 1}_$j") :+ s"drift$i"
    else (0 until 12).map(j => s"w${i}_$j") :+ s"tail$i"

  private lazy val docs =
    (0 until 40).map(i => (i.toLong, wordsFor(i).mkString(" ")))
      .toDF("doc_id", "text")

  private val terms = Seq("w4_0", "w8_1", "drift5")

  test("bm25 delete: deleted store answers bit-identically to a fresh " +
    "index over the remaining corpus; compaction folds tombstones away") {
    val full = fresh("bm25_del_full")
    val remaining = fresh("bm25_del_remaining")
    val deletedPred = col("doc_id") % 3 === 1

    TextOps.writeBm25Index(docs, full, targetFileRows = 64L)
    TextOps.deleteFromBm25Index(docs.filter(deletedPred), full)
    TextOps.writeBm25Index(docs.filter(!deletedPred), remaining, targetFileRows = 64L)

    val afterDeleteDf = TextOps.bm25TopKFromStore(spark, terms, full, k = 10)
    assert(afterDeleteDf.filter(col("doc_id") % 3 === 1).count() == 0L,
      "deleted doc surfaced")
    val afterDelete = rows(afterDeleteDf)
    val rebuilt = rows(TextOps.bm25TopKFromStore(spark, terms, remaining, k = 10))
    assert(afterDelete == rebuilt)
    assert(tombstoneDirs(full).nonEmpty, "delete should write a tombstone dir")

    // compaction folds the tombstones physically: the new generation has
    // none, and answers are unchanged
    TextOps.compactBm25Index(spark, full)
    val gen = GenStore.resolve(spark, full)
    assert(tombstoneDirs(gen).isEmpty,
      s"compacted generation $gen still carries tombstones")
    assert(rows(TextOps.bm25TopKFromStore(spark, terms, full, k = 10)) == rebuilt)
  }

  test("bm25 delete: a term whose every bearing doc is deleted folds to " +
    "a dropped df row at compaction") {
    val store = fresh("bm25_del_term")
    TextOps.writeBm25Index(docs, store, targetFileRows = 130L)
    // drift5 occurs only in doc 5
    TextOps.deleteFromBm25Index(docs.filter(col("doc_id") === 5), store)
    TextOps.compactBm25Index(spark, store)
    val gen = GenStore.resolve(spark, store)
    val husks = spark.read.parquet(s"$gen/terms")
      .filter(col("term") === "drift5").count()
    assert(husks == 0L, "fully-deleted term should not survive compaction")
  }

  test("signature store delete: deleted ids vanish from reads, stop " +
    "suppressing near-dups, and absent-id deletes are no-ops") {
    val store = fresh("sig_del")
    val storeWithout = fresh("sig_without")
    val corpus = docs.filter(col("doc_id") < 20)
    // batch docs 20..23 are look-alikes of UNIQUE-prefix corpus docs
    // (2, 3, 6, 7 — docs whose prefix no other corpus doc shares);
    // 24..39 keep their own text
    val lookalike = Map(20 -> 2, 21 -> 3, 22 -> 6, 23 -> 7)
    val batch = (20 until 40).map { i =>
      val words = lookalike.get(i) match {
        case Some(t) => wordsFor(t).init :+ s"batchdrift$i"
        case None => wordsFor(i)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")

    Dedup.writeSignatureStore(corpus, n = 3, numHashes = 12, bands = 4, store)
    // delete corpus docs 2 and 6 — their batch look-alikes (20, 22) must
    // now survive, while 21 and 23 still drop against live 3 and 7
    Dedup.deleteFromSignatureStore(spark, store, Seq(2L, 6L).toDF("doc_id"))
    assert(Dedup.readSignatureStore(spark, store)
      .filter(col("doc_id").isin(2L, 6L)).count() == 0L)

    Dedup.writeSignatureStore(
      corpus.filter(!col("doc_id").isin(2L, 6L)),
      n = 3, numHashes = 12, bands = 4, storeWithout)
    val afterDelete = rows(
      Dedup.incrementalNearDedupFromStore(
        batch, store, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
        .select(col("doc_id")))
    val neverHeld = rows(
      Dedup.incrementalNearDedupFromStore(
        batch, storeWithout, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
        .select(col("doc_id")))
    assert(afterDelete == neverHeld)
    assert(afterDelete.contains("[20]") && afterDelete.contains("[22]"),
      "batch look-alikes of deleted corpus docs must survive")
    assert(!afterDelete.contains("[21]") && !afterDelete.contains("[23]"),
      "look-alikes of live corpus docs must still drop")

    // absent-id delete: no-op
    Dedup.deleteFromSignatureStore(spark, store, Seq(999L).toDF("doc_id"))
    assert(rows(
      Dedup.incrementalNearDedupFromStore(
        batch, store, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
        .select(col("doc_id"))) == neverHeld)

    // compaction folds the tombstones; results and store rows unchanged
    val before = rows(Dedup.readSignatureStore(spark, store))
    Dedup.compactSignatureStore(spark, store)
    assert(tombstoneDirs(GenStore.resolve(spark, store)).isEmpty)
    assert(rows(Dedup.readSignatureStore(spark, store)) == before)
  }

  private lazy val vecs = {
    // 60 vectors in 4-D: id i at angle i·π/120 on the unit circle of
    // dims (0,1), plus a small dim-2 ramp to break exact ties
    (0 until 60).map { i =>
      val a = i * math.Pi / 120.0
      (i.toLong, Array(math.cos(a), math.sin(a), 0.01 * i, 1.0))
    }.toDF("id", "vec")
  }

  test("ivf delete: deleted vectors never surface, survivors rank as if " +
    "the store never held them, and compaction folds every tier") {
    val store = fresh("ivf_del")
    Similarity.writeIvfIndexSq(vecs, nlist = 4, path = store)
    val queries = vecs.filter(col("id") < 5)
    // ids 5..15 sit inside every query's neighborhood, so the delete
    // must visibly change the top-5s
    val deleted = (5L until 16L).toDF("id")

    val before = rows(
      Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2))
    Similarity.deleteFromIvfIndex(spark, store, deleted)

    val exact = Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2)
    val sq = Similarity.ivfTopKFromStoreSq(queries, store, k = 5, nprobe = 2)
    val exactRows = rows(exact)
    assert(exactRows != before, "deleting ranked neighbors must change results")
    assert(exact.filter(col("cid") >= 5 && col("cid") < 16).count() == 0L)
    assert(sq.filter(col("cid") >= 5 && col("cid") < 16).count() == 0L)
    // the SQ tier honors the same tombstones (its re-rank is exact, so
    // on this well-separated fixture both paths agree)
    assert(rows(sq) == exactRows)

    Similarity.compactIvfCells(spark, store)
    for (tier <- Seq("cells", "cells_sq")) {
      val gen = GenStore.resolve(spark, s"$store/$tier")
      assert(tombstoneDirs(gen).isEmpty, s"$tier kept tombstones post-compact")
      assert(spark.read.parquet(gen)
        .filter(col("cid_id") >= 5 && col("cid_id") < 16).count() == 0L,
        s"$tier kept deleted rows post-compact")
    }
    assert(rows(
      Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2))
      == exactRows)
  }
}
