package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.kmeans.{Ops, SparkTestSession}
import graft.sim.Similarity
import graft.util.OpCaches

/** The cache-lifecycle contract: every operator that persists an internal
  * intermediate tracks it in [[graft.util.OpCaches]], and one
  * `releaseAll` after materializing the result drops every tracked block
  * — no persist-without-unpersist leak survives a query.
  *
  * Assertions are DELTA-based (no persistent RDDs beyond the pre-test
  * snapshot) rather than a bare `isEmpty`: suites share the JVM-wide test
  * session, and e.g. `dupGroups`' localCheckpoint blocks linger until the
  * async ContextCleaner collects them — a bare isEmpty would flake on
  * suite ordering. When the snapshot is empty the delta check IS the
  * isEmpty check.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docs: DataFrame = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
    (4L, "the quick brown fox jumps over the lazy dog"),
    (5L, "entirely different content on every token position here now")
  ).toDF("doc_id", "text")

  def vectors: DataFrame = Seq(
    (1L, Array(1.0, 0.0, 0.0, 0.0)),
    (2L, Array(0.99, 0.1, 0.0, 0.0)),
    (3L, Array(0.0, 1.0, 0.0, 0.0)),
    (4L, Array(0.0, 0.0, 1.0, 0.0))
  ).toDF("id", "vec")

  def points: DataFrame =
    (1L to 40L).map(i => (i, i * 1.0, i * 2.0)).toDF("pid", "x", "y")

  def assertReleased(label: String)(run: => DataFrame): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = run
    // materialize end-to-end the way the harness does
    result.write.mode("overwrite").format("noop").save()
    assert(
      OpCaches.trackedCount(spark) > 0,
      s"$label: operator did not register its cache in OpCaches")
    OpCaches.releaseAll(spark)
    assert(OpCaches.trackedCount(spark) === 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"$label leaked persistent RDD ids: $leaked")
  }

  test("jaccardPairs releases its shingle-index cache") {
    assertReleased("jaccardPairs") {
      Dedup.jaccardPairs(docs, n = 3, threshold = 0.5, maxShingleDf = Some(50L))
    }
  }

  test("minHashCandidates releases its LSH-bucket cache") {
    assertReleased("minHashCandidates") {
      Dedup.minHashCandidates(docs, n = 3, numHashes = 16, bands = 4)
    }
  }

  test("simHashPairs releases its block-fingerprint cache") {
    assertReleased("simHashPairs")(Dedup.simHashPairs(docs, maxDist = 3))
  }

  test("containmentPairs releases its benchmark-index cache") {
    assertReleased("containmentPairs") {
      Dedup.containmentPairs(
        docs, docs.limit(2), n = 3, tau = 0.5)
    }
  }

  test("incrementalNearDedup releases its key and bucket caches") {
    assertReleased("incrementalNearDedup") {
      Dedup.incrementalNearDedup(
        docs.filter($"doc_id" > 2L), docs.filter($"doc_id" <= 2L),
        n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    }
  }

  test("cosineLshNearDupPairs releases its signature cache") {
    assertReleased("cosineLshNearDupPairs") {
      Similarity.cosineLshNearDupPairs(
        vectors, threshold = 0.9, bands = 4, bitsPerBand = 4, d = 4)
    }
  }

  test("splitContiguous releases its range-partitioned cache") {
    assertReleased("splitContiguous")(Ops.splitContiguous(points, 5))
  }

  test("dupGroups releases superseded rounds inline and the final round via releaseAll") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (7L, 8L))
      .toDF("d1", "d2")
    val groups = Dedup.dupGroups(pairs)
    groups.write.mode("overwrite").format("noop").save()
    // only the FINAL checkpoint round may still hold blocks here —
    // superseded rounds were released inside the loop, not left to the
    // async ContextCleaner
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.size <= 1, s"superseded CC rounds leaked: $during")
    OpCaches.releaseAll(spark)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"dupGroups leaked persistent RDD ids: $leaked")
  }

  test("nearDedup shares one shingle-key pass and releases its key cache") {
    assertReleased("nearDedup") {
      Dedup.nearDedup(docs, n = 3, numHashes = 16, bands = 4, threshold = 0.5)
    }
  }

  test("the e2e pipeline's stage barriers, cap cache and survivor " +
      "checkpoint are all released") {
    assertReleased("pipelineSurvivors + pack") {
      graft.text.TextOps.packSequences(
        graft.SparkEntry.pipelineSurvivors(spark, "/root/testdata/sf0.001"),
        budget = 512L, shards = 8)
    }
  }

  test("fixed-iteration Lloyd loops cache their input and release it on return") {
    import graft.kmeans.{Lloyd, LloydN}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cs = Lloyd.iterate(points, k = 3, iters = 3)
    assert(cs.size === 3)
    val csF32 = Lloyd.iterateF32(points, k = 3, iters = 3)
    assert(csF32.size === 3)
    val nPts = (1L to 40L).map(i => (i, Array(i * 1.0, i * 2.0, i * 3.0)))
      .toDF("pid", "features")
    val csN = LloydN.iterateN(nPts, k = 3, iters = 3)
    assert(csN.size === 3)
    // eager loops own their cache via try/finally — nothing may survive
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"fixed-iteration loop leaked persistent RDDs: $leaked")
  }

  test("releaseAll on a session with nothing tracked is a no-op") {
    OpCaches.releaseAll(spark)
    assert(OpCaches.trackedCount(spark) === 0)
  }
}
