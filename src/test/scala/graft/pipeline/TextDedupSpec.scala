package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.floor
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.kmeans.SparkTestSession
import graft.text.TextOps

/** Text-analysis + dedup operators (training-data pipeline extensions). */
class TextDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def docs(ds: (Long, String)*): DataFrame = ds.toDF("doc_id", "text")

  test("tokens/tokenCount: whitespace split of trimmed text") {
    val got = docs((1L, "  the quick  brown\tfox "))
      .select(TextOps.tokenCount($"text")).as[Int].head()
    assert(got === 4)
  }

  test("shingles: n=3 over tokens; short docs yield empty") {
    val d = docs((1L, "a b c d"), (2L, "a b"))
    val got = d.select($"doc_id", TextOps.shingles(TextOps.tokens($"text"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) === Seq("a b c", "b c d"))
    assert(got(2L) === Seq.empty)
  }

  test("fingerprint: whitespace/case-insensitive md5") {
    val d = docs((1L, "Hello   World"), (2L, "hello world"), (3L, "different"))
    val fps = d.select(TextOps.fingerprint($"text")).as[String].collect()
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
    // md5("hello world") — standard value, matches DuckDB
    assert(fps(1) === "5eb63bbbe01eeed093cb22bb8f5acdc3")
  }

  test("langId: stopword argmax with en-first tiebreak") {
    val d = docs(
      (1L, "the cat is in the hat"),
      (2L, "el gato es un animal y la casa"),
      (3L, "der hund ist ein tier und das haus"),
      (4L, "xyzzy plugh"))
    val got = d.select($"doc_id", TextOps.langId($"text")).as[(Long, String)]
      .collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "es")
    assert(got(3L) === "de")
    assert(got(4L) === "en") // all scores 0 -> preference order picks en
  }

  test("scrub redacts urls, emails, and phone numbers in fixed order") {
    val d = docs(
      (1L, "mail a.b@x.io or http://x.io/p?q=1 call +1 (555) 010-1234 ok"),
      (2L, "no pii here at all"))
    val got = d.select($"doc_id", TextOps.scrub($"text")).as[(Long, String)]
      .collect().toMap
    assert(got(1L) === "mail <EMAIL> or <URL> call <PHONE> ok")
    assert(got(2L) === "no pii here at all")
  }

  test("scrub phone guard: prose numerics with < 8 digits survive") {
    val d = docs(
      (1L, "the budget is 1 000 000 dollars"), // 7 digits: not a phone
      (2L, "score was 10 - 20 (30) yesterday"), // 6 digits: not a phone
      (3L, "dial 555 010 1234 now"), // 10 digits: phone-shaped
      (4L, "+49 (30) 1234-5678 bye")) // 12 digits: phone-shaped
    val got = d.select($"doc_id", TextOps.scrub($"text")).as[(Long, String)]
      .collect().toMap
    assert(got(1L) === "the budget is 1 000 000 dollars")
    assert(got(2L) === "score was 10 - 20 (30) yesterday")
    assert(got(3L) === "dial <PHONE> now")
    assert(got(4L) === "<PHONE> bye")
  }

  test("qualityFilter keeps clean docs, drops repetitive and too-short ones") {
    val good = (1 to 24).map(i => s"tok$i").mkString(" ")
    val repetitive = (Seq.fill(30)("spam") :+ "end").mkString(" ")
    val short = "way too short"
    val d = docs((1L, good), (2L, repetitive), (3L, short))
    val kept = TextOps
      .qualityFilter(d, maxTopTokRatio = 0.2, minDistinctRatio = 0.3, minTokens = 20L)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("repetitionSignals: top-token dominance and distinct ratio") {
    val d = docs((1L, "a a a b"), (2L, "w x y z"))
    val got = TextOps.repetitionSignals(d)
      .as[(Long, Double, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((0.75, 0.5, 4L)))  // 3-of-4 'a'; 2 distinct of 4
    assert(got(2L) === ((0.25, 1.0, 4L)))  // uniform; all distinct
  }

  test("assignSplit: deterministic, id-pure, roughly 80/10/10") {
    val ids = (1L to 1000L).map(i => Tuple1(i)).toDF("doc_id")
    val splits = ids.select($"doc_id", TextOps.assignSplit($"doc_id").as("s"))
      .as[(Long, String)].collect()
    // pure function of id: a second evaluation agrees exactly
    val again = ids.repartition(7).select($"doc_id", TextOps.assignSplit($"doc_id").as("s"))
      .as[(Long, String)].collect()
    assert(splits.toMap === again.toMap)
    val n = splits.groupBy(_._2).view.mapValues(_.length).toMap
    assert(n.keySet === Set("train", "val", "test"))
    // md5 buckets are uniform-ish; wide tolerance keeps this non-flaky
    assert(n("train") > 700 && n("train") < 900, s"train=${n("train")}")
    assert(n("val") > 50 && n("test") > 50)
  }

  test("exact dedup groups duplicates under normalization") {
    val d = docs((1L, "A  b"), (2L, "a b"), (3L, "c"))
    val groups = Dedup.exactGroups(d)
      .select($"n", $"keep_id").as[(Long, Long)].collect().sortBy(_._2)
    assert(groups.toSeq === Seq((2L, 1L), (1L, 3L)))
    val kept = Dedup.exactDedup(d).select($"doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L))
  }

  test("jaccardPairs: identical docs have jac 1.0; disjoint absent") {
    val d = docs(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "v w x y z"))
    val pairs = Dedup.jaccardPairs(d, n = 3, threshold = 0.5)
      .select($"d1", $"d2", $"jac").as[(Long, Long, Double)].collect()
    assert(pairs.toSeq === Seq((1L, 2L, 1.0)))
  }

  test("containmentPairs: full benchmark quote hits 1.0; partial stays under tau") {
    val bench = docs((100L, "q w e r t"))
    val corpus = docs(
      (1L, "x y q w e r t z"), // all 3 bench shingles appear -> 1.0
      (2L, "q w e a a a a"),   // 1 of 3 -> 0.333 < tau
      (3L, "m n o p"))         // none
    val got = Dedup.containmentPairs(corpus, bench, n = 3, tau = 0.5)
      .select($"doc_id", $"bench_id", $"containment")
      .as[(Long, Long, Double)].collect()
    graft.util.OpCaches.releaseAll(spark)
    assert(got.toSeq === Seq((1L, 100L, 1.0)))
  }

  test("containmentPairs is asymmetric: a long doc quoting the benchmark " +
      "is flagged even though its Jaccard is low") {
    val bench = docs((100L, "q w e r t"))
    // 3 bench shingles inside a 20-token page: jaccard 3/18 = 0.17,
    // containment 1.0 — the case Jaccard-threshold dedup misses
    val page = "f1 f2 f3 f4 f5 f6 f7 f8 q w e r t g1 g2 g3 g4 g5 g6 g7"
    val jac = Dedup.jaccardPairs(
      docs((100L, "q w e r t"), (1L, page)), n = 3, threshold = 0.5).count()
    val cont = Dedup.containmentPairs(
      docs((1L, page)), bench, n = 3, tau = 0.99).count()
    graft.util.OpCaches.releaseAll(spark)
    assert(jac === 0L)
    assert(cont === 1L)
  }

  test("splitLeakage: cross-split near-dup pair flagged, same-split not") {
    // md5-bucket splits: ids 0,1,3 -> train, 16 -> val, 19 -> test
    val t = "alpha beta gamma delta epsilon zeta"
    val d = docs(
      (0L, t),
      (16L, t),                              // near-dup of 0, val vs train
      (1L, "one two three four five six"),
      (3L, "one two three four five six"),   // near-dup of 1, both train
      (19L, "lone wolf text nothing else here"))
    val got = TextOps.splitLeakage(d, n = 3, threshold = 0.4)
      .select($"d1", $"d2", $"split1", $"split2", $"jac")
      .as[(Long, Long, String, String, Double)].collect()
    graft.util.OpCaches.releaseAll(spark)
    assert(got.toSeq === Seq((0L, 16L, "train", "val", 1.0)))
  }

  test("sourceOverlap: exact per-source shingle-SET Jaccard (duplicate " +
      "docs collapse); maxSourceDf drops cross-source-universal shingles") {
    val d = Seq(
      (1L, "sa", "a b c d e"), // sa grams: abc bcd cde
      (2L, "sa", "a b c d e"), // duplicate doc — set semantics dedupe it
      (3L, "sb", "a b c d x"), // sb grams: abc bcd cdx
      (4L, "sc", "p q r s t")  // sc: disjoint
    ).toDF("doc_id", "source", "text")
    val got = Dedup.sourceOverlap(d, n = 3)
      .as[(String, String, Long, Double)].collect().toSet
    graft.util.OpCaches.releaseAll(spark)
    // sa ∩ sb = {abc, bcd} = 2, union = 4 -> 0.5; sc pairs are absent
    assert(got === Set(("sa", "sb", 2L, 0.5)))
    // shingles in > 1 source dropped -> the sa-sb pair disappears
    val capped = Dedup.sourceOverlap(d, n = 3, maxSourceDf = Some(1)).count()
    graft.util.OpCaches.releaseAll(spark)
    assert(capped === 0L)
  }

  test("ngramNovelty: distinct-gram fraction unseen in train, per eval doc") {
    // md5-bucket splits: ids 0,1,3 -> train, 16 -> val, 19 -> test
    val d = docs(
      (0L, "a b c d e"),         // train grams: abc bcd cde
      (1L, "a b c x y"),         // train grams: abc bcx cxy
      (16L, "a b c a b c d q"),  // distinct: abc bca cab bcd cdq — 2 seen
      (19L, "p q r s t"))        // all 3 grams novel
    val got = TextOps.ngramNovelty(d, n = 3)
      .select($"doc_id", $"split", $"n_shingles", $"novel", $"novelty")
      .as[(Long, String, Long, Long, Double)].collect().toSet
    graft.util.OpCaches.releaseAll(spark)
    assert(got === Set(
      (16L, "val", 5L, 3L, 0.6),
      (19L, "test", 3L, 3L, 1.0)))
  }

  test("ngramNovelty: eval docs shorter than n produce no row; train docs " +
      "never appear") {
    val d = docs(
      (0L, "a b c d"),   // train
      (16L, "a b"))      // val, 0 trigrams
    val got = TextOps.ngramNovelty(d, n = 3).count()
    graft.util.OpCaches.releaseAll(spark)
    assert(got === 0L)
  }

  test("incrementalNearDedup: corpus dup dropped, batch-internal keep-min-id, " +
      "corpus never dropped") {
    val corpus = docs(
      (1L, "a b c d e"),
      (2L, "v w x y z"))
    val batch = docs(
      (10L, "a b c d e"),  // dup of corpus doc 1 -> dropped
      (11L, "p q r s t"),  // dup pair within the batch: min id kept
      (12L, "p q r s t"),  //   -> dropped
      (13L, "fresh unique content nothing else"))
    val kept = Dedup.incrementalNearDedup(batch, corpus,
        n = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    graft.util.OpCaches.releaseAll(spark)
    assert(kept.toSeq === Seq(11L, 13L))
  }

  test("paragraphDedup: first global occurrence survives; all-dup docs drop") {
    val d = docs(
      (1L, "intro one\nshared boilerplate\nbody one"),
      (2L, "shared boilerplate\nbody two"),
      (3L, "Shared   BOILERPLATE"), // normalized dup of (1, pos 1) only
      (4L, "body two\nbody two"))   // cross-doc dup of (2, pos 1), twice
    val got = Dedup.paragraphDedup(d).as[(Long, String)].collect().toMap
    // (1,1) is the global first "shared boilerplate"; (2,1) the first "body two"
    assert(got(1L) === "intro one\nshared boilerplate\nbody one")
    assert(got(2L) === "body two")
    assert(!got.contains(3L)) // every paragraph was seen earlier -> dropped
    assert(!got.contains(4L))
  }

  test("paragraphDedup: match key is normalized, emitted text verbatim; " +
      "empty paragraphs never count as duplicates") {
    val d = docs(
      (1L, "Keep  ME\n\nalso this"),  // empty middle paragraph
      (2L, "keep me\nunique tail"))   // normalized dup of (1, pos 0)
    val got = Dedup.paragraphDedup(d).as[(Long, String)].collect().toMap
    assert(got(1L) === "Keep  ME\nalso this") // verbatim survivor, empty gone
    assert(got(2L) === "unique tail")
  }

  test("signature store: fromStore matches incrementalNearDedup; " +
      "appending survivors extends the corpus") {
    val corpus = docs(
      (1L, "a b c d e"),
      (2L, "v w x y z"))
    val batch = docs(
      (10L, "a b c d e"),  // dup of stored corpus doc 1 -> dropped
      (11L, "p q r s t"),  // batch-internal dup pair: min id kept
      (12L, "p q r s t"),  //   -> dropped
      (13L, "fresh unique content nothing else"))
    val store = java.nio.file.Files.createTempDirectory("sigstore").toString
    Dedup.writeSignatureStore(corpus, n = 3, numHashes = 12, bands = 4, store)
    val kept = Dedup.incrementalNearDedupFromStore(batch, store,
        n = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    graft.util.OpCaches.releaseAll(spark)
    assert(kept.toSeq === Seq(11L, 13L)) // same survivors as the text path
    // the daily tail step: append today's survivors, dedup tomorrow's batch
    Dedup.appendToSignatureStore(batch.filter($"doc_id".isin(11L, 13L)),
      n = 3, numHashes = 12, bands = 4, store)
    val batch2 = docs(
      (20L, "fresh unique content nothing else"), // dup of APPENDED doc 13
      (21L, "now for something new entirely today"))
    val kept2 = Dedup.incrementalNearDedupFromStore(batch2, store,
        n = 3, numHashes = 12, bands = 4, threshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted
    graft.util.OpCaches.releaseAll(spark)
    assert(kept2.toSeq === Seq(21L))
  }

  test("compactSignatureStore: file count drops, dedup results and store " +
      "rows identical pre/post") {
    val corpus = docs(
      (1L, "a b c d e"),
      (2L, "v w x y z"))
    val store = java.nio.file.Files.createTempDirectory("sigcompact").toString
    Dedup.writeSignatureStore(corpus, n = 3, numHashes = 12, bands = 4, store)
    // simulate the daily loop's small-file buildup: several tiny appends
    (0 until 4).foreach { day =>
      Dedup.appendToSignatureStore(
        docs((100L + day, s"day $day fresh content entirely new $day")),
        n = 3, numHashes = 12, bands = 4, store)
    }
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    val batch = docs(
      (200L, "a b c d e"),                      // dup of corpus doc 1
      (201L, "day 2 fresh content entirely new 2"), // dup of appended doc
      (202L, "genuinely novel words here only"))
    def survivors(): Seq[Long] = {
      val s = Dedup.incrementalNearDedupFromStore(batch, store,
          n = 3, numHashes = 12, bands = 4, threshold = 0.5)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      graft.util.OpCaches.releaseAll(spark)
      s
    }
    val filesBefore = parquetFiles(store)
    val rowsBefore = Dedup.readSignatureStore(spark, store)
      .collect().map(_.toString).sorted.toSeq
    val before = survivors()
    Dedup.compactSignatureStore(spark, store, targetFileRows = 1000L)
    // reader-visible layout: the ACTIVE generation holds one file for
    // 7 rows (pre-compaction legacy files linger one cycle as the
    // mid-query readers' grace copy — StoreCompactionAtomicitySpec
    // covers that lifecycle)
    val active = graft.util.GenStore.resolve(spark, store)
    assert(active !== store) // a generation manifest now governs reads
    assert(parquetFiles(active) === 1) // 7 rows, one file
    assert(parquetFiles(active) < filesBefore)
    assert(Dedup.readSignatureStore(spark, store)
      .collect().map(_.toString).sorted.toSeq === rowsBefore)
    assert(survivors() === before)
    assert(before === Seq(202L))
  }

  test("dupGroups reliable mode: same groups and rounds; checkpoint files " +
      "are released eagerly") {
    def groups(): (Map[Long, Long], Int) = {
      val (g, rounds) = Dedup.dupGroupsWithRounds(
        (1L until 30L).map(i => (i, i + 1)).toDF("d1", "d2"))
      val out = g.as[(Long, Long)].collect().toMap
      graft.util.OpCaches.releaseAll(spark)
      (out, rounds)
    }
    val (local, roundsLocal) = groups()
    // reliable mode is a checkpoint dir on the shared context, cleared
    // again so no later suite runs reliable
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val (reliable, roundsReliable) =
      try groups()
      finally org.apache.spark.GraftTestAccess.clearCheckpointDir(spark.sparkContext)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(reliable === local)
    assert(roundsReliable === roundsLocal)
    // superseded rounds were deleted during the run, the final round by
    // releaseAll: nothing rdd-* may survive in the checkpoint dir
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("rdd-")).toList
    assert(leftovers.isEmpty, s"checkpoint dirs not cleaned: $leftovers")
  }

  test("splitLeakageLsh: LSH candidates find the planted cross-split pair; " +
      "same-split near-dups never surface") {
    val t = "alpha beta gamma delta epsilon zeta"
    val d = docs(
      (0L, t),
      (16L, t),                              // dup of 0, val vs train
      (1L, "one two three four five six"),
      (3L, "one two three four five six"),   // dup of 1, both train
      (19L, "lone wolf text nothing else here"))
    val got = TextOps.splitLeakageLsh(d, n = 3, numHashes = 12, bands = 4,
        threshold = 0.5)
      .select($"d1", $"d2", $"split1", $"split2", $"jac")
      .as[(Long, Long, String, String, Double)].collect()
    graft.util.OpCaches.releaseAll(spark)
    assert(got.toSeq === Seq((0L, 16L, "train", "val", 1.0)))
  }

  test("splitLeakageLsh on the fixture is a subset of the exact audit " +
      "(LSH recall trades against the self-join)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val lsh = TextOps.splitLeakageLsh(d, n = 3, numHashes = 12, bands = 4,
        threshold = 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    graft.util.OpCaches.releaseAll(spark)
    val exact = TextOps.splitLeakage(d, n = 3, threshold = 0.5)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    graft.util.OpCaches.releaseAll(spark)
    assert(lsh.subsetOf(exact), s"LSH reported non-pairs: ${lsh -- exact}")
    assert(lsh.nonEmpty, "fixture plants cross-split near-dups; LSH found none")
  }

  test("sourceMixExact: per-source counts are exactly floor(share*M)") {
    val rows =
      (1L to 10L).map(i => (i, "t " * 5, "a")) ++
        (11L to 50L).map(i => (i, "t " * 5, "b")) ++
        (51L to 60L).map(i => (i, "t " * 5, "c"))
    val d = rows.toDF("doc_id", "text", "source")
    // M = min(10/0.5, 40/0.5) = 20 -> targets a = b = floor(0.5*20) = 10
    val kept = TextOps.sourceMixExact(d, Map("a" -> 0.5, "b" -> 0.5))
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(bySrc("a").length === 10)
    assert(bySrc("b").length === 10)          // EXACT, not ±O(√n)
    assert(!bySrc.contains("c"))
    // membership = the 10 lowest hash-uniform draws of b (id tiebreak)
    val expectB = d.filter($"source" === "b")
      .select($"doc_id", TextOps.hashUniform($"doc_id", "mix").as("u"))
      .as[(Long, Double)].collect().sortBy(r => (r._2, r._1)).take(10)
      .map(_._1).sorted.toSeq
    assert(bySrc("b") === expectB)
  }

  test("hashUniform: in [0,1), id-deterministic, salt-independent") {
    val d = (1L to 200L).map(i => (i, "x")).toDF("doc_id", "text")
    val us = d.select(
      TextOps.hashUniform($"doc_id", "a").as("ua"),
      TextOps.hashUniform($"doc_id", "b").as("ub"))
      .as[(Double, Double)].collect()
    assert(us.forall { case (a, b) => a >= 0.0 && a < 1.0 && b >= 0.0 && b < 1.0 })
    // distinct salts give different draws (not a shifted copy)
    assert(us.count { case (a, b) => math.abs(a - b) < 1e-9 } === 0)
    // same salt, same id -> same draw on a re-run
    val again = d.select(TextOps.hashUniform($"doc_id", "a")).as[Double].collect()
    assert(again.toSeq === us.map(_._1).toSeq)
  }

  test("qualitySample keeps exactly the docs with u < truncated quality") {
    val d = docs(
      (1L, "the quick brown fox jumps over the lazy dog and then some more"),
      (2L, "a b"),
      (3L, "the of and to a in is it the of and to a in is it"),
      (4L, "!!! ??? ### $$$"))
    val kept = TextOps.qualitySample(d)
      .select($"doc_id", $"q", $"u").as[(Long, Double, Double)].collect()
    assert(kept.forall { case (_, q, u) => u < q })
    // reference check: recompute q and u independently and re-derive the set
    val all = d.select(
      $"doc_id",
      (floor(TextOps.qualityScore($"text") * 1e6) / 1e6).as("q"),
      TextOps.hashUniform($"doc_id", "smp").as("u"))
      .as[(Long, Double, Double)].collect()
    assert(kept.map(_._1).sorted.toSeq ===
      all.filter { case (_, q, u) => u < q }.map(_._1).sorted.toSeq)
  }

  test("shuffleShards: a permutation into shards with consecutive 1-based " +
      "positions, reproducible across runs") {
    val d = (1L to 120L).map(i => (i, "x")).toDF("doc_id", "text")
    val got = TextOps.shuffleShards(d, shards = 4)
      .as[(Long, Int, Int)].collect()
    // every doc exactly once, shards in range
    assert(got.map(_._1).sorted.toSeq === (1L to 120L))
    assert(got.forall { case (_, s, _) => s >= 0 && s < 4 })
    // within each shard, pos is exactly 1..n_shard and follows (u, id) order
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1 to rows.length))
    }
    // id-pure: a re-run lands every doc in the same (shard, pos)
    val again = TextOps.shuffleShards(d, shards = 4)
      .as[(Long, Int, Int)].collect()
    assert(again.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
    // sized variant: target of 30 docs/shard over 120 docs => 4 shards,
    // identical output
    val sized = TextOps.shuffleShardsSized(d, targetDocsPerShard = 30L)
      .as[(Long, Int, Int)].collect()
    assert(sized.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }

  test("bm25TopK: term-bearing docs score, rarer terms weigh more, " +
      "k bounds the output") {
    val d = docs(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark spark spark and more spark"),
      (3L, "the cluster runs jobs"),
      (4L, "nothing relevant here at all"))
    val got = TextOps.bm25TopK(d, Seq("spark", "cluster"), k = 10)
      .as[(Long, Double)].collect()
    // doc 4 holds no query term: absent
    assert(got.map(_._1).toSet === Set(1L, 2L, 3L))
    assert(got.forall(_._2 > 0.0))
    // doc 1 holds BOTH terms: must beat doc 3 (one term, same df)
    val score = got.toMap
    assert(score(1L) > score(3L))
    // k truncates in score order
    val top1 = TextOps.bm25TopK(d, Seq("spark", "cluster"), k = 1)
      .as[(Long, Double)].collect()
    assert(top1.length === 1 && top1.head._1 === got.head._1)
  }

  test("ngramTopK: bigram counts across docs, ties rank by ngram, " +
      "short docs contribute nothing") {
    val d = docs(
      (1L, "a b c"),
      (2L, "a b d"),
      (3L, "x"))
    val got = TextOps.ngramTopK(d, n = 2, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a b", 2L), ("b c", 1L), ("b d", 1L)))
    // k truncates after the (cnt desc, ngram asc) order
    assert(TextOps.ngramTopK(d, n = 2, k = 1)
      .as[(String, Long)].collect().toSeq === Seq(("a b", 2L)))
  }

  test("bm25 store: bm25TopKFromStore reproduces bm25TopK exactly; " +
      "ngramTopKPruned floors the exact counts") {
    val d = docs(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark spark spark and more spark"),
      (3L, "the cluster runs jobs"),
      (4L, "nothing relevant here at all"))
    val store = java.nio.file.Files.createTempDirectory("bm25idx").toString
    TextOps.writeBm25Index(d, store, targetFileRows = 3L)
    val inline = TextOps.bm25TopK(d, Seq("spark", "cluster"), k = 10)
      .as[(Long, Double)].collect().toSeq
    val stored = TextOps.bm25TopKFromStore(
        spark, Seq("spark", "cluster"), store, k = 10)
      .as[(Long, Double)].collect().toSeq
    graft.util.OpCaches.releaseAll(spark)
    assert(stored === inline) // same rows, same order, bit-equal scores
    // pruned n-gram counting: same head as exact when the floor is below
    // the k-th count; above it, only the floored rows remain
    val ng = docs((1L, "a b c"), (2L, "a b d"), (3L, "a b c"))
    assert(TextOps.ngramTopKPruned(ng, n = 2, k = 10, minCount = 2)
      .as[(String, Long)].collect().toSeq
      === Seq(("a b", 3L), ("b c", 2L)))
    assert(TextOps.ngramTopKPruned(ng, n = 2, k = 10, minCount = 1)
      .as[(String, Long)].collect().toSeq
      === TextOps.ngramTopK(ng, n = 2, k = 10)
        .as[(String, Long)].collect().toSeq)
  }

  test("distinctVocabApprox tracks the exact vocabulary within the " +
      "sketch bound and agrees under sharded merge") {
    val d = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val exact = d
      .select($"source", org.apache.spark.sql.functions
        .explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"source")
      .agg(org.apache.spark.sql.functions
        .countDistinct($"tok").as("vocab"))
      .as[(String, Long)].collect().toMap
    val approx = TextOps.distinctVocabApprox(d)
      .as[(String, Long)].collect().toMap
    assert(approx.keySet === exact.keySet)
    for ((src, ex) <- exact) {
      val err = math.abs(approx(src) - ex).toDouble / ex
      assert(err <= 0.15, s"$src: approx=${approx(src)} exact=$ex err=$err")
    }
    // mergeability: the sketch of the whole equals merging per-shard
    // sketches — HLL union is exact, so a sharded run loses nothing
    val sharded = TextOps.distinctVocabApprox(d.repartition(8))
      .as[(String, Long)].collect().toMap
    assert(sharded === approx)
  }

  test("bm25 store append + compaction: build+append answers bit-equal " +
      "to a full rebuild; compaction shrinks files and changes nothing") {
    val d1 = docs(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark spark spark and more spark"),
      (3L, "the cluster runs jobs"))
    val d2 = docs(
      (4L, "cluster cluster spark again"),
      (5L, "nothing relevant here at all"))
    val store = java.nio.file.Files.createTempDirectory("bm25app").toString
    val full = java.nio.file.Files.createTempDirectory("bm25full").toString
    TextOps.writeBm25Index(d1, store, targetFileRows = 2L)
    // simulate the daily-ingest loop: two append segments
    TextOps.appendToBm25Index(d2.filter($"doc_id" === 4L), store)
    TextOps.appendToBm25Index(d2.filter($"doc_id" === 5L), store)
    TextOps.writeBm25Index(d1.unionByName(d2), full, targetFileRows = 2L)
    def topk(path: String): Seq[(Long, Double)] = {
      val r = TextOps.bm25TopKFromStore(
          spark, Seq("spark", "cluster"), path, k = 10)
        .as[(Long, Double)].collect().toSeq
      graft.util.OpCaches.releaseAll(spark)
      r
    }
    val appended = topk(store)
    assert(appended === topk(full)) // same rows, same order, bit-equal
    // df deltas really are per-segment rows pre-compaction: "cluster"
    // appears in the base segment and the first append segment
    val dfRows = spark.read.parquet(s"$store/terms")
      .filter($"term" === "cluster").count()
    assert(dfRows === 2L)
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    // bucket-aligned writes: each of the 3 segments (base + 2 appends)
    // lands at most ONE file per bucket dir — not one per nonempty
    // (write-task, bucket) pair, the pre-repartition layout that
    // multiplied small files by the writer's task count
    for (comp <- Seq("postings", "terms");
         d <- new java.io.File(s"$store/$comp").listFiles
           if d.isDirectory && d.getName.startsWith("tbucket=")) {
      val n = d.listFiles.count(_.getName.endsWith(".parquet"))
      assert(n <= 3, s"$comp/${d.getName}: $n files for 3 segments")
    }
    val filesBefore = parquetFiles(store)
    TextOps.compactBm25Index(spark, store, targetFileRows = 1000L)
    // reader-visible layout: queries resolve the generation manifest to
    // the compacted copy (legacy files linger one cycle as the
    // mid-query readers' grace copy)
    val active = graft.util.GenStore.resolve(spark, store)
    assert(active !== store)
    assert(parquetFiles(active) < filesBefore)
    // folded: one row per term, one stats row, one file per bucket dir
    assert(spark.read.parquet(s"$active/terms")
      .filter($"term" === "cluster").count() === 1L)
    assert(spark.read.parquet(s"$active/stats").count() === 1L)
    assert(topk(store) === appended)
    // a store with inconsistent bucket counts is refused, not mis-pruned
    val bad = java.nio.file.Files.createTempDirectory("bm25bad").toString
    TextOps.writeBm25Index(d1, bad, targetFileRows = 2L)
    Seq((0L, 0L, 16)).toDF("n", "sum_dl", "n_buckets")
      .write.mode("append").parquet(s"$bad/stats")
    intercept[IllegalArgumentException] {
      TextOps.bm25TopKFromStore(spark, Seq("spark"), bad, k = 5)
    }
  }

  test("ngramTopKPruned shard pattern: a per-shard floor of " +
      "ceil(minCount/#shards) never loses a globally-qualifying n-gram") {
    // the documented scale recipe: count per shard with the reduced
    // floor, union the shard heads as CANDIDATES, then an exact pass
    // (here: the global aggregate restricted to candidates) — membership
    // is the guarantee (counts come from the second pass, not the union)
    val rows = (1L to 30L).map { i =>
      val body =
        if (i % 3 == 0) "common phrase here"  // 10 docs, every shard
        else if (i % 7 == 0) "rare pair only" // 4 docs, uneven shards
        else s"unique text $i"
      (i, body)
    }
    val all = docs(rows: _*)
    val minCount = 4
    val nShards = 3
    val perShardFloor = (minCount + nShards - 1) / nShards // = 2
    val candidates = (0 until nShards)
      .map(s => TextOps.ngramTopKPruned(
        all.filter($"doc_id" % nShards === s), n = 2, k = 1000,
        minCount = perShardFloor))
      .reduce(_.unionByName(_))
      .select($"ngram").distinct()
      .as[String].collect().toSet
    val qualifying = TextOps.ngramTopKPruned(
        all, n = 2, k = 1000, minCount = minCount)
      .as[(String, Long)].collect().toSeq
    assert(qualifying.nonEmpty)
    assert(qualifying.map(_._1).toSet.subsetOf(candidates),
      s"lost qualifying n-grams: ${qualifying.map(_._1).toSet -- candidates}")
  }

  test("bm25TopK: tf saturates (k1) — ten repeats score below 10x one hit") {
    val d = docs(
      (1L, ("spark " * 10) + "a b c d e f g h i"),
      (2L, "spark a b c d e f g h i j k l m n o p q r"))
    val score = TextOps.bm25TopK(d, Seq("spark"), k = 2)
      .as[(Long, Double)].collect().toMap
    assert(score(1L) < 10.0 * score(2L))
    assert(score(1L) > score(2L))
  }

  test("sourceMix: scarcest source fully kept, abundant source thresholded, " +
      "unlisted source dropped") {
    val rows =
      (1L to 10L).map(i => (i, "t " * 5, "a")) ++
        (11L to 50L).map(i => (i, "t " * 5, "b")) ++
        (51L to 60L).map(i => (i, "t " * 5, "c"))
    val d = rows.toDF("doc_id", "text", "source")
    // shares 50/50, n_a=10, n_b=40 -> M=20, rate_a=1.0, rate_b=0.25
    val kept = TextOps.sourceMix(d, Map("a" -> 0.5, "b" -> 0.5))
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("a", 0) === 10)       // rate 1.0: all kept
    assert(bySrc.getOrElse("b", 0) < 40)         // rate 0.25: thresholded
    assert(!bySrc.contains("c"))                 // not in shares: dropped
    // the b survivors are exactly the hash-threshold set
    val expectB = d.filter($"source" === "b")
      .filter(TextOps.hashUniform($"doc_id", "mix") < 0.25)
      .select($"doc_id").as[Long].collect().sorted
    assert(kept.filter(_._2 == "b").map(_._1).sorted.toSeq === expectB.toSeq)
  }

  test("packSequences: concat-then-chunk bins from the running token total") {
    // one shard -> a single doc_id-ordered stream; token counts 3, 4, 5
    val d = docs((1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l"))
    val got = TextOps.packSequences(d, budget = 4L, shards = 1)
      .select($"doc_id", $"shard", $"bin", $"n_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // cum before each doc: 0, 3, 7 -> bins 0, 0, 1
    assert(got.toSeq === Seq((1L, 0L, 0L, 3L), (2L, 0L, 0L, 4L), (3L, 0L, 1L, 5L)))
    // multi-shard: every doc appears once, shard ids within range
    val sharded = TextOps.packSequences(d, budget = 4L, shards = 4)
      .select($"doc_id", $"shard").as[(Long, Long)].collect()
    assert(sharded.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(sharded.forall { case (_, s) => s >= 0 && s < 4 })
  }

  test("jaccardPairs maxShingleDf drops ubiquitous shingles") {
    val d = docs(
      (1L, "x x x a b c"),
      (2L, "x x x d e f"),
      (3L, "x x x g h i"))
    // "x x x" appears in all 3 docs; with df cap 2 it is dropped and no
    // pair survives
    val pairs = Dedup.jaccardPairs(d, 3, 0.1, maxShingleDf = Some(2L)).count()
    assert(pairs === 0L)
  }

  test("minHash candidates find near-identical docs and skip unrelated") {
    // capture probability at J is 1-(1-J^3)^4 — keep the near-dup pair's
    // Jaccard high (~0.87: 30 tokens, one changed) so the fixed hash
    // family catches it deterministically
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val d = docs(
      (1L, base),
      (2L, base.replace("tok17", "changed")),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))
    val cands = Dedup.minHashCandidates(d, n = 3, numHashes = 12, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simHash: 64-bit string; near-identical docs within small hamming") {
    val d = docs(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"))
    val fps = Dedup.simHash(d).as[(Long, String)].collect().toMap
    assert(fps.values.forall(s => s.length == 64 && s.forall(c => c == '0' || c == '1')))
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
    val pairs = Dedup.simHashPairs(d, maxDist = 3)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("simHashPairsCombo == simHashPairs on the documents fixture " +
    "(same exact pair set, combination-keyed candidates)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def collect(df: DataFrame): Set[(Long, Long, Int)] =
      df.select($"d1", $"d2", $"hamming".cast("int"))
        .as[(Long, Long, Int)].collect().toSet
    val four = collect(Dedup.simHashPairs(d, maxDist = 3))
    val combo = collect(Dedup.simHashPairsCombo(d, maxDist = 3))
    assert(combo === four)
    assert(four.nonEmpty) // fixture plants near-identical docs
    // recall bound is structural: flipping 3 bits spread over 3 DIFFERENT
    // 6-way blocks still leaves 3 blocks intact -> some combo matches
    val a = docs(
      (1L, "one two three four five six seven eight nine ten"),
      (2L, "one two three four five six seven eight nine ten"))
    assert(collect(Dedup.simHashPairsCombo(a, maxDist = 0)).map(p => (p._1, p._2))
      === Set((1L, 2L)))
  }

  test("bpeTokenCount: alpha runs, digit runs, single punctuation") {
    val got = docs((1L, "Hello, world42! x9"))
      .select(TextOps.bpeTokenCount($"text")).as[Int].head()
    // hello / , / world / 42 / ! / x / 9
    assert(got === 7)
  }

  test("rollingFingerprint: identical normalized docs agree; short docs safe") {
    val d = docs((1L, "The  Quick Fox"), (2L, "the quick fox"), (3L, "ab"))
    val fps = d.select($"doc_id", TextOps.rollingFingerprint($"text", 4))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) === fps(2L))
    assert(fps(3L) > 0L)
  }

  test("winnowing: shared substrings of length >= w+k-1 share a fingerprint") {
    val shared = "the quick brown fox jumps over the lazy dog repeatedly"
    val d = docs(
      (1L, s"PREFIX AAA $shared SUFFIX BBB"),
      (2L, s"other start $shared different end"),
      (3L, "completely unrelated content with zero overlap here"))
    val fps = TextOps.winnowFingerprints(d, k = 5, w = 8)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
  }

  test("dupGroups: connected components label by min doc id") {
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("d1", "d2")
    val groups = Dedup.dupGroups(pairs)
      .as[(Long, Long)].collect().toMap
    // chain 1-2-5 collapses to gid 1; pair 7-9 to gid 7
    assert(groups === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dupGroups: empty pair set yields empty labels, not an NPE") {
    val pairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.dupGroups(pairs).count() === 0L)
  }

  test("dupGroups: fails loudly when a chain exceeds maxRounds") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      Dedup.dupGroups(chain, maxRounds = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and converges fine with enough rounds
    val ok = Dedup.dupGroups(chain, maxRounds = 10).as[(Long, Long)].collect()
    assert(ok.forall(_._2 == 1L))
  }

  test("dupGroups: 50-node chain converges in O(log²n) star rounds") {
    // diameter 49 — the old per-hop min-label propagation threw at its
    // maxRounds=10 bound here; large-star/small-star contracts it in ~6
    val chain = (1L until 50L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (groups, rounds) = Dedup.dupGroupsWithRounds(chain)
    val got = groups.as[(Long, Long)].collect()
    assert(got.length === 50)
    assert(got.forall(_._2 == 1L))
    // the O(log²n) contract, locked: per-hop propagation would need ~49
    // rounds on diameter 49; star contraction must stay logarithmic
    assert(rounds <= 8, s"star CC took $rounds rounds on a 50-node chain")
  }

  test("dupGroups matches a union-find oracle on a random graph") {
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(60)(
        (rnd.nextInt(40).toLong + 1L, rnd.nextInt(40).toLong + 1L))
      .filter(p => p._1 != p._2)
    val got = Dedup.dupGroups(pairs.toDF("d1", "d2"))
      .as[(Long, Long)].collect()
    assert(got.map(_._1).distinct.length === got.length) // one label per node
    // driver-side union-find keeping the smaller root ⇒ root = component min
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(got.toMap === nodes.map(n => n -> find(n)).toMap)
  }

  test("canonicalDocs keeps the highest-quality member per group; " +
      "singletons pass through as their own keepers") {
    val d = docs(
      // group 1: doc 2 is longer with stopwords → higher quality score
      (1L, "zz zz"),
      (2L, "the quick brown fox jumps over the lazy dog and it is fine"),
      // group 7: equal text → equal q, lowest doc_id must win
      (7L, "same words here"),
      (9L, "same words here"),
      // singleton
      (4L, "alone in the corpus"))
    val groups = Seq((1L, 1L), (2L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "gid")
    val got = Dedup.canonicalDocs(d, groups)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    // independent reference for the selection: the operator's own quality
    // projection (separately oracle-tested), argmax by (q, -doc_id)
    val q = d.select($"doc_id",
        floor(TextOps.qualityScore($"text") * 1e6) / 1e6)
      .as[(Long, Double)].collect().toMap
    assert(q(2L) > q(1L)) // the premise of the group-1 case
    assert(q(7L) === q(9L)) // the premise of the tiebreak case
    assert(got.map(r => (r._1, r._2, r._4)).toSeq ===
      Seq((2L, 1L, 2L), (4L, 4L, 1L), (7L, 7L, 2L)))
    got.foreach(r => assert(r._3 === q(r._1)))
    // conservation: every corpus doc is either a keeper or absorbed
    assert(got.map(_._4).sum === 5L)
  }

  test("canonicalDocs on an empty group set passes every doc through") {
    val d = docs((1L, "a b c"), (2L, "d e f"))
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "gid")
    val got = Dedup.canonicalDocs(d, empty)
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._4)).toSeq ===
      Seq((1L, 1L, 1L), (2L, 2L, 1L)))
  }

  test("simHashWeighted: repetition shifts the fingerprint toward the heavy token") {
    val d = docs(
      (1L, "alpha beta"),
      (2L, "alpha alpha alpha alpha alpha alpha alpha alpha beta"),
      (3L, "alpha"))
    val fp = Dedup.simHashWeighted(d).as[(Long, String)].collect().toMap
    val unweighted = Dedup.simHash(d).as[(Long, String)].collect().toMap
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    // tf-weighting pulls doc 2 to (almost) pure-alpha's fingerprint
    assert(ham(fp(2L), fp(3L)) <= ham(unweighted(2L), fp(3L)))
    assert(fp(2L) === fp(3L)) // 8:1 majority: alpha wins every bit
    // unweighted treats docs 1 and 2 identically (same distinct set)
    assert(unweighted(1L) === unweighted(2L))
  }

  test("SimHashPack matches a plain-Scala reference on random corpora") {
    // independent reference: md5 per token, first 16 hex digits = 64 bits
    // (bit j = bit (3 - j%4) of hex digit j/4), ±1 votes, majority
    def refSimHash(tokens: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val w = new Array[Int](64)
      tokens.foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 16)
        for (j <- 0 until 64) {
          val digit = Integer.parseInt(hex(j / 4).toString, 16)
          val bit = (digit >> (3 - j % 4)) & 1
          w(j) += bit * 2 - 1
        }
      }
      w.map(x => if (x > 0) '1' else '0').mkString
    }
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map { id =>
      val n = 1 + rnd.nextInt(30)
      (id, Seq.fill(n)(s"w${rnd.nextInt(50)}").mkString(" "))
    }
    val got = Dedup.simHashWeighted(corpus.toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    corpus.foreach { case (id, text) =>
      assert(got(id) === refSimHash(text.split("\\s+").toSeq),
        s"doc $id mismatch")
    }
    // blocks render to the same bit string the bits mode emits
    val bits = Dedup.simHash(corpus.toDF("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    val blocks = Dedup.simHashBlocks(corpus.toDF("doc_id", "text"))
      .as[(Long, Seq[Int])].collect().toMap
    corpus.foreach { case (id, _) =>
      val rendered = blocks(id)
        .map(b => String.format("%16s", Integer.toBinaryString(b)).replace(' ', '0'))
        .mkString
      assert(rendered === bits(id), s"doc $id blocks/bits disagree")
    }
  }

  test("quality score is in [0,1] and favors stopword-rich prose") {
    val d = docs(
      (1L, "the cat is in the hat and it is a good cat today really"),
      (2L, "@@@ ### $$$ %%% ^^^ &&&"))
    val q = d.select($"doc_id", TextOps.qualityScore($"text")).as[(Long, Double)]
      .collect().toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(2L))
  }
}
