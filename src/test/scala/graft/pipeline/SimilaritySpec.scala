package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.SparkTestSession
import graft.sim.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def vecs(vs: (Long, Seq[Double])*): DataFrame =
    vs.map { case (id, v) => (id, v.toArray) }.toDF("id", "vec")

  test("cosine: orthogonal=0, parallel=1, antiparallel=-1") {
    val d = vecs(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)),
      (3L, Seq(2.0, 0.0)),
      (4L, Seq(-1.0, 0.0)))
    val sims = Similarity.cosineNearDupPairs(d, threshold = -2.0)
      .select($"d1", $"d2", $"sim").as[(Long, Long, Double)]
      .collect().map { case (a, b, s) => (a, b) -> s }.toMap
    assert(math.abs(sims((1L, 2L))) < 1e-12)
    assert(math.abs(sims((1L, 3L)) - 1.0) < 1e-12)
    assert(math.abs(sims((1L, 4L)) + 1.0) < 1e-12)
  }

  test("cosineNearDupPairs refuses corpora above the exact-baseline bound") {
    val d = vecs((1L to 8L).map(i => i -> Seq(i * 1.0, 1.0)): _*)
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(d, threshold = 0.9, maxExactRows = 5L)
    }
    assert(e.getMessage.contains("cosineLshNearDupPairs"))
    // at or under the bound the exact baseline still runs
    assert(Similarity.cosineNearDupPairs(d, threshold = 2.0, maxExactRows = 8L)
      .count() === 0L)
  }

  test("bruteForceTopK returns k neighbors ranked by similarity") {
    val d = vecs(
      (0L, Seq(1.0, 0.0)),
      (1L, Seq(0.9, 0.1)),
      (2L, Seq(0.5, 0.5)),
      (3L, Seq(0.0, 1.0)))
    val top = Similarity.bruteForceTopK(d.filter($"id" === 0), d, k = 2)
      .select($"cid", $"rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(top.map(_._1).toSeq === Seq(1L, 2L))
  }

  test("IVF top-k: coarse k-means cells + nprobe search reach good recall") {
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val queries = pts.filter($"id" < 10)
    val brute = Similarity.bruteForceTopK(queries, pts, k = 5)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, pts, k = 5, nlist = 8, nprobe = 4)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    // embeddings carry 10 planted clusters; probing half the cells should
    // recover most true neighbors (same-cluster vectors land together)
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    assert(ivf.forall { case (q, c) => q != c })
  }

  test("cosineLshNearDupPairs: precision 1.0 subset of exact, full recall on clones") {
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val exact = Similarity.cosineNearDupPairs(pts, threshold = 0.45)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineLshNearDupPairs(pts, threshold = 0.45,
        bands = 4, bitsPerBand = 4, d = 64)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    // exact verify after bucketing => every emitted pair is a true pair
    assert(lsh.subsetOf(exact))
    // banded OR-construction: P(candidate) = 1-(1-p^4)^4 ~ 0.54 at the
    // 0.45-cosine angle, higher for the planted near-identical clusters
    assert(exact.isEmpty || (lsh.size.toDouble / exact.size) > 0.2,
      s"LSH near-dup recall too low: ${lsh.size}/${exact.size}")
    // identical vectors always share every sign bit => always recovered
    val clones = vecs(
      (1L, Seq.fill(64)(0.5)),
      (2L, Seq.fill(64)(0.5)),
      (3L, (1 to 64).map(i => math.sin(i.toDouble))))
    val got = Similarity.cosineLshNearDupPairs(clones, 0.99,
        bands = 4, bitsPerBand = 4, d = 64)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)))
  }

  test("sizedBitsPerBand: smallest width with 2^bits * target >= n, " +
    "integer-exact (matches LENGTH(BIN(CEIL(n/t)-1)) in the oracle)") {
    // pinned values the sf0.01 / sf0.1 / 10x-scale corpora hit
    assert(Similarity.sizedBitsPerBand(500) === 3)
    assert(Similarity.sizedBitsPerBand(2000) === 5)
    assert(Similarity.sizedBitsPerBand(20000) === 9)
    // occupancy law: bucket count covers n at the target, within 2x of
    // minimal (exact-boundary n and n <= target clamp to 1 bit)
    for (n <- Seq(1L, 64L, 65L, 100L, 1000L, 123456L, 10000000L)) {
      val bits = Similarity.sizedBitsPerBand(n)
      assert((1L << bits) * 64L >= n, s"n=$n bits=$bits undercovers")
      assert(bits == 1 || (1L << (bits - 1)) * 64L < n,
        s"n=$n bits=$bits oversized")
    }
    // linearity of the candidate bound: 2^bits grows with n, so
    // n²/2^bits stays within [target/2, target]·n instead of n²/const
    val growth = Seq(1000L, 10000L, 100000L, 1000000L).map(n =>
      n.toDouble * n / (1L << Similarity.sizedBitsPerBand(n)) / n)
    assert(growth.forall(r => r >= 32.0 && r <= 64.0),
      s"per-row candidate factor drifted: $growth")
  }

  test("cosineLshNearDupPairsSized == explicit variant at the derived " +
    "width; still a precision-1.0 subset of exact") {
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val bits = Similarity.sizedBitsPerBand(pts.count()) // 500 rows -> 3
    val sized = Similarity.cosineLshNearDupPairsSized(
        pts, threshold = 0.45, bands = 4, d = 64)
      .select($"d1", $"d2", $"sim").as[(Long, Long, Double)].collect().toSet
    val explicit = Similarity.cosineLshNearDupPairs(
        pts, threshold = 0.45, bands = 4, bitsPerBand = bits, d = 64)
      .select($"d1", $"d2", $"sim").as[(Long, Long, Double)].collect().toSet
    assert(sized === explicit)
    val exact = Similarity.cosineNearDupPairs(pts, threshold = 0.45)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(sized.map(p => (p._1, p._2)).subsetOf(exact))
  }

  test("lshTopKSized == lshTopK at the derived width") {
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val queries = pts.filter($"id" < 10)
    val bits = Similarity.sizedBitsPerBand(pts.count()) // 500 -> 3
    val sized = Similarity.lshTopKSized(queries, pts, k = 5, d = 64)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect().toSet
    val explicit = Similarity.lshTopK(queries, pts, k = 5, bits = bits, d = 64)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(sized === explicit)
    assert(sized.nonEmpty)
  }

  test("cosineNearDedup keeps the lowest id of each near-dup pair") {
    val clones = vecs(
      (1L, Seq.fill(64)(0.5)),
      (2L, Seq.fill(64)(0.5)),      // dup of 1 -> dropped
      (5L, Seq.fill(64)(0.25)),     // parallel to 1 (cos=1) -> dropped
      (3L, (1 to 64).map(i => math.sin(i.toDouble))))
    val kept = Similarity.cosineNearDedup(clones, 0.99, bands = 4, bitsPerBand = 4, d = 64)
      .select($"id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("cosineLshNearDupPairs rejects ragged corpora") {
    val ragged = vecs((1L, Seq.fill(64)(1.0)), (2L, Seq.fill(63)(1.0)))
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineLshNearDupPairs(ragged, 0.5, bands = 4, bitsPerBand = 4, d = 64)
    }
    assert(e.getMessage.contains("dimensions"))
  }

  test("LSH signature is deterministic and bucket-joins find neighbors") {
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val planes = Similarity.hyperplanes(8, 64)
    assert(planes.length === 8 && planes.head.length === 64)
    assert(planes.head.forall(v => v >= -1.0 && v < 1.0))
    // determinism across invocations
    assert(Similarity.hyperplanes(8, 64).map(_.toSeq).toSeq === planes.map(_.toSeq).toSeq)

    val brute = Similarity.bruteForceTopK(pts.filter($"id" < 10), pts, k = 5)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(pts.filter($"id" < 10), pts, k = 5, bits = 4, d = 64)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    // recall of bucketed search vs exact (4 bits => ~1/16 of corpus per
    // bucket; same-cluster embeddings collide often). Require non-trivial
    // overlap rather than an exact bound — LSH is approximate by design.
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"LSH recall too low: $recall")
    // every LSH result is a genuine corpus vector with sim computed
    assert(lsh.forall { case (q, c) => q != c })
  }

  test("ivfTopKFromStore matches inline ivfTopK; norms read, not recomputed") {
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val queries = pts.filter($"id" < 10)
    val store = "target/graft_stores/ivf_spec"
    Similarity.writeIvfIndex(pts, nlist = 8, path = store)
    val inline = Similarity.ivfTopK(queries, pts, k = 5, nlist = 8, nprobe = 2)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    val stored = Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Int)].collect().toSet
    assert(stored === inline)
    // the cells scan reads the stored norm column instead of re-deriving it
    val plan = Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ivf_spec/cells"))
  }

  test("appendToIvfIndex: batch assigned with the stored quantizer, " +
      "index grows, appended vectors become searchable") {
    val store = "target/graft_stores/ivf_append_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(store))
    val corpus = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    Similarity.writeIvfIndex(corpus, nlist = 4, path = store)
    val centroidsBefore = spark.read.parquet(s"$store/centroids").collect()
    val nCells = spark.read.parquet(s"$store/cells").count()
    // append a batch: a clone of corpus vector 0 under a fresh id
    val v0 = corpus.filter($"id" === 0).select($"vec")
      .as[Array[Double]].head()
    val batch = Seq((100000L, v0)).toDF("id", "vec")
    Similarity.appendToIvfIndex(batch, store)
    // quantizer untouched, cells grew by the batch
    assert(spark.read.parquet(s"$store/centroids").collect().toSeq
      === centroidsBefore.toSeq)
    assert(spark.read.parquet(s"$store/cells").count() === nCells + 1)
    // the appended clone is now the top hit for its twin's query
    val top = Similarity.ivfTopKFromStore(
        corpus.filter($"id" === 0), store, k = 1, nprobe = 1)
      .select($"cid", $"sim").as[(Long, Double)].collect()
    assert(top.length === 1)
    assert(top.head._1 === 100000L && math.abs(top.head._2 - 1.0) < 1e-12)
  }

  test("appendToIvfIndex refit discipline: appends past 4x the recorded " +
      "fit count warn and still append") {
    val store = "target/graft_stores/ivf_growth_spec"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(store))
    val corpus = vecs((0L to 9L).map(i => i -> Seq(i * 1.0, 1.0)): _*)
    Similarity.writeIvfIndex(corpus, nlist = 2, path = store)
    // meta records the fit-time corpus size
    assert(spark.read.parquet(s"$store/meta")
      .select($"fit_count").as[Long].head() === 10L)
    // growth to 2x of fit: under the 4x default, appends fine
    val b1 = vecs((100L to 109L).map(i => i -> Seq(i * 1.0, 1.0)): _*)
    Similarity.appendToIvfIndex(b1, store)
    assert(spark.read.parquet(s"$store/cells").count() === 20L)
    // a batch that takes the index past 4x the fit count warns but
    // appends (results stay searchable)
    val big = vecs((200L to 230L).map(i => i -> Seq(i * 1.0, 1.0)): _*)
    Similarity.appendToIvfIndex(big, store)
    assert(spark.read.parquet(s"$store/cells").count() === 51L)
  }

  test("semDedup at nlist 80 keeps the cells of a driver-side argmin") {
    // 80 cells: past the 64 at which the final assignment used to switch
    // to a broadcast cross join
    val rnd = new scala.util.Random(11)
    val vs = (0L until 400L).map(i => i -> Seq.fill(4)(rnd.nextInt(32) / 4.0))
    val model = graft.kmeans.LloydN.iterateNSampled(
      vecs(vs: _*).select($"id".as("pid"), $"vec".as("features")), 80, 5, 100000L)
    // threshold above any cosine: nothing drops, every id keeps its cell
    val got = Similarity.semDedup(vecs(vs: _*), nlist = 80, threshold = 2.0)
      .as[(Long, Int)].collect().toMap
    val want = vs.map { case (id, v) =>
      id -> model.map(c => (c.dist2To(v.toArray), c.cid))
        .min(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))._2
    }.toMap
    assert(model.size === 80)
    assert(got === want)
  }

  test("compactIvfCells: file count drops, search results and quantizer " +
      "identical pre/post") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    val corpus = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val q = corpus.filter($"id" < 5)
    val store = "target/graft_stores/ivf_compact_false"
    rm(new java.io.File(store))
    Similarity.writeIvfIndex(corpus, nlist = 4, path = store)
    // a week of daily appends: small files accumulate
    (0 until 3).foreach { day =>
      val batch = corpus.filter($"id" >= 490)
        .select(($"id" + 100000L * (day + 1)).as("id"), $"vec")
      Similarity.appendToIvfIndex(batch, store)
    }
    val before = Similarity.ivfTopKFromStore(q, store, k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    val centroidsBefore =
      spark.read.parquet(s"$store/centroids").collect().toSeq
    val filesBefore = parquetFiles(s"$store/cells")
    Similarity.compactIvfCells(spark, store)
    // reader-visible layout: probes resolve the cells generation
    // manifest to the compacted copy (legacy files linger one cycle
    // as the mid-query readers' grace copy)
    val active = graft.util.GenStore.resolve(spark, s"$store/cells")
    assert(active !== s"$store/cells")
    assert(parquetFiles(active) < filesBefore)
    assert(Similarity.ivfTopKFromStore(q, store, k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq === before)
    assert(spark.read.parquet(s"$store/centroids").collect().toSeq
      === centroidsBefore)
  }

  test("ivfTopKFromStore validates nprobe against the stored nlist") {
    val store = "target/graft_stores/ivf_spec2"
    val pts = vecs((0L to 7L).map(i => i -> Seq(i * 1.0, 1.0)): _*)
    Similarity.writeIvfIndex(pts, nlist = 4, path = store)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromStore(pts, store, k = 2, nprobe = 9)
    }
    assert(e.getMessage.contains("nprobe"))
  }

  test("semDedup drops within-cell near-dups keep-min-id, keeps distinct docs") {
    // two tight groups far apart: k-means (nlist=2) separates them; each
    // group's parallel vectors dedup to the min id; the orthogonal
    // straggler in group B survives
    val d = vecs(
      (1L, Seq(10.0, 0.0, 0.0)),
      (2L, Seq(20.0, 0.0, 0.0)),   // parallel to 1 -> dropped
      (3L, Seq(0.0, 10.0, 0.0)),
      (4L, Seq(0.0, 30.0, 0.0)),   // parallel to 3 -> dropped
      (5L, Seq(0.0, 0.1, 9.0)))    // near 3's cell but not similar -> kept
    val kept = Similarity.semDedup(d, nlist = 2, threshold = 0.99)
      .select($"id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L))
  }

  test("semDedup only compares within cells: cross-cell duplicates survive") {
    // identical vectors planted in corpora whose k-means split assigns
    // them to different cells would survive; here we assert the converse
    // observable — the pair set semDedup prunes equals the within-cell
    // subset of the exact near-dup pairs
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      .select($"pid".as("id"), $"features".as("vec"))
    val cells = Similarity.semDedup(pts, nlist = 4, threshold = 0.45)
    val keptIds = cells.select($"id").as[Long].collect().toSet
    val exact = Similarity.cosineNearDupPairs(pts, threshold = 0.45)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    // every dropped doc is the max side of SOME exact near-dup pair
    val dropped = pts.select($"id").as[Long].collect().toSet -- keptIds
    assert(dropped.forall(d => exact.exists { case (a, b) => b == d && a < d }))
    // sized variant with target forcing ceil(n/target) == 4 agrees exactly
    val n = pts.count()
    val target = (n + 3) / 4
    val sized = Similarity.semDedupSized(pts, threshold = 0.45,
        targetCellSize = target)
      .select($"id").as[Long].collect().toSet
    assert(sized === keptIds)
  }

  // ------------------------------------------------------- random projection

  test("projectVectors is linear and deterministic") {
    val a = Seq.tabulate(8)(i => (i + 1).toDouble)
    val b = Seq.tabulate(8)(i => math.sin(i + 1))
    val combo = a.zip(b).map { case (x, y) => 2.0 * x - 3.0 * y }
    val d = vecs((1L, a), (2L, b), (3L, combo))
    val p = Similarity.projectVectors(d, dIn = 8, dOut = 4)
      .as[(Long, Seq[Double])].collect().toMap
    assert(p(1L).length === 4)
    // linearity: P(2a − 3b) = 2·Pa − 3·Pb (up to fp re-association)
    p(3L).zip(p(1L).zip(p(2L))).foreach { case (got, (pa, pb)) =>
      assert(math.abs(got - (2.0 * pa - 3.0 * pb)) < 1e-9)
    }
    val again = Similarity.projectVectors(d, dIn = 8, dOut = 4)
      .as[(Long, Seq[Double])].collect().toMap
    assert(again === p)
  }

  test("sign-LSH signatures are exactly the 1-bit quantization of the " +
      "projection (shared hyperplanes)") {
    val d = vecs(
      (1L, Seq.tabulate(8)(i => math.cos(i * 1.7) * (i + 1))),
      (2L, Seq.tabulate(8)(i => math.sin(i * 0.9) - 0.3)))
    val planes = Similarity.hyperplanes(16, 8)
    val sigs = d.select($"id", Similarity.lshSignature($"vec", planes))
      .as[(Long, String)].collect().toMap
    val projs = Similarity.projectVectors(d, dIn = 8, dOut = 16)
      .as[(Long, Seq[Double])].collect().toMap
    sigs.foreach { case (id, s) =>
      val expect = projs(id).map(x => if (x >= 0) '1' else '0').mkString
      assert(s === expect, s"id $id: sig $s != quantized projection $expect")
    }
  }

  test("projected-space ANN preserves cluster structure (JL sanity): " +
      "top-1 neighbors stay within their 64-d cluster") {
    // two tight clusters of 6 vectors in 64-d, centers far apart
    val rnd = new scala.util.Random(7)
    def jitter(center: Array[Double]) =
      center.map(_ + rnd.nextGaussian() * 0.05)
    val c1 = Array.tabulate(64)(i => math.sin(i * 0.3) * 3.0 + 5.0)
    val c2 = Array.tabulate(64)(i => math.cos(i * 0.7) * 3.0 - 5.0)
    val d = ((0L until 6L).map(i => (i, jitter(c1).toSeq)) ++
      (6L until 12L).map(i => (i, jitter(c2).toSeq)))
    val df = vecs(d: _*)
    val proj = Similarity.projectVectors(df, dIn = 64, dOut = 16)
      .select($"id", $"pvec".as("vec"))
    val top1 = Similarity.bruteForceTopK(proj, proj, k = 1)
      .as[(Long, Long, Double, Int)].collect()
    assert(top1.length === 12)
    top1.foreach { case (q, c, _, _) =>
      assert((q < 6) === (c < 6),
        s"projected neighbor of $q crossed clusters to $c")
    }
  }

  test("projectedRerankTopK with overscan covering the corpus equals " +
      "exact brute force (rerank IS the exact pass)") {
    val rnd = new scala.util.Random(11)
    val d = (0L until 10L).map(i => (i, Seq.fill(16)(rnd.nextGaussian())))
    val df = vecs(d: _*)
    // k·overscan = 9 >= corpus-1: every pair survives the projected cut
    val got = Similarity.projectedRerankTopK(
      df, df, dIn = 16, dOut = 4, k = 3, overscan = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(df, df, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got === exact)
  }

  test("projectedRerankTopK sims are ORIGINAL-space cosines and the " +
      "output is a subset of the projected candidate set") {
    val rnd = new scala.util.Random(3)
    val d = (0L until 20L).map(i => (i, Seq.fill(32)(rnd.nextGaussian())))
    val df = vecs(d: _*)
    val q = df.filter($"id" < 3)
    val got = Similarity.projectedRerankTopK(
      q, df, dIn = 32, dOut = 8, k = 2, overscan = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.nonEmpty && got.forall(_._4 <= 2))
    // sims must match the exact 32-d cosine, not the 8-d one
    val byId = d.toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    got.foreach { case (qid, cid, sim, _) =>
      assert(math.abs(sim - cos(byId(qid), byId(cid))) < 1e-9,
        s"($qid,$cid) sim $sim != original-space cosine")
    }
    // subset of the projected candidates (k·overscan = 6 per query)
    val proj = Similarity.projectVectors(df, dIn = 32, dOut = 8)
      .select($"id", $"pvec".as("vec"))
    val cands = Similarity.bruteForceTopK(
      proj.filter($"id" < 3), proj, k = 6)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    got.foreach { case (qid, cid, _, _) =>
      assert(cands((qid, cid)), s"($qid,$cid) not in the projected candidates")
    }
  }

  test("cosine edges + dupGroups label planted semantic clusters by their " +
      "minimum id; singletons stay out") {
    val base1 = Seq.tabulate(8)(i => math.sin(i * 0.4) + 2.0)
    val base2 = Seq.tabulate(8)(i => math.cos(i * 0.9) - 2.0)
    val d = vecs(
      (1L, base1), (2L, base1.map(_ * 1.01)), (5L, base1.map(_ * 0.99)),
      (7L, base2), (9L, base2.map(_ * 1.02)),
      (11L, Seq.tabulate(8)(i => if (i % 2 == 0) 1.0 else -1.0)))
    val pairs = Similarity.cosineNearDupPairs(d, threshold = 0.95)
      .select($"d1", $"d2")
    val got = graft.dedup.Dedup.dupGroups(pairs)
      .as[(Long, Long)].collect().toSet
    graft.util.OpCaches.releaseAll(spark)
    assert(got === Set(
      (1L, 1L), (2L, 1L), (5L, 1L),
      (7L, 7L), (9L, 7L)))
  }

  // ------------------------------------------------------------ hybrid RRF

  test("hybridRrfTopK fuses lexical and dense ranks with 1/(60+r) and " +
      "orders by the fused score") {
    // docs 1..4 carry the query term with different tf; embeddings are
    // 2-D with doc 2 closest to the anchor (id 9), then 3, then 1
    val docs = Seq(
      (1L, "needle a b c d e f g"),
      (2L, "needle needle needle a b"),
      (3L, "needle needle x y"),
      (4L, "nothing relevant here"),
      (9L, "anchor doc")).toDF("doc_id", "text")
    val vecs = Seq(
      (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.05)), (3L, Seq(1.0, 0.4)),
      (4L, Seq(-1.0, 0.0)), (9L, Seq(1.0, 0.0))).map { case (i, v) =>
      (i, v.toArray) }.toDF("id", "vec")
    val got = Similarity.hybridRrfTopK(
        docs, vecs, Seq("needle"), queryVecId = 9L, k = 5, kEach = 3)
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    graft.util.OpCaches.releaseAll(spark)
    val byDoc = got.map(r => r._1 -> r).toMap
    // lexical ranks by bm25 tf: 2 (tf 3), 3 (tf 2), 1 (tf 1); dense ranks
    // by cosine to (1,0): 2, 3, 1 — doc 4 and the anchor surface nowhere
    assert(byDoc(2L)._2 === Some(1L) && byDoc(2L)._3 === Some(1L))
    assert(byDoc(3L)._2 === Some(2L) && byDoc(3L)._3 === Some(2L))
    assert(byDoc(1L)._2 === Some(3L) && byDoc(1L)._3 === Some(3L))
    assert(!byDoc.contains(4L) && !byDoc.contains(9L))
    // fused score = sum of reciprocal ranks, truncated at 1e-9
    def rrf(l: Long, d: Long): Double =
      math.floor((1.0 / (60.0 + l) + 1.0 / (60.0 + d)) * 1e9) / 1e9
    assert(byDoc(2L)._4 === rrf(1, 1))
    assert(byDoc(1L)._4 === rrf(3, 3))
    // output is rrf-descending
    assert(got.map(_._4).sliding(2).forall(p => p.head >= p.last))
  }

  test("hybridRrfTopK keeps docs surfaced by only one ranker (null rank " +
      "on the other, single reciprocal term)") {
    // doc 5 has the term but a zero-ish opposite embedding; doc 6 is
    // dense-close but term-free
    val docs = Seq(
      (5L, "needle needle needle"),
      (6L, "irrelevant words only"),
      (9L, "anchor")).toDF("doc_id", "text")
    val vecs = Seq(
      (5L, Seq(-1.0, 0.0)), (6L, Seq(1.0, 0.1)), (9L, Seq(1.0, 0.0)))
      .map { case (i, v) => (i, v.toArray) }.toDF("id", "vec")
    val got = Similarity.hybridRrfTopK(
        docs, vecs, Seq("needle"), queryVecId = 9L, k = 5, kEach = 1)
      .as[(Long, Option[Long], Option[Long], Double)].collect()
      .map(r => r._1 -> r).toMap
    graft.util.OpCaches.releaseAll(spark)
    assert(got(5L)._2 === Some(1L) && got(5L)._3 === None)
    assert(got(6L)._2 === None && got(6L)._3 === Some(1L))
    assert(got(5L)._4 === math.floor(1.0 / 61.0 * 1e9) / 1e9)
    assert(got(6L)._4 === math.floor(1.0 / 61.0 * 1e9) / 1e9)
  }
}
