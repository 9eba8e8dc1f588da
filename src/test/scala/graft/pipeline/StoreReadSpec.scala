package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.dedup.Dedup
import graft.kmeans.SparkTestSession
import graft.sim.Similarity
import graft.streaming.StreamOps
import graft.text.TextOps
import graft.util.SegmentStore

/** The store read path ([[graft.util.SegmentStore.parquet]]) and the
  * request paths built on it:
  *
  *  - SCHEMA: the footer schema equals Spark's inferred schema for every
  *    component of every store layout.
  *  - JOBS: a warm BM25 request runs at most 5 jobs, a warm IVF request
  *    at most 4 (no listing, schema or metadata-aggregate jobs); a plain
  *    IVF build and append run a pinned number of jobs and store the
  *    blocks of one RDD each; an IVF append's jobs and input bytes do
  *    not grow with the index.
  *  - PRUNING: queries whose buckets lack directories answer as the
  *    inline path does, schema included.
  *  - STATS: an empty append batch (null Σdl) leaves n and avgdl as
  *    they were.
  *  - WRITES: a failed caller-thread write waits for the overlapped
  *    background write before the failure surfaces.
  */
class StoreReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private def sc = spark.sparkContext

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(); ()
  }

  private def fresh(name: String): String = {
    val dir = new java.io.File(s"target/test_stores/store_read/$name")
    rm(dir)
    dir.toString
  }

  // 120 docs over a 150-word vocabulary: enough distinct terms that a
  // store sized to 72 buckets gives almost all of them a directory
  private def text(i: Int): String =
    (0 until 6).map(j => s"v${(i * 7 + j * 13) % 150}").mkString(" ")

  /** Documents read back from parquet, so doc_id is nullable exactly as
    * in a store read.
    */
  private def docsFrom(name: String, ids: Range): DataFrame = {
    val p = fresh(name)
    ids.map(i => (i.toLong, text(i))).toDF("doc_id", "text")
      .write.parquet(p)
    spark.read.parquet(p)
  }

  private def vectors(ids: Range, d: Int): DataFrame = {
    val rnd = new scala.util.Random(ids.head)
    ids.map(i => (i.toLong, Seq.fill(d)(rnd.nextGaussian()))).toDF("id", "vec")
  }

  private def sameSchema(dir: String, recursive: Boolean = false): Unit = {
    val reader =
      if (recursive) spark.read.option("recursiveFileLookup", "true")
      else spark.read
    assert(SegmentStore.parquet(spark, dir, recursive = recursive).schema ===
      reader.parquet(dir).schema, dir)
  }

  private def rows(df: DataFrame): Seq[Row] = {
    val r = df.collect().toSeq
    graft.util.OpCaches.releaseAll(spark)
    r
  }

  test("footer schema equals Spark's inferred schema for every store " +
      "component") {
    // BM25: build, append, delete (tombstones)
    val bm = fresh("schema_bm25")
    TextOps.writeBm25Index(docsFrom("schema_docs", 0 until 60), bm, targetFileRows = 45L)
    TextOps.appendToBm25Index(docsFrom("schema_batch", 60 until 70), bm)
    TextOps.deleteFromBm25Index(docsFrom("schema_del", 3 until 5), bm)
    Seq("postings", "terms", "stats", "_tombstones")
      .foreach(c => sameSchema(s"$bm/$c"))
    // a bucket-pruned read keeps the partition column
    assert(SegmentStore.parquet(spark, s"$bm/postings", Seq("tbucket=1")).schema ===
      spark.read.parquet(s"$bm/postings").schema)
    // IVF: flat, streaming segments, SQ and PQ tiers
    val corpus = vectors(0 until 80, 8)
    val flat = fresh("schema_ivf_flat")
    Similarity.writeIvfIndex(corpus, nlist = 4, path = flat)
    Similarity.deleteFromIvfIndex(spark, flat, Seq(5L).toDF("id"))
    Seq("centroids", "meta", "cells", "cells/_tombstones")
      .foreach(c => sameSchema(s"$flat/$c"))
    Similarity.appendIvfSegment(vectors(100 until 110, 8), flat, "seg-0")
    sameSchema(s"$flat/cells", recursive = true)
    val sq = fresh("schema_ivf_sq")
    Similarity.writeIvfIndexSq(corpus, nlist = 4, path = sq)
    Seq("cells_sq", "quant").foreach(c => sameSchema(s"$sq/$c"))
    val pq = fresh("schema_ivf_pq")
    Similarity.writeIvfIndexPq(corpus, nlist = 4, path = pq, m = 2, ksub = 8)
    Seq("cells_pq", "pq_meta", "pq_codebooks")
      .foreach(c => sameSchema(s"$pq/$c"))
    // signature store with a streaming segment, and its tombstones
    val sig = fresh("schema_sig")
    val out = fresh("schema_sig_out")
    val sdocs = (0 until 8).map(i => (i.toLong, text(i), "c"))
      .toDF("doc_id", "text", "source")
    Dedup.writeSignatureStore(sdocs, n = 3, numHashes = 12, bands = 4, path = sig)
    StreamOps.dedupBatchAgainstStore(
      (20 until 24).map(i => (i.toLong, text(i + 200), "s"))
        .toDF("doc_id", "text", "source"),
      0L, sig, out, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    Dedup.deleteFromSignatureStore(spark, sig, Seq(2L).toDF("doc_id"))
    assert(new java.io.File(s"$sig/batch-000000000").isDirectory)
    sameSchema(sig, recursive = true)
    sameSchema(s"$sig/_tombstones")
  }

  /** What `body` cost on this thread: the jobs it started, the RDDs whose
    * blocks were stored meanwhile (a cache or a local checkpoint), and
    * the input bytes its tasks read.
    */
  private case class Cost(jobs: Int, storedRdds: Int, bytesRead: Long)

  /** [[Cost]] of `body`, counted by a listener once a marker job after
    * it has been seen.
    */
  private def costOf(body: => Unit): Cost = {
    val group = "store-read-jobs"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val rdds = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val marker = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `group` =>
            jobs.add(e.jobId)
            e.stageIds.foreach(stages.add)
          case "store-read-marker" => marker.set(true)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (!marker.get && e.blockUpdatedInfo.storageLevel.isValid)
          e.blockUpdatedInfo.blockId.asRDDId.foreach(b => rdds.add(b.rddId))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup("store-read-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(marker.get))
      Cost(jobs.size, rdds.size, bytes.get)
    } finally sc.removeSparkListener(listener)
  }

  private def jobsOf(body: => Unit): Int = costOf(body).jobs

  test("a warm BM25 request runs at most 5 jobs, a warm IVF request at " +
      "most 4") {
    val bm = fresh("jobs_bm25")
    TextOps.writeBm25Index(docsFrom("jobs_docs", 0 until 120), bm, targetFileRows = 10L)
    TextOps.appendToBm25Index(docsFrom("jobs_batch", 120 until 130), bm)
    val buckets = new java.io.File(s"$bm/postings").list().count(_.startsWith("tbucket="))
    assert(buckets > 32, "the store must be past Spark's parallel-listing threshold")
    val ivf = fresh("jobs_ivf")
    Similarity.writeIvfIndex(vectors(0 until 200, 16), nlist = 8, path = ivf)
    Similarity.appendToIvfIndex(vectors(300 until 320, 16), ivf)
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType, containsNull = false))))
    def query(i: Int): DataFrame = spark.createDataFrame(
      sc.parallelize(Seq(Row(9000L + i,
        Seq.tabulate(16)(j => math.sin(i * 16 + j)))), 1), vecSchema)
    def bm25(i: Int) = TextOps.bm25TopKFromStore(
      spark, Seq(s"v${i % 150}", s"v${(i * 3 + 1) % 150}"), bm, k = 10).collect()
    def ivfReq(i: Int) = Similarity.ivfTopKFromStore(query(i), ivf, k = 10, nprobe = 2).collect()
    // the cold requests compile and load what the warm ones reuse
    bm25(0); ivfReq(0)
    val bmJobs = jobsOf(bm25(1))
    val ivfJobs = jobsOf(ivfReq(1))
    info(s"warm BM25 request: $bmJobs jobs; warm IVF request: $ivfJobs jobs")
    assert(bmJobs >= 1 && bmJobs <= 5, s"BM25 request ran $bmJobs jobs")
    assert(ivfJobs >= 1 && ivfJobs <= 4, s"IVF request ran $ivfJobs jobs")
    graft.util.OpCaches.releaseAll(spark)
  }

  test("a plain IVF build and append run a pinned number of jobs") {
    val ivf = fresh("jobs_ivf_write")
    val corpus = vectors(0 until 200, 16)
    val batch = vectors(300 until 320, 16)
    val Cost(writeJobs, writeRdds, _) = costOf(Similarity.writeIvfIndex(corpus, 8, ivf))
    val Cost(appendJobs, appendRdds, _) = costOf(Similarity.appendToIvfIndex(batch, ivf))
    info(s"IVF build: $writeJobs jobs, $writeRdds stored RDDs; " +
      s"IVF append: $appendJobs jobs, $appendRdds stored RDDs")
    // the counts the build and the append ran before every tier write
    // shared one path: an added job or cache materialization fails here.
    // The build stores only the quantizer fit's packed points, the append
    // only its cached batch.
    assert(writeJobs === 11, "IVF build jobs")
    assert(appendJobs === 6, "IVF append jobs")
    assert(writeRdds === 1, "IVF build stored RDDs")
    assert(appendRdds === 1, "IVF append stored RDDs")
  }

  test("an IVF append costs the same jobs and input bytes after the index " +
      "grows 4x") {
    val ivf = fresh("ivf_append_flat")
    Similarity.writeIvfIndex(vectors(0 until 200, 16), nlist = 8, path = ivf)
    Similarity.deleteFromIvfIndex(spark, ivf, Seq(3L, 5L).toDF("id"))
    val before = costOf(Similarity.appendToIvfIndex(vectors(1000 until 1020, 16), ivf))
    for (k <- 1 to 3)
      Similarity.appendToIvfIndex(vectors(k * 200 until k * 200 + 200, 16), ivf)
    assert(SegmentStore.footerRowCount(spark, s"$ivf/cells") === 818L)
    assert(SegmentStore.read(spark, s"$ivf/cells", "cid_id").count() === 818L)
    val after = costOf(Similarity.appendToIvfIndex(vectors(2000 until 2020, 16), ivf))
    info(s"append at 218 rows: $before; at 818 rows: $after")
    // only the quantizer and the one-row meta are read, not the cells
    // tier, which grew by 600 rows of 16 doubles: the input bytes stay
    // within a few bytes (10% slack) of the small index's
    assert(after.jobs === before.jobs, "append jobs")
    assert(after.bytesRead <= before.bytesRead * 11 / 10,
      s"append input bytes ${after.bytesRead} vs ${before.bytesRead}")
  }

  test("queries whose buckets have no directory answer as inline bm25TopK, " +
      "schema included") {
    val docs = docsFrom("prune_docs", 0 until 12)
    val bm = fresh("prune_bm25")
    TextOps.writeBm25Index(docs, bm, targetFileRows = 1L)
    val nb = TextOps.readBm25Stats(spark, bm).nBuckets
    val present = new java.io.File(s"$bm/postings").list()
      .filter(_.startsWith("tbucket=")).map(_.stripPrefix("tbucket=").toInt).toSet
    assert(present.size < nb)
    // terms absent from the corpus whose bucket has no directory, by the
    // writer's own expression
    val absent = (0 until 400).map(i => s"absent$i").toDF("term")
      .select(col("term"), pmod(hash(col("term")), lit(nb)).as("b"))
      .as[(String, Int)].collect().filterNot(t => present(t._2)).map(_._1)
    assert(absent.length >= 2)
    for (terms <- Seq(Seq("v0", "v13", absent(0)), absent.take(2).toSeq)) {
      val inline = TextOps.bm25TopK(docs, terms, k = 10)
      val stored = TextOps.bm25TopKFromStore(spark, terms, bm, k = 10)
      assert(stored.schema === inline.schema, terms)
      assert(rows(stored) === rows(inline), terms)
    }
    assert(rows(TextOps.bm25TopKFromStore(spark, absent.take(2).toSeq, bm, k = 10))
      .isEmpty)
  }

  test("an empty append batch (null sum_dl) keeps n and avgdl") {
    val bm = fresh("empty_append")
    TextOps.writeBm25Index(docsFrom("empty_docs", 0 until 30), bm, targetFileRows = 23L)
    val before = TextOps.readBm25Stats(spark, bm)
    val terms = Seq("v0", "v13", "v26")
    val want = rows(TextOps.bm25TopKFromStore(spark, terms, bm, k = 10))
    TextOps.appendToBm25Index(docsFrom("empty_batch", 0 until 30).limit(0), bm)
    val stats = spark.read.parquet(s"$bm/stats")
    assert(stats.count() === 2)
    assert(stats.filter(col("sum_dl").isNull).count() === 1)
    val after = TextOps.readBm25Stats(spark, bm)
    assert(after === before)
    assert(after.n === 30L && after.avgdl === before.avgdl)
    assert(rows(TextOps.bm25TopKFromStore(spark, terms, bm, k = 10)) === want)
  }

  /** Runs `call`, which must fail on its caller-thread write, and checks
    * that the failure surfaces only after every job of the call ended:
    * `landed` (the overlapped write's output) holds at the moment the call
    * returns, every job started before then ended by then, and the status
    * tracker, once it has seen a job started after the call, shows none
    * of the call's jobs active.
    */
  private def failsWithNoJobLeft(call: => Unit)(landed: => Boolean): Unit = {
    val drainGroup = "store-read-drain"
    val started = new ConcurrentHashMap[Int, java.lang.Long]()
    val ended = new ConcurrentHashMap[Int, java.lang.Long]()
    val drained = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == drainGroup)
          drained.set(true)
        else started.put(e.jobId, e.time)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.put(e.jobId, e.time)
    }
    sc.addSparkListener(listener)
    try {
      intercept[Exception](call)
      val returned = System.currentTimeMillis()
      assert(landed, "the overlapped write had not landed when the call returned")
      sc.setJobGroup(drainGroup, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(drained.get))
      val late = started.asScala.collect {
        case (id, t) if t <= returned && Option(ended.get(id)).forall(_ > returned) => id
      }
      assert(late.isEmpty, s"jobs $late outlived the call")
      val tracker = sc.statusTracker
      val drain = tracker.getJobIdsForGroup(drainGroup).toSet
      assert((tracker.getActiveJobIds().toSet -- drain).isEmpty)
    } finally {
      sc.removeSparkListener(listener)
      graft.util.OpCaches.releaseAll(spark)
    }
  }

  /** Committed parquet files directly under `dir`. */
  private def parts(dir: String): Int =
    Option(new java.io.File(dir).list()).fold(0)(_.count(_.startsWith("part-")))

  /** Replace a store component directory with a plain file, so a write
    * into it fails.
    */
  private def breakComponent(dir: String): Unit = {
    val f = new java.io.File(dir)
    rm(f)
    java.nio.file.Files.writeString(f.toPath, "not a directory")
    ()
  }

  test("a failed append or delete waits for its background write before " +
      "the failure surfaces") {
    val bm = fresh("fail_append")
    TextOps.writeBm25Index(docsFrom("fail_docs", 0 until 40), bm, targetFileRows = 30L)
    breakComponent(s"$bm/terms")
    val batch = docsFrom("fail_batch", 40 until 50)
    val statsFiles = parts(s"$bm/stats")
    // the overlapped stats write ran to its end before the call returned
    failsWithNoJobLeft(TextOps.appendToBm25Index(batch, bm))(
      parts(s"$bm/stats") > statsFiles)
    assert(spark.read.parquet(s"$bm/stats").count() === 2)

    val del = fresh("fail_delete")
    TextOps.writeBm25Index(docsFrom("fail_docs2", 0 until 40), del, targetFileRows = 30L)
    breakComponent(s"$del/terms")
    val deleted = docsFrom("fail_del", 0 until 5)
    failsWithNoJobLeft(TextOps.deleteFromBm25Index(deleted, del))(
      parts(s"$del/_tombstones") > 0)
    assert(spark.read.parquet(s"$del/_tombstones").count() === 5)
  }
}
