package graft.pipeline

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.kmeans.SparkTestSession
import graft.text.TextOps
import graft.util.GenStore

/** The BM25 store's write layout: the bucket count follows the postings
  * (⌈postings rows / targetFileRows⌉), each segment writes one file per
  * bucket directory per component, a build runs at most 8 jobs and one
  * `tbucket` shuffle, and build, append, delete and compaction at any
  * sizing answer as inline [[TextOps.bm25TopK]] over the live docs.
  */
class Bm25LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private def sc = spark.sparkContext

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(); ()
  }

  private def fresh(name: String): String = {
    val dir = new java.io.File(s"target/test_stores/bm25_layout/$name")
    rm(dir)
    dir.toString
  }

  // six distinct terms per doc over a 150-word vocabulary
  private def words(i: Int): Seq[String] =
    (0 until 6).map(j => s"v${(i * 7 + j * 13) % 150}")

  /** Documents read back from parquet, as a store's input is. */
  private def docsFrom(name: String, ids: Seq[Int]): DataFrame = {
    val p = fresh(name)
    ids.map(i => (i.toLong, words(i).mkString(" "))).toDF("doc_id", "text")
      .write.parquet(p)
    spark.read.parquet(p)
  }

  /** The data files directly under each `tbucket=` directory. */
  private def filesPerBucket(dir: String): Map[String, Int] =
    new java.io.File(dir).listFiles.toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("tbucket="))
      .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
      .toMap

  private def nBuckets(path: String): Int =
    TextOps.readBm25Stats(spark, GenStore.resolve(spark, path)).nBuckets

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  private def rows(df: DataFrame): Seq[Row] = {
    val r = df.collect().toSeq
    graft.util.OpCaches.releaseAll(spark)
    r
  }

  test("a default build over a small corpus writes one bucket: one " +
      "directory per component, one file in it, columns as before") {
    val bm = fresh("default")
    TextOps.writeBm25Index(docsFrom("default_docs", 0 until 50), bm)
    assert(nBuckets(bm) === 1)
    for (c <- Seq("postings", "terms"))
      assert(filesPerBucket(s"$bm/$c") === Map("tbucket=0" -> 1), c)
    assert(new java.io.File(s"$bm/stats").list().count(_.endsWith(".parquet")) === 1)
    assert(spark.read.parquet(s"$bm/postings").schema.map(f => (f.name, f.dataType)) ===
      Seq("doc_id" -> LongType, "dl" -> LongType, "term" -> StringType,
        "tf" -> DoubleType, "tbucket" -> IntegerType))
    assert(spark.read.parquet(s"$bm/terms").schema.map(f => (f.name, f.dataType)) ===
      Seq("term" -> StringType, "df" -> DoubleType, "tbucket" -> IntegerType))
    assert(spark.read.parquet(s"$bm/stats").schema.map(f => (f.name, f.dataType)) ===
      Seq("n" -> LongType, "sum_dl" -> LongType, "n_buckets" -> IntegerType))
  }

  test("with targetFileRows = t the bucket count is ceil(postings rows / t), " +
      "one file per bucket directory") {
    val docs = docsFrom("sized_docs", 0 until 90)
    for (t <- Seq(1L, 25L, 100L, 539L, 540L)) {
      val bm = fresh(s"sized_$t")
      TextOps.writeBm25Index(docs, bm, targetFileRows = t)
      val postingsRows = spark.read.parquet(s"$bm/postings").count()
      assert(postingsRows === 540L)
      val want = ceilDiv(postingsRows, t)
      assert(nBuckets(bm) === want, s"t=$t")
      for (c <- Seq("postings", "terms")) {
        val files = filesPerBucket(s"$bm/$c")
        assert(files.nonEmpty && files.size <= want, s"t=$t $c")
        assert(files.values.forall(_ == 1), s"t=$t $c: $files")
      }
    }
  }

  test("build, append, delete and compact at two sizings answer as inline " +
      "bm25TopK over the live docs; compaction re-buckets") {
    val built = 0 until 60
    val appended = 60 until 80
    val deleted = (0 until 80).filter(_ % 5 == 2)
    val live = (0 until 80).filterNot(deleted.toSet)
    val liveDocs = docsFrom("crud_live", live)
    val queries = Seq(Seq("v0", "v13"), Seq("v7", "v26", "v91", "absent"),
      Seq("v2"), words(12), words(63) :+ words(17).head)
    def sameAsInline(bm: String): Unit =
      for (q <- queries) {
        val inline = TextOps.bm25TopK(liveDocs, q, k = 10)
        val stored = TextOps.bm25TopKFromStore(spark, q, bm, k = 10)
        assert(stored.schema === inline.schema, q)
        assert(rows(stored) === rows(inline), q)
      }
    for (t <- Seq(7L, 40L)) {
      val bm = fresh(s"crud_$t")
      TextOps.writeBm25Index(docsFrom("crud_built", built), bm, targetFileRows = t)
      assert(nBuckets(bm) === ceilDiv(built.size * 6L, t))
      TextOps.appendToBm25Index(docsFrom("crud_batch", appended), bm)
      TextOps.deleteFromBm25Index(docsFrom("crud_deleted", deleted), bm)
      // the appends and deletes keep the build's bucket count
      assert(nBuckets(bm) === ceilDiv(built.size * 6L, t))
      for (c <- Seq("postings", "terms"))
        assert(filesPerBucket(s"$bm/$c").values.forall(_ <= 3), s"t=$t $c")
      sameAsInline(bm)
      TextOps.compactBm25Index(spark, bm, targetFileRows = t)
      val gen = GenStore.resolve(spark, bm)
      assert(gen !== bm)
      val liveRows = live.size * 6L
      assert(spark.read.parquet(s"$gen/postings").count() === liveRows)
      assert(nBuckets(bm) === ceilDiv(liveRows, t))
      assert(nBuckets(bm) !== ceilDiv(built.size * 6L, t),
        "the compaction must re-derive the bucket count")
      for (c <- Seq("postings", "terms"))
        assert(filesPerBucket(s"$gen/$c").values.forall(_ == 1), s"t=$t $c")
      sameAsInline(bm)
    }
  }

  /** Jobs started while `body` runs on this thread, and how many of
    * their stages wrote shuffle output, counted by a listener once a
    * marker job after it has been seen.
    */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val group = "bm25-layout-jobs"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val shuffled = ConcurrentHashMap.newKeySet[Int]()
    val marker = new java.util.concurrent.atomic.AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `group` => jobs.add(e.jobId); e.stageIds.foreach(stages.add)
          case "bm25-layout-marker" => marker.set(true)
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && m.shuffleWriteMetrics.recordsWritten > 0)
          shuffled.add(e.stageInfo.stageId)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup("bm25-layout-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      eventually(timeout(30.seconds))(assert(marker.get))
      (jobs.size, shuffled.asScala.count(stages.contains))
    } finally sc.removeSparkListener(listener)
  }

  test("a default build runs at most 8 jobs, all on the caller's thread, " +
      "and shuffles its postings once") {
    val docs = docsFrom("jobs_docs", 0 until 120)
    TextOps.writeBm25Index(docs, fresh("jobs_warm"))
    val (jobs, shuffles) = jobsOf(TextOps.writeBm25Index(docs, fresh("jobs")))
    info(s"build: $jobs jobs, $shuffles shuffle-writing stages")
    assert(jobs >= 1 && jobs <= 8, s"build ran $jobs jobs")
    // the sizing collect's single-row partials and the one exchange on
    // tbucket; the terms aggregate reads the cached postings unshuffled
    assert(shuffles === 2, s"build wrote shuffle output in $shuffles stages")
    // the same holds at 29 buckets, where an exchange on (tbucket, term)
    // would be a real one
    val (_, sized) = jobsOf(
      TextOps.writeBm25Index(docs, fresh("jobs_sized"), targetFileRows = 25L))
    assert(sized === 2, s"a 29-bucket build wrote shuffle output in $sized stages")
  }

  test("an empty corpus is refused and leaves the store at that path " +
      "answering as before") {
    val bm = fresh("empty")
    val docs = docsFrom("empty_docs", 0 until 30)
    TextOps.writeBm25Index(docs, bm)
    val q = Seq("v0", "v13", "v26")
    val want = rows(TextOps.bm25TopKFromStore(spark, q, bm, k = 10))
    assert(want.nonEmpty)
    val cached = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException](
      TextOps.writeBm25Index(docs.limit(0), bm))
    assert(e.getMessage.contains("writeBm25Index: empty corpus"))
    assert((sc.getPersistentRDDs.keySet -- cached).isEmpty,
      "the refused build left its tokenize cache behind")
    assert(rows(TextOps.bm25TopKFromStore(spark, q, bm, k = 10)) === want)
  }
}
