package graft.pipeline

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.{Centroid2, SparkTestSession}
import graft.streaming.StreamOps

final case class Ev(event_id: Long, ts: Timestamp, event_type: String, value: Double)
final case class EvU(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
final case class Doc(doc_id: Long, text: String, source: String)
final case class VecRow(id: Long, vec: Array[Double])

/** Structured Streaming extensions: windowed aggregation with watermark,
  * stateless streaming assignment, and stateful incremental centroids via
  * flatMapGroupsWithState — all driven through MemoryStream micro-batches.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("windowedEventCounts: batch and streaming forms agree") {
    val rows = Seq(
      Ev(1, ts("2024-01-01 00:10:00"), "click", 1.0),
      Ev(2, ts("2024-01-01 00:40:00"), "click", 2.0),
      Ev(3, ts("2024-01-01 01:05:00"), "view", 3.0))
    val batch = StreamOps.windowedEventCounts(rows.toDF(), "1 hour")
      .select($"window_start", $"event_type", $"n", $"total_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    val q = StreamOps.streamingWindowedCounts(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_counts")
        .select($"window_start", $"event_type", $"n", $"total_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(streamed === batch)
      assert(batch.exists { case (w, t, n, v) =>
        w == ts("2024-01-01 00:00:00") && t == "click" && n == 2 && v == 3.0
      })
    } finally q.stop()
  }

  test("qualitySample runs unchanged on a stream " +
      "(stateless hash decisions, batch ≡ streaming membership)") {
    val rows = (1L to 40L).map(i =>
      Doc(i, ("the of and data spark row " * (i.toInt % 7 + 1)).trim,
        if (i % 2 == 0) "a" else "b"))
    val batchDf = rows.toDF()
    val batchSample = graft.text.TextOps.qualitySample(batchDf)
      .select($"doc_id").as[Long].collect().sorted.toSeq

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(rows: _*)
    // the SAME operator over the stream: per-row hash decisions are
    // stateless, so the plan is append-safe with zero state stores
    val q = graft.text.TextOps.qualitySample(mem.toDF())
      .writeStream.format("memory").queryName("stream_sample")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_sample")
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(streamed === batchSample)
      assert(streamed.nonEmpty && streamed.size < rows.size)
    } finally q.stop()
  }

  test("runStreamingDedupAgainstStore: micro-batches dedup against the " +
      "store and extend it for later batches") {
    import graft.dedup.Dedup
    val base = "target/stream_store_dedup"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    val store = s"$base/store"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    val t3 = "red orange yellow green blue indigo violet purple pink black"
    Dedup.writeSignatureStore(Seq(Doc(1L, t1, "c")).toDF(),
      n = 3, numHashes = 12, bands = 4, path = store)

    def ids(path: String): Set[Long] =
      spark.read.option("recursiveFileLookup", "true").parquet(path)
        .select($"doc_id").as[Long].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Doc]
    // batch 1: a dup of the corpus doc (dropped against the store) and a
    // new doc (kept, signatures appended)
    mem.addData(Doc(10L, t1, "s"), Doc(11L, t2, "s"))
    StreamOps.runStreamingDedupAgainstStore(mem.toDF(), store, out, ckpt,
      n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    assert(ids(out) === Set(11L))
    // batch 2 (same checkpoint: only NEW input processes): a dup of batch
    // 1's survivor — dropped via the signatures batch 1 appended — and a
    // fresh doc
    mem.addData(Doc(20L, t2, "s"), Doc(21L, t3, "s"))
    StreamOps.runStreamingDedupAgainstStore(mem.toDF(), store, out, ckpt,
      n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    assert(ids(out) === Set(11L, 21L))
    // the store now carries the corpus doc plus both survivors
    assert(ids(store) === Set(1L, 11L, 21L))
  }

  test("runStreamingDedupAgainstStore: a LATE batch (ids OLDER than " +
      "already-served rows) is never dropped for lateness — batch order " +
      "beats id order, and the store never expires") {
    import graft.dedup.Dedup
    val base = "target/stream_store_dedup_late"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    val store = s"$base/store"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val tC = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tA = "one two three four five six seven eight nine ten"
    val tB = "red orange yellow green blue indigo violet purple pink black"
    val tD = "mercury venus earth mars jupiter saturn uranus neptune pluto ceres"
    Dedup.writeSignatureStore(Seq(Doc(100L, tC, "c")).toDF(),
      n = 3, numHashes = 12, bands = 4, path = store)

    def ids(path: String): Set[Long] =
      spark.read.option("recursiveFileLookup", "true").parquet(path)
        .select($"doc_id").as[Long].collect().toSet

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Doc]
    // batch 1 (on-time, NEWEST ids): 50/52 are within-batch dups
    // (keep-min-id keeps 50), 51 is novel
    mem.addData(Doc(50L, tA, "s"), Doc(51L, tB, "s"), Doc(52L, tA, "s"))
    StreamOps.runStreamingDedupAgainstStore(mem.toDF(), store, out, ckpt,
      n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    assert(ids(out) === Set(50L, 51L))
    // batch 2 arrives LATE: every id PRECEDES batch 1's (out-of-order
    // by id/event time — older than any watermark horizon would keep).
    //  - 5 dups batch 1's survivor 51 -> DROPPED despite the smaller
    //    id: batch order beats id order (keep-min-id applies only
    //    WITHIN a batch), because the store carries batch 1's
    //    signatures forever — no watermark reclaim
    //  - 6 dups the corpus doc -> dropped no matter how old
    //  - 7 is novel -> KEPT: the design drops nothing for lateness
    mem.addData(Doc(5L, tB, "s"), Doc(6L, tC, "s"), Doc(7L, tD, "s"))
    StreamOps.runStreamingDedupAgainstStore(mem.toDF(), store, out, ckpt,
      n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    assert(ids(out) === Set(50L, 51L, 7L))
    // only survivors extended the store — the mechanism behind the
    // oracle's keep1-membership rule (a late dup of a DROPPED doc is
    // judged against survivors, never against the dropped doc)
    assert(ids(store) === Set(100L, 50L, 51L, 7L))
  }

  test("dedupBatchAgainstStore: replaying a micro-batch (at-least-once " +
      "foreachBatch) leaves both sinks byte-identical, and a missing " +
      "store cold-starts as empty") {
    val base = "target/stream_store_replay"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    val store = s"$base/store"; val out = s"$base/out"
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    def read(path: String) =
      spark.read.option("recursiveFileLookup", "true").parquet(path)
    def snapshot(path: String): Seq[String] =
      read(path).collect().map(_.toString).sorted.toSeq

    // batch 0 runs against a NONEXISTENT store: cold start, everything
    // (modulo within-batch dups) survives
    StreamOps.dedupBatchAgainstStore(
      Seq(Doc(1L, t1, "c"), Doc(2L, t1, "c")).toDF(), 0L,
      store, out, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    assert(read(out).select($"doc_id").as[Long].collect().toSet === Set(1L))

    // batch 1: one cross-batch dup (dropped), one fresh survivor
    StreamOps.dedupBatchAgainstStore(
      Seq(Doc(10L, t1, "s"), Doc(11L, t2, "s")).toDF(), 1L,
      store, out, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    val outAfter = snapshot(out)
    val storeAfter = snapshot(store)
    assert(read(out).select($"doc_id").as[Long].collect().toSet
      === Set(1L, 11L))

    // REPLAY batch 1 (same contents, same id — what foreachBatch does
    // after a crash between the two writes or a checkpoint-recovered
    // restart): both sinks must come out identical, not doubled, and
    // the first attempt's store segment must not self-match the batch
    StreamOps.dedupBatchAgainstStore(
      Seq(Doc(10L, t1, "s"), Doc(11L, t2, "s")).toDF(), 1L,
      store, out, n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    assert(snapshot(out) === outAfter)
    assert(snapshot(store) === storeAfter)
  }

  test("runStreamingIvfAppend: micro-batches land as idempotent " +
      "segments, answer like a batch append, and compaction folds them") {
    import graft.sim.Similarity
    val base = "target/stream_ivf_append"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    val store = s"$base/store"; val sibling = s"$base/sibling"
    val ckpt = s"$base/ckpt"
    def vec(i: Int): Array[Double] = {
      val a = i * math.Pi / 80.0
      Array(math.cos(a), math.sin(a), 0.01 * i, 1.0)
    }
    val initial = (0 until 30).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    val streamed = (0 until 5).map(i => VecRow(100L + i, vec(31 + i)))
    // identical deterministic builds → identical quantizer + SQ bounds
    Similarity.writeIvfIndexSq(initial, nlist = 4, path = store)
    Similarity.writeIvfIndexSq(initial, nlist = 4, path = sibling)
    Similarity.appendToIvfIndex(
      streamed.map(v => (v.id, v.vec)).toDF("id", "vec"), sibling)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[VecRow]
    mem.addData(streamed: _*)
    StreamOps.runStreamingIvfAppend(mem.toDF(), store, ckpt)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val r = df.collect().map(_.toString).sorted.toSeq
      graft.util.OpCaches.releaseAll(spark)
      r
    }
    // a query NEXT TO the streamed vectors must rank them — proof the
    // segments are visible — and both probe paths must answer exactly
    // like the batch-appended sibling
    val queries = Seq((31L + 2, vec(31 + 2))).toDF("id", "vec")
      .unionByName(initial.filter($"id" < 3))
    val exactStream = rows(
      Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2))
    assert(exactStream == rows(
      Similarity.ivfTopKFromStore(queries, sibling, k = 5, nprobe = 2)))
    // the query at vec(33) must rank streamed id 102 (the identical
    // vector) first — proof the segments are visible to the probe
    assert(exactStream.exists(_.startsWith("[33,102,")),
      "streamed ids never ranked")
    assert(rows(
      Similarity.ivfTopKFromStoreSq(queries, store, k = 5, nprobe = 2))
      == rows(
        Similarity.ivfTopKFromStoreSq(queries, sibling, k = 5, nprobe = 2)))

    // replay idempotency: re-running the batch's segment write (what
    // foreachBatch does after a crash) leaves the store byte-identical
    def snapshot(path: String): Seq[String] =
      spark.read.option("recursiveFileLookup", "true").parquet(path)
        .collect().map(_.toString).sorted.toSeq
    val before = snapshot(s"$store/cells")
    Similarity.appendIvfSegment(
      streamed.map(v => (v.id, v.vec)).toDF("id", "vec"), store,
      "batch-000000000")
    assert(snapshot(s"$store/cells") == before)

    // compaction folds the segment dirs into flat files in a new
    // generation; answers unchanged
    Similarity.compactIvfCells(spark, store)
    val gen = graft.util.GenStore.resolve(spark, s"$store/cells")
    assert(!new java.io.File(gen).listFiles.exists(f =>
      f.isDirectory && f.getName.startsWith("batch-")))
    assert(spark.read.parquet(gen).count() == 35L)
    assert(rows(
      Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2))
      == exactStream)
  }

  test("deleteFromIvfIndex between streaming micro-batches: deletes stay " +
      "honored across later batches, replays, and compaction") {
    import graft.sim.Similarity
    val base = "target/stream_ivf_delete"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    val store = s"$base/store"; val ckpt = s"$base/ckpt"
    def vec(i: Int): Array[Double] = {
      val a = i * math.Pi / 80.0
      Array(math.cos(a), math.sin(a), 0.01 * i, 1.0)
    }
    val initial = (0 until 30).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    Similarity.writeIvfIndexSq(initial, nlist = 4, path = store)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[VecRow]
    val batch1 = (0 until 5).map(i => VecRow(100L + i, vec(31 + i)))
    mem.addData(batch1: _*)
    StreamOps.runStreamingIvfAppend(mem.toDF(), store, ckpt)

    // the single-writer contract forbids deletes CONCURRENT WITH
    // COMPACTION, not deletes between micro-batches: take down one
    // streamed id and one base id while the stream is quiescent...
    Similarity.deleteFromIvfIndex(spark, store, Seq(102L, 3L).toDF("id"))
    // ...then resume the SAME checkpointed stream with a second batch
    val batch2 = (0 until 5).map(i => VecRow(200L + i, vec(40 + i)))
    mem.addData(batch2: _*)
    StreamOps.runStreamingIvfAppend(mem.toDF(), store, ckpt)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val r = df.collect().map(_.toString).sorted.toSeq
      graft.util.OpCaches.releaseAll(spark)
      r
    }
    // probe AT the deleted vectors and at a batch-2 vector
    val queries = Seq(
      (1102L, vec(31 + 2)), (1003L, vec(3)), (1201L, vec(41)))
      .toDF("id", "vec")
    def check(): Seq[String] = {
      val exact = Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2)
      val sq = Similarity.ivfTopKFromStoreSq(queries, store, k = 5, nprobe = 2)
      assert(exact.filter(col("cid") === 102L || col("cid") === 3L)
        .count() == 0L, "deleted ids surfaced in the exact tier")
      assert(sq.filter(col("cid") === 102L || col("cid") === 3L)
        .count() == 0L, "deleted ids surfaced in the SQ tier")
      val r = rows(exact)
      // batch-2 ingest is visible (201's own vector ranks first for it)
      assert(r.exists(_.startsWith("[1201,201,")),
        "post-delete streamed batch never ranked")
      r
    }
    val after = check()

    // foreachBatch replay of BATCH 1 (the batch whose id 102 was later
    // deleted): the segment rewrite lands the row again, and the
    // tombstone must keep hiding it — byte-identical answers
    Similarity.appendIvfSegment(
      batch1.map(v => (v.id, v.vec)).toDF("id", "vec"), store,
      "batch-000000000")
    assert(check() == after)

    // compaction folds the tombstones physically; answers unchanged and
    // the deleted ids are gone from the new generation's data files
    Similarity.compactIvfCells(spark, store)
    assert(check() == after)
    val gen = graft.util.GenStore.resolve(spark, s"$store/cells")
    assert(spark.read.parquet(gen)
      .filter(col("cid_id") === 102L || col("cid_id") === 3L).count() == 0L)
  }

  test("Graft.events normalizes the fixture ts to TIMESTAMP micros") {
    val sf = "/root/testdata/sf0.001"
    val rawDf = spark.read.parquet(s"$sf/events.parquet")
    // one expression per fixture shape, each yielding the naive micros
    // DuckDB would read from the same file
    val rawUs = rawDf.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => "ts div 1000" // nanos
      case _ => "unix_micros(cast(ts AS timestamp))" // us / us-NTZ (UTC)
    }
    val raw = rawDf.selectExpr("event_id", s"$rawUs AS raw_us")
    val norm = graft.Graft.events(spark, sf)
    assert(norm.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val joined = norm.selectExpr("event_id", "unix_micros(ts) AS us")
      .join(raw, "event_id")
      .selectExpr("count(*) AS total",
        "sum(CASE WHEN us = raw_us THEN 0 ELSE 1 END) AS bad")
      .collect().head
    assert(joined.getLong(0) > 0L)
    assert(joined.getLong(1) === 0L, s"off-by-1us rows: ${joined.getLong(1)}")
  }

  test("sessionCounts merges events within the gap, splits beyond it") {
    val rows = Seq(
      Ev(1, ts("2024-01-01 00:00:00"), "c", 1.0),
      Ev(2, ts("2024-01-01 00:20:00"), "c", 2.0),  // same session (gap 30m)
      Ev(3, ts("2024-01-01 01:00:00"), "c", 3.0))  // 40m later -> new session
      .map(e => (e.event_id, e.ts, 7L, e.event_type, e.value))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = graft.streaming.StreamOps.sessionCounts(rows, "30 minutes")
      .select($"session_start", $"n", $"total_value")
      .as[(Timestamp, Long, Double)].collect().sortBy(_._1.getTime)
    assert(got.toSeq === Seq(
      (ts("2024-01-01 00:00:00"), 2L, 3.0),
      (ts("2024-01-01 01:00:00"), 1L, 3.0)))
  }

  test("f32Wire Lloyd reproduces the reference's float funnel artifacts") {
    import graft.kmeans.{KMeansConfig, Lloyd}
    // FIXTURES §B micro-fixture shaped like points1.txt's three clusters;
    // pids 1-3 seed one centroid per cluster. The middle cluster's x-mean
    // is 0.825, which the f32 funnel turns into the reference's logged
    // 0.824999988079071 (dump_master.txt); the f64 loop gives 0.825.
    val pts = Seq(
      (1L, -0.7, 7.3), (2L, 0.7, 9.8), (3L, 9.5, 1.0),
      (4L, -0.65, 7.4), (5L, 0.8, 9.7), (6L, 0.9, 9.75), (7L, 0.9, 9.75),
      (8L, 9.6, 1.1)).toDF("pid", "x", "y")
    val r = Lloyd.fit(pts, KMeansConfig(k = 3, maxIter = 20, f32Wire = true))
    // the f32-rounded x of the (0.825, 9.75) cluster is the reference's
    // logged 0.824999988079071 (dump_master.txt)
    val xs = r.centroids.map(_.x)
    assert(xs.exists(x => math.abs(x - 0.824999988079071) < 1e-12), s"$xs")
  }

  test("streamingAssign classifies each event against the fixed model") {
    val model = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 100.0, 0.0))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:00:00"), "click", 1.0),   // near centroid 0
      Ev(2, ts("2024-01-01 00:00:00"), "click", 99.0))  // near centroid 1
    val q = StreamOps.streamingAssign(mem.toDF(), model)
      .writeStream.format("memory").queryName("assigned").start()
    try {
      q.processAllAvailable()
      val got = spark.table("assigned").select($"pid", $"cid")
        .as[(Long, Int)].collect().toMap
      assert(got === Map(1L -> 0, 2L -> 1))
    } finally q.stop()
  }

  test("stream-stream time-bounded join works with watermarks on both sides") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[EvU]
    val clicks = MemoryStream[EvU]
    val v = views.toDF().withWatermark("ts", "1 hour")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("vts"))
    val c = clicks.toDF().withWatermark("ts", "1 hour")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("cts"))
    val q = graft.joins.Joins
      .timeBoundJoin(v, c, "v_user", "c_user", "vts", "cts", "30 minutes")
      .select($"view_id", $"click_id")
      .writeStream.format("memory").queryName("vc_join").start()
    try {
      // user 7: view at 00:00 + clicks at 00:10 (in window) / 01:00 (out)
      views.addData(EvU(100, ts("2024-01-01 00:00:00"), 7L, "view", 0.0))
      clicks.addData(
        EvU(200, ts("2024-01-01 00:10:00"), 7L, "click", 0.0),
        EvU(201, ts("2024-01-01 01:00:00"), 7L, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("vc_join").as[(Long, Long)].collect().toSet
      assert(got === Set((100L, 200L)))
    } finally q.stop()
  }

  test("runStreamStreamTimeBoundJoin over a bounded file stream matches the batch join") {
    val dir = "/root/testdata/sf0.001"
    def sides(ev: org.apache.spark.sql.DataFrame) = (
      ev.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("vts")),
      ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("cts")))
    val (bv, bc) = sides(graft.Graft.events(spark, dir))
    val expected = graft.joins.Joins
      .timeBoundJoin(bv, bc, "v_user", "c_user", "vts", "cts", "30 minutes")
      .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet
    val (sv, _) = sides(graft.Graft.eventsStream(spark, dir))
    val (_, sc) = sides(graft.Graft.eventsStream(spark, dir))
    val got = StreamOps.runStreamStreamTimeBoundJoin(
        sv, sc, "v_user", "c_user", "vts", "cts",
        window = "30 minutes", lateness = "1 hour",
        sinkName = "stream_join_spec_sink")
      .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("runStreamStreamTimeBoundJoinToPath (parquet sink) matches the memory-sink run") {
    val dir = "/root/testdata/sf0.001"
    def sides(ev: org.apache.spark.sql.DataFrame) = (
      ev.filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("vts")),
      ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("cts")))
    val (mv, _) = sides(graft.Graft.eventsStream(spark, dir))
    val (_, mc) = sides(graft.Graft.eventsStream(spark, dir))
    val viaMemory = StreamOps.runStreamStreamTimeBoundJoin(
        mv, mc, "v_user", "c_user", "vts", "cts",
        window = "30 minutes", lateness = "1 hour",
        sinkName = "durable_join_spec_memory")
      .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet

    val base = java.nio.file.Files
      .createTempDirectory("graft_durable_join").toString
    val (pv, _) = sides(graft.Graft.eventsStream(spark, dir))
    val (_, pc) = sides(graft.Graft.eventsStream(spark, dir))
    val viaParquet = StreamOps.runStreamStreamTimeBoundJoinToPath(
        pv, pc, "v_user", "c_user", "vts", "cts",
        window = "30 minutes", lateness = "1 hour",
        outPath = s"$base/out", checkpointDir = s"$base/ckpt")
      .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet

    assert(viaParquet === viaMemory)
    assert(viaParquet.nonEmpty)
  }

  test("eventsStream resolves a RELATIVE sfDir (symlink target is absolute)") {
    // regression: the symlink target used to be stored verbatim, so a
    // relative sfDir resolved against /tmp and the stream read nothing
    val cwd = java.nio.file.Paths.get("").toAbsolutePath
    val rel = cwd.relativize(
      java.nio.file.Paths.get("/root/testdata/sf0.001")).toString
    assert(!java.nio.file.Paths.get(rel).isAbsolute)
    val q = graft.Graft.eventsStream(spark, rel).writeStream
      .format("memory").queryName("rel_sfdir_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    assert(spark.table("rel_sfdir_sink").count() > 0)
  }

  test("parquet-sink runner fails fast on a stale sink with a fresh checkpoint") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files
      .createTempDirectory("graft_stale_sink").toString
    def run(ckpt: String) = {
      val views = graft.Graft.eventsStream(spark, dir)
        .filter($"event_type" === "view")
        .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("vts"))
      val clicks = graft.Graft.eventsStream(spark, dir)
        .filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("cts"))
      StreamOps.runStreamStreamTimeBoundJoinToPath(
        views, clicks, "v_user", "c_user", "vts", "cts",
        window = "30 minutes", lateness = "1 hour",
        outPath = s"$base/out", checkpointDir = ckpt)
    }
    assert(run(s"$base/ckpt1").count() > 0)
    // same outPath, FRESH checkpoint: FileStreamSink would silently skip
    // batch 0 and the terminal read would return the PRIOR run's rows
    val e = intercept[IllegalStateException] { run(s"$base/ckpt2") }
    assert(e.getMessage.contains("_spark_metadata"))
    // same outPath, SAME checkpoint: a legal no-op resume, not an error
    assert(run(s"$base/ckpt1").count() > 0)
  }

  test("parquet-sink runner returns an empty frame for an empty join result") {
    val dir = "/root/testdata/sf0.001"
    val base = java.nio.file.Files
      .createTempDirectory("graft_empty_sink").toString
    val views = graft.Graft.eventsStream(spark, dir)
      .filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("vts"))
    // impossible filter -> zero right-side rows -> empty join output; the
    // sink commits a metadata log with no data files, and the terminal
    // read must yield an EMPTY frame (schema-on-read), not throw
    val clicks = graft.Graft.eventsStream(spark, dir)
      .filter($"event_type" === "no_such_type")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("cts"))
    val out = StreamOps.runStreamStreamTimeBoundJoinToPath(
      views, clicks, "v_user", "c_user", "vts", "cts",
      window = "30 minutes", lateness = "1 hour",
      outPath = s"$base/out", checkpointDir = s"$base/ckpt")
    assert(out.count() === 0L)
    assert(out.columns.contains("view_id") && out.columns.contains("click_id"))
  }

  test("streamingDedup suppresses duplicate event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = graft.streaming.StreamOps
      .streamingDedup(mem.toDF(), "1 hour", Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream").start()
    try {
      mem.addData(
        Ev(1, ts("2024-01-01 00:00:00"), "c", 1.0),
        Ev(1, ts("2024-01-01 00:00:01"), "c", 1.0), // dup in same batch
        Ev(2, ts("2024-01-01 00:01:00"), "c", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(1, ts("2024-01-01 00:02:00"), "c", 1.0)) // dup across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select($"event_id").as[Long].collect()
      assert(ids.sorted.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("foreachBatchScorer applies the batch-trained model per micro-batch") {
    import graft.kmeans.Centroid2
    implicit val sqlCtx = spark.sqlContext
    val model = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 100.0, 0.0))
    val scorer = graft.streaming.StreamOps.foreachBatchScorer(model)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:00:00"), "c", 5.0),
      Ev(2, ts("2024-01-01 00:00:00"), "c", 98.0))
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized {
          seen ++= scorer(batch, id)
            .select($"pid", $"cid").as[(Long, Int)].collect()
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(seen.toSet === Set((1L, 0), (2L, 1)))
    } finally q.stop()
  }

  test("incrementalCentroids keeps running means across micro-batches") {
    val model = Seq(Centroid2(0, 0.0, 0.0), Centroid2(1, 100.0, 0.0))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.incrementalCentroidStream(mem.toDF(), model)
      .writeStream.format("memory").queryName("inc_centroids")
      .outputMode("append").start()
    try {
      mem.addData(Ev(1, ts("2024-01-01 00:00:00"), "c", 2.0))
      q.processAllAvailable()
      mem.addData(Ev(2, ts("2024-01-01 00:00:00"), "c", 4.0))
      q.processAllAvailable()
      val updates = spark.table("inc_centroids")
        .select($"cid", $"x", $"n").as[(Int, Double, Long)].collect().toSeq
      // batch 1: mean 2.0 over 1 point; batch 2: mean 3.0 over 2 points —
      // state carried the first batch's sum across micro-batches
      assert(updates.contains((0, 2.0, 1L)))
      assert(updates.contains((0, 3.0, 2L)))
    } finally q.stop()
  }

  test("runStreamingCmSketch: segment store folds to the batch sketch " +
      "of the whole stream; replay overwrites identical segments") {
    import graft.text.TextOps
    val base = "target/stream_cm_sketch"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    val store = s"$base/store"; val ckpt = s"$base/ckpt"
    val b1 = Seq(Doc(1L, "x x y", "s"), Doc(2L, "z q r s t", "s"))
    val b2 = Seq(Doc(3L, "x y y w", "s"), Doc(4L, "q q v", "s"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(b1: _*)
    StreamOps.runStreamingCmSketch(mem.toDF(), store, ckpt,
      depth = 3, width = 64)
    mem.addData(b2: _*)
    StreamOps.runStreamingCmSketch(mem.toDF(), store, ckpt,
      depth = 3, width = 64)

    // two segment dirs, one per micro-batch
    val segs = new java.io.File(store).listFiles
      .filter(_.getName.startsWith("batch-")).map(_.getName).sorted
    assert(segs.length === 2)

    // merged store == one batch sketch of the entire streamed corpus
    val merged = StreamOps.readCmSketchStore(spark, store)
      .as[(Int, Long, Long)].collect().toSet
    val whole = TextOps.cmSketch((b1 ++ b2).toDF(), depth = 3, width = 64)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged === whole)

    // estimates off the merged store behave like the batch sketch
    val est = TextOps.cmEstimate(
        StreamOps.readCmSketchStore(spark, store),
        Seq("x", "q", "absent"), depth = 3, width = 64)
      .as[(String, Long)].collect().toMap
    assert(est("x") >= 2L && est("q") >= 3L)

    // at-least-once replay: re-running a batch body with the same
    // batchId rewrites the same segment, not a double count
    TextOps.cmSketch(b1.toDF(), 3, 64)
      .write.mode("overwrite").parquet(f"$store/batch-${0L}%09d")
    val replayed = StreamOps.readCmSketchStore(spark, store)
      .as[(Int, Long, Long)].collect().toSet
    assert(replayed === whole)
  }

  test("runStreamingCmSketch and runStreamingIvfAppend are batch-ORDER " +
      "invariant: the same two micro-batches in either order fold to the " +
      "same sketch and answer searches identically") {
    // the out-of-order companion to st_dedup_serve_late (which pins the
    // ORDER-SENSITIVE store — earlier batch wins): these two stores are
    // order-FREE by construction — CM because the fold is a cell-wise
    // SUM (commutative), IVF because every vector is assigned under the
    // FROZEN quantizer and the probe scans all segments — and this
    // proves it against a real reversed two-batch feed, so no hidden
    // batch-id- or arrival-order-dependence can creep into the runners
    import graft.sim.Similarity
    import graft.text.TextOps
    val base = "target/stream_order_invariance"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(base))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // ---- CM sketch: A-then-B vs B-then-A fold to identical cells ----
    val b1 = Seq(Doc(1L, "x x y", "s"), Doc(2L, "z q r s t", "s"))
    val b2 = Seq(Doc(3L, "x y y w", "s"), Doc(4L, "q q v", "s"))
    def feedCm(name: String, first: Seq[Doc], second: Seq[Doc]): Set[(Int, Long, Long)] = {
      val mem = MemoryStream[Doc]
      mem.addData(first: _*)
      StreamOps.runStreamingCmSketch(mem.toDF(), s"$base/$name/store",
        s"$base/$name/ckpt", depth = 3, width = 64)
      mem.addData(second: _*)
      StreamOps.runStreamingCmSketch(mem.toDF(), s"$base/$name/store",
        s"$base/$name/ckpt", depth = 3, width = 64)
      StreamOps.readCmSketchStore(spark, s"$base/$name/store")
        .as[(Int, Long, Long)].collect().toSet
    }
    val cmAB = feedCm("cm_ab", b1, b2)
    val cmBA = feedCm("cm_ba", b2, b1)
    assert(cmAB === cmBA, "CM fold diverged under batch reordering")
    // and both equal the one-shot sketch of the whole corpus
    assert(cmAB === TextOps.cmSketch((b1 ++ b2).toDF(), depth = 3, width = 64)
      .as[(Int, Long, Long)].collect().toSet)

    // ---- IVF append: reversed ingest order answers identically ----
    def vec(i: Int): Array[Double] = {
      val a = i * math.Pi / 80.0
      Array(math.cos(a), math.sin(a), 0.01 * i, 1.0)
    }
    val initial = (0 until 30).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    val v1 = (0 until 4).map(i => VecRow(100L + i, vec(31 + i)))
    val v2 = (0 until 4).map(i => VecRow(200L + i, vec(40 + i)))
    def feedIvf(name: String, first: Seq[VecRow], second: Seq[VecRow]): Seq[String] = {
      val store = s"$base/$name/store"
      // identical deterministic builds → identical quantizer, so the
      // only degree of freedom between the two stores is batch order
      Similarity.writeIvfIndex(initial, nlist = 4, path = store)
      val mem = MemoryStream[VecRow]
      mem.addData(first: _*)
      StreamOps.runStreamingIvfAppend(mem.toDF(), store, s"$base/$name/ckpt")
      mem.addData(second: _*)
      StreamOps.runStreamingIvfAppend(mem.toDF(), store, s"$base/$name/ckpt")
      val queries = Seq((1L, vec(33)), (2L, vec(41)), (3L, vec(5)))
        .toDF("id", "vec")
      val r = Similarity.ivfTopKFromStore(queries, store, k = 5, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq
      graft.util.OpCaches.releaseAll(spark)
      r
    }
    val ivfAB = feedIvf("ivf_ab", v1, v2)
    val ivfBA = feedIvf("ivf_ba", v2, v1)
    assert(ivfAB === ivfBA, "IVF search diverged under batch reordering")
    // the probes must actually see the streamed ids from BOTH batches
    assert(ivfAB.exists(_.startsWith("[1,102,")), "batch-1 ids never ranked")
    assert(ivfAB.exists(_.startsWith("[2,201,")), "batch-2 ids never ranked")
  }

  test("streaming classifier serve == batch score bit-for-bit, across " +
    "micro-batch boundaries (stateless map-only scoring)") {
    val docs = Seq(
      Doc(1L, "alpha beta alpha", "wiki"),
      Doc(2L, "alpha gamma", "wiki"),
      Doc(3L, "spam spam beta", "crawl"),
      Doc(4L, "spam junk", "crawl"),
      Doc(5L, "alpha junk beta", "held"))
    val store = "target/graft_stores/classifier_stream_spec"
    graft.text.TextOps.writeClassifierModel(
      docs.toDF(), col("source") === "wiki", store, nBuckets = 256)
    graft.util.OpCaches.releaseAll(spark)
    val batch = graft.text.TextOps.classifierScoreFromStore(docs.toDF(), store)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    // two micro-batches: scoring is stateless, so the split is invisible
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(docs.take(2))
    mem.addData(docs.drop(2))
    val got = StreamOps.runStreamingClassifierScore(
        mem.toDF(), store, "cls_serve_spec_sink")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got === batch)
  }
}
