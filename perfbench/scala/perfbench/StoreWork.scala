package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sim.Similarity
import graft.text.TextOps

/** store_serve: each run builds a BM25 store and an IVF store (nlist 128,
  * which takes the k > 64 cross-join assign path), then plays a seeded
  * closed loop from one client thread: hybrid requests (a BM25 top-k and
  * an IVF top-k for one user query) with an ingest batch appended to both
  * stores before the second timed request. The build and the ingest run
  * cold, as they do when a serving process starts; one untimed request
  * takes the query paths through their cold start, so the request tail
  * shows what ingested files cost later queries rather than JIT warm-up.
  *
  * Answers are checked after the window: BM25 against a driver-side BM25
  * over base + ingested documents (itself checked against inline
  * `TextOps.bm25TopK`), IVF against an exact driver-side scoring of the
  * probed cells under the store's own quantizer.
  */
object StoreWork {
  val Base = 500
  val Replicas = 2
  /** Requests in the window at least; an ingest batch goes before the
    * second request and every third one after it.
    */
  val MinRequests = 4
  val Dim = 64
  val NList = 128
  val NProbe = 8
  val TopK = 10
  val Batch = 20
  val IngestEvery = 3
  val K1 = 1.2
  val B = 0.75
  val VecSchema = StructType(Seq(StructField("id", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  final class World(r: Run) {
    val docs: IndexedSeq[Gen.Doc] = Gen.corpus(r.seed, Base, 0 until Replicas)
    /** Ingest reserve: one more replica, handed out `Batch` docs at a time. */
    val reserve: IndexedSeq[Gen.Doc] = Gen.corpus(r.seed, Base, Seq(Replicas))
    val vecs = Gen.vectors(r.seed, 0L, docs.size, Dim)
    val reserveVecs = Gen.vectors(r.seed, 1000000L, reserve.size, Dim)
    val hash: String = Gen.hashDocs(docs ++ reserve) + Gen.hashVectors(vecs ++ reserveVecs)
    val dir: Path = r.work.resolve(s"input-$hash")
    val docsPath: String = dir.resolve("documents.parquet").toString
    val vecsPath: String = dir.resolve("vectors.parquet").toString
    CorpusWork.writeDocs(r.spark, docs, dir, r.cores)
    r.spark.createDataFrame(r.spark.sparkContext.parallelize(
      vecs.map { case (id, v) => Row(id, v.toSeq) }, r.cores), VecSchema)
      .write.mode("overwrite").parquet(vecsPath)
    def docsDf: DataFrame = r.spark.read.parquet(docsPath).select("doc_id", "text")
    def vecsDf: DataFrame = r.spark.read.schema(VecSchema).parquet(vecsPath)
    def batchDocs(b: Int): Seq[Gen.Doc] = reserve.slice(b * Batch, (b + 1) * Batch)
    def batchVecs(b: Int): Seq[(Long, Array[Double])] = reserveVecs.slice(b * Batch, (b + 1) * Batch)
    /** Query i: three terms of one replica's vocabulary, and one vector. */
    def queryTerms(i: Int): Seq[String] = {
      val tag = docs(Gen.below(r.seed, 50, i, docs.size)).text.split(" ").head.dropWhile(_ != '~')
      (0 until 3).map(j => Gen.Vocab(Gen.below(r.seed, 51, i * 8L + j, Gen.Vocab.size)) + tag).distinct
    }
    def queryVec(i: Int): (Long, Array[Double]) = Gen.vectors(r.seed, 900000000L + i, 1, Dim).head
  }

  def docsFrame(r: Run, ds: Seq[Gen.Doc]): DataFrame =
    r.spark.createDataFrame(r.spark.sparkContext.parallelize(
      ds.map(d => Row(d.id, d.text)), 1),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  def vecsFrame(r: Run, vs: Seq[(Long, Array[Double])]): DataFrame =
    r.spark.createDataFrame(r.spark.sparkContext.parallelize(
      vs.map { case (id, v) => Row(id, v.toSeq) }, 1), VecSchema)

  /** One hybrid request's answers, and the ingest batches before it. */
  final case class Answer(i: Int, batches: Int, bm25: Seq[(Long, Double)], ivf: Seq[(Long, Double, Int)])

  /** The stores one run builds and serves from. */
  final class Stores(r: Run, w: World, tag: String, t: Option[Tracer]) {
    private def sp[A](name: String)(body: => A): A = Tracer.span(t, name)(body)
    val root: Path = r.work.resolve(s"stores-$tag")
    val bm25: String = root.resolve("bm25").toString
    val ivf: String = root.resolve("ivf").toString
    var batches = 0

    def build(docs: DataFrame, vecs: DataFrame): Unit = {
      deleteTree(root)
      sp("text.bm25_write")(TextOps.writeBm25Index(docs, bm25))
      sp("sim.ivf_write")(Similarity.writeIvfIndex(vecs, NList, ivf))
    }

    def request(i: Int): Answer = {
      val terms = w.queryTerms(i)
      val bm = sp("text.bm25_query")(
        TextOps.bm25TopKFromStore(r.spark, terms, bm25, TopK).collect())
        .map(row => (row.getLong(0), row.getDouble(1))).toSeq
      val qv = w.queryVec(i)
      val iv = sp("sim.ivf_query")(
        Similarity.ivfTopKFromStore(vecsFrame(r, Seq(qv)), ivf, TopK, NProbe).collect())
        .map(row => (row.getAs[Long]("cid"), row.getAs[Double]("sim"), row.getAs[Int]("rank")))
        .sortBy(_._3).toSeq
      Answer(i, batches, bm, iv)
    }

    def ingest(): Unit = {
      sp("text.bm25_append")(TextOps.appendToBm25Index(docsFrame(r, w.batchDocs(batches)), bm25))
      sp("sim.ivf_append")(Similarity.appendToIvfIndex(vecsFrame(r, w.batchVecs(batches)), ivf))
      batches += 1
    }

    /** Files and on-disk bytes per user byte, for both stores. */
    def footprint(): Unit = {
      val userDocs = (w.docs ++ (0 until batches).flatMap(w.batchDocs)).map(_.text.length.toLong).sum
      val userVecs = (w.docs.size + batches * Batch).toLong * Dim * 8L
      for ((name, path, user) <- Seq(("bm25", bm25, userDocs), ("ivf", ivf, userVecs))) {
        val (files, bytes) = tree(Path.of(path))
        r.metric(s"util.${name}_store.files", files.toDouble, "count")
        r.metric(s"util.${name}_store.bytes_per_user_byte", bytes.toDouble / user, "ratio")
      }
    }
  }

  def tree(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val files = s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      (files.length.toLong, files.map(Files.size).sum)
    } finally s.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  // ---- driver-side reference scoring ----

  def bm25Ref(docs: Seq[Gen.Doc], terms: Seq[String]): Seq[(Long, Double)] = {
    val toks = docs.map(d => d.id -> d.text.trim.split("\\s+").toSeq)
    val n = toks.size
    val sumDl = toks.map(_._2.size.toLong).sum
    val avgdl = if (n == 0) 1.0 else sumDl.toDouble / n.toDouble
    val qs = terms.distinct.sorted
    val df = qs.map(q => q -> toks.count(_._2.contains(q)).toDouble).toMap
    toks.flatMap { case (id, ts) =>
      val hits = qs.filter(ts.contains)
      if (hits.isEmpty) None
      else {
        val dl = ts.size.toDouble
        val raw = hits.foldLeft(0.0) { (acc, q) =>
          val tf = ts.count(_ == q).toDouble
          val idf = StrictMath.log((n.toDouble - df(q) + 0.5) / (df(q) + 0.5) + 1.0)
          acc + idf * tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))
        }
        Some(id -> math.floor(raw * 1e6).toLong / 1e6)
      }
    }.sortBy { case (id, s) => (-s, id) }.take(TopK)
  }

  def dist2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  def ivfRef(centroids: Seq[(Int, Array[Double])], corpus: Seq[(Long, Array[Double])],
      q: (Long, Array[Double])): Seq[(Long, Double, Int)] = {
    def nearest(v: Array[Double]): Int = {
      var best = -1; var bestD = Double.MaxValue
      centroids.foreach { case (c, cv) => val d = dist2(v, cv); if (best < 0 || d < bestD) { best = c; bestD = d } }
      best
    }
    val probed = centroids.map { case (c, cv) => (dist2(q._2, cv), c) }.sorted.take(NProbe).map(_._2).toSet
    val qn = math.sqrt(dot(q._2, q._2))
    corpus.filter { case (id, v) => id != q._1 && probed(nearest(v)) }.map { case (id, v) =>
      val cn = math.sqrt(dot(v, v))
      val sim = if (qn * cn == 0.0) 0.0 else dot(q._2, v) / (qn * cn)
      (id, sim)
    }.sortBy { case (id, s) => (-s, id) }.take(TopK).zipWithIndex.map { case ((id, s), i) => (id, s, i + 1) }
  }

  def run(r: Run): Unit = {
    val t0 = Main.nowNs()
    val w = new World(r)
    r.phase("write_input")
    r.detail("input") = Map("docs" -> w.docs.size, "vectors" -> w.vecs.size, "dim" -> Dim,
      "nlist" -> NList, "nprobe" -> NProbe, "top_k" -> TopK, "ingest_batch" -> Batch,
      "hash" -> w.hash,
      "bytes" -> (w.docs.map(_.text.length.toLong).sum + w.vecs.size.toLong * Dim * 8),
      "bytes_per_heap" -> (w.docs.map(_.text.length.toLong).sum + w.vecs.size.toLong * Dim * 8).toDouble /
        Runtime.getRuntime.maxMemory)

    r.metric("setup_s", (Main.nowNs() - t0) / 1e9 + r.detail("session_s").asInstanceOf[Double], "s")

    if (!r.trace) {
      val stores = new Stores(r, w, "timed", None)
      val c0 = Main.cpuNs()
      val b0 = Main.nowNs()
      val built = r.attempt("build")(stores.build(w.docsDf, w.vecsDf)).isDefined
      val buildS = (Main.nowNs() - b0) / 1e9
      val buildCpu = (Main.cpuNs() - c0) / 1e9
      val answers = mutable.ArrayBuffer.empty[Answer]
      r.phase("build")
      if (built) r.attempt("request")(stores.request(-1)).foreach(answers += _)
      r.phase("prime")
      val reqMs = mutable.ArrayBuffer.empty[Double]
      val ingestMs = mutable.ArrayBuffer.empty[Double]
      val m0 = Main.nowNs()
      if (built) Main.window(r.seconds, minOps = MinRequests) { i =>
        if (i % IngestEvery == 1) {
          val s1 = Main.nowNs()
          r.attempt("ingest")(stores.ingest())
          ingestMs += (Main.nowNs() - s1) / 1e6
        }
        val s0 = Main.nowNs()
        r.attempt("request")(stores.request(i)).foreach(answers += _)
        reqMs += (Main.nowNs() - s0) / 1e6
      }
      val mixS = (Main.nowNs() - m0) / 1e9
      r.metric("heap_peak_mb", r.heapLiveMb(), "MB")
      r.phase("window")
      verify(r, w, stores, answers.toSeq)
      r.phase("verify")
      deleteTree(stores.root)
      val tail = Stats.tail(reqMs)
      r.metric("op_s", buildS, "s")
      r.metric("rate_per_s", reqMs.size / mixS, "1/s")
      r.metric("p50_ms", Stats.median(reqMs), "ms")
      r.metric("tail_ms", tail.value, "ms")
      r.metric("cpu_s", buildCpu, "s")
      r.detail("samples") = Map("requests" -> reqMs.size, "request_ms" -> reqMs,
        "tail_pct" -> tail.pct, "ingests" -> ingestMs.size, "ingest_ms" -> ingestMs,
        "ingest_p50_ms" -> (if (ingestMs.isEmpty) Double.NaN else Stats.median(ingestMs)),
        "build_s" -> buildS)
    } else traced(r, w)
  }

  /** The same build and a fixed request, ingest, request sequence on fresh
    * stores: once to warm the JVM (the first build runs cold), then
    * untraced, traced, and untraced again.
    */
  private def traced(r: Run, w: World): Unit = {
    val t = new Tracer(r.spark)
    def play(tag: String, tr: Option[Tracer]): Option[Double] = {
      val stores = new Stores(r, w, tag, tr)
      r.reset()
      val s0 = Main.nowNs()
      val answers = r.attempt(s"${tag}_play") {
        stores.build(w.docsDf, w.vecsDf)
        val first = stores.request(0)
        stores.ingest()
        Seq(first, stores.request(1))
      }
      val ms = (Main.nowNs() - s0) / 1e6
      answers.foreach(verify(r, w, stores, _))
      if (tr.isDefined) stores.footprint()
      deleteTree(stores.root)
      answers.map(_ => ms)
    }
    play("warm_up", None)
    val untracedMs = play("untraced", None).toSeq
    val tracedMs = play("traced", Some(t))
    t.close()
    val baselineMs = untracedMs ++ play("untraced", None)
    val perCall = Seq("text.bm25_write", "sim.ivf_write", "text.bm25_append", "sim.ivf_append",
      "text.bm25_query", "sim.ivf_query")
    for (name <- perCall) {
      val s = t.get(name)
      val calls = math.max(1, s.calls).toDouble
      r.metric(s"$name.wall_ms", s.selfMs / calls, "ms")
      r.metric(s"$name.plan_ms", s.planMs / calls, "ms")
      r.metric(s"$name.codegen_ms", s.codegenMs / calls, "ms")
      r.metric(s"$name.jobs", s.jobs / calls, "count")
      r.metric(s"$name.driver_gap_ms", s.driverGapMs / calls, "ms")
      r.metric(s"$name.exec_cpu_ms", s.execCpuMs / calls, "ms")
      if (name.endsWith("_query")) r.metric(s"$name.input_bytes", s.inputBytes / calls, "bytes")
    }
    Tracer.overhead(r, tracedMs, baselineMs)
  }

  /** Check every recorded answer against the driver-side references. */
  private def verify(r: Run, w: World, stores: Stores, answers: Seq[Answer]): Unit = {
    if (answers.isEmpty) return
    val centroids = r.spark.read.parquet(s"${stores.ivf}/centroids").collect()
      .map(row => (row.getAs[Int]("cell"), row.getAs[scala.collection.Seq[Double]]("cv").toArray))
      .sortBy(_._1).toSeq
    answers.foreach { a =>
      val docs = w.docs ++ (0 until a.batches).flatMap(w.batchDocs)
      val want = bm25Ref(docs, w.queryTerms(a.i))
      r.check("request", a.bm25 == want, s"bm25 request ${a.i}: ${a.bm25.take(3)} vs ${want.take(3)}")
      val corpus = w.vecs ++ (0 until a.batches).flatMap(w.batchVecs)
      val wantIvf = ivfRef(centroids, corpus, w.queryVec(a.i))
      r.check("request", a.ivf == wantIvf, s"ivf request ${a.i}: ${a.ivf.take(3)} vs ${wantIvf.take(3)}")
    }
    // the driver-side BM25 must itself agree with the engine's inline scorer
    val last = answers.last
    val docs = w.docs ++ (0 until last.batches).flatMap(w.batchDocs)
    r.attempt("inline_bm25") {
      val inline = TextOps.bm25TopK(docsFrame(r, docs), w.queryTerms(last.i), TopK).collect()
        .map(row => (row.getLong(0), row.getDouble(1))).toSeq
      r.check("inline_bm25", inline == bm25Ref(docs, w.queryTerms(last.i)),
        "driver-side BM25 differs from inline TextOps.bm25TopK")
    }
  }
}
