package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.dedup.Dedup
import graft.text.TextOps
import graft.util.Checkpoints

/** corpus_pipeline: `tx_pipeline_e2e` over a seeded replication of the
  * `documents` fixture. Every run's output must equal the key's DuckDB
  * oracle (`SparkEntry.oracleSql`) over the same generated corpus.
  *
  * Untimed runs warm the JVM first; the timed runs are warm.
  */
object CorpusWork {
  val Key = "tx_pipeline_e2e"
  val Base = 500
  val Replicas = 1
  /** Untimed runs take the JIT through the cold start. The first run takes
    * about three times as long as a warm one, and the next few are still
    * 10-20% slower each, with JIT compilation sharing the cores; timed
    * runs that start on that slope make the slowest run (the tail) follow
    * the machine's load.
    */
  val WarmRuns = 4
  val MinRuns = 3

  val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Write documents as `<dir>/documents.parquet`, the engine's table layout. */
  def writeDocs(spark: SparkSession, docs: Seq[Gen.Doc], dir: Path, parts: Int): Unit = {
    val rows = docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), DocSchema)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
  }

  /** Rows as sorted strings over name-sorted columns: the oracle's compare. */
  def canonical(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  /** Run the key's oracle SQL in DuckDB through the Python helper. */
  def oracle(r: Run, dir: Path): Seq[String] = {
    val sql = r.work.resolve("oracle.sql")
    Files.writeString(sql, SparkEntry.oracleSql(Key))
    val out = dir.resolve("oracle.txt")
    val py = sys.props.getOrElse("perfbench.python", "python3")
    val helper = sys.props.getOrElse("perfbench.dir", "perfbench") + "/oracle.py"
    val p = new ProcessBuilder(py, helper, sql.toString,
      dir.resolve("documents.parquet").toString, out.toString)
      .redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes())
    require(p.waitFor() == 0, s"oracle failed: ${log.take(500)}")
    Files.readAllLines(out).toArray(Array.empty[String]).toSeq.sorted
  }

  def run(r: Run): Unit = {
    val t0 = Main.nowNs()
    // every replica tagged, so the seed reaches every token hash
    val docs = Gen.corpus(r.seed, Base, 1 to Replicas)
    val hash = Gen.hashDocs(docs)
    val dir = r.work.resolve(s"corpus-$hash")
    writeDocs(r.spark, docs, dir, r.cores)
    r.phase("write_input")
    for (_ <- 0 until WarmRuns) { r.reset(); SparkEntry.queries(Key)(r.spark, dir.toString).collect() }
    r.phase("warm_up")
    val textBytes = docs.map(_.text.length.toLong).sum
    r.detail("input") = Map("docs" -> docs.size, "base" -> Base, "replicas" -> Replicas,
      "hash" -> hash, "bytes" -> textBytes,
      "bytes_per_heap" -> textBytes.toDouble / Runtime.getRuntime.maxMemory)
    r.metric("setup_s", (Main.nowNs() - t0) / 1e9 + r.detail("session_s").asInstanceOf[Double], "s")

    val runMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    def pipeline(op: String): Unit = {
      r.reset()
      val c0 = Main.cpuNs()
      val s0 = Main.nowNs()
      val got = r.attempt(op)(canonical(SparkEntry.queries(Key)(r.spark, dir.toString)))
      val ms = (Main.nowNs() - s0) / 1e6
      got.foreach { g =>
        outputs += op -> g
        runMs += ms
        cpuS += (Main.cpuNs() - c0) / 1e9
      }
    }
    // after the timed work: every output must equal the DuckDB oracle
    def checkAll(): Unit = {
      val o0 = Main.nowNs()
      val want = oracle(r, dir)
      r.detail("oracle") = Map("rows" -> want.size, "s" -> (Main.nowNs() - o0) / 1e9)
      outputs.foreach { case (op, g) =>
        r.check(op, g == want, s"${g.size} rows vs ${want.size} oracle rows, " +
          s"${g.diff(want).size} not in the oracle")
      }
    }

    if (!r.trace) {
      Main.window(r.seconds, minOps = MinRuns)(_ => pipeline("pipeline"))
      r.metric("heap_peak_mb", r.heapLiveMb(), "MB")
      r.phase("window")
      checkAll()
      r.phase("verify")
      val tail = Stats.tail(runMs)
      r.metric("op_s", Stats.median(runMs) / 1e3, "s")
      r.metric("rate_per_s", docs.size / (Stats.median(runMs) / 1e3), "1/s")
      r.metric("p50_ms", Stats.median(runMs), "ms")
      r.metric("tail_ms", tail.value, "ms")
      r.metric("cpu_s", Stats.median(cpuS), "s")
      r.detail("samples") = Map("runs" -> runMs.size, "run_ms" -> runMs,
        "tail_pct" -> tail.pct, "cpu_s" -> cpuS)
    } else traced(r, dir.toString, oracle(r, dir))
  }

  /** The key's stage chain replayed from public operators, one eager
    * checkpoint per stage: once to warm its code paths, untraced, traced
    * inside one span per stage, then untraced again; every replay's output
    * must equal the oracle's.
    */
  private def traced(r: Run, dir: String, want: Seq[String]): Unit = {
    val spark = r.spark
    val t = new Tracer(spark)
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def replay(op: String, tr: Option[Tracer]): Option[Double] = {
      def stage(name: String)(df: => DataFrame): DataFrame = {
        val out = Tracer.span(tr, name)(Checkpoints.checkpointTracked(df, eager = true))
        rows(name) = out.count()
        out
      }
      r.reset()
      val s0 = Main.nowNs()
      r.attempt(op) {
        val docs = graft.Graft.table(spark, dir, "documents")
        val kept0 = stage("text.quality")(docs.join(
          TextOps.analyze(docs).filter(col("quality") >= 0.5).select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
        val kept1 = stage("dedup.exact")(Dedup.exactDedup(kept0))
        val kept2 = stage("dedup.near")(
          Dedup.nearDedup(kept1, n = 3, numHashes = 12, bands = 4, threshold = 0.5))
        val kept3 = stage("text.decontam") {
          val leaks = TextOps.splitLeakage(kept2, n = 3, threshold = 0.4, maxShingleDf = Some(50L))
          val contaminated = leaks
            .select(when(col("split1") === "train", col("d1"))
              .when(col("split2") === "train", col("d2")).as("doc_id"))
            .filter(col("doc_id").isNotNull).distinct()
          kept2.join(contaminated, Seq("doc_id"), "left_anti")
        }
        val capped = stage("text.cap")(kept3.join(
          TextOps.sourceCap(kept3, cap = 7).select(col("doc_id")), Seq("doc_id"), "left_semi"))
        val packed = Tracer.span(tr, "text.pack")(
          canonical(TextOps.packSequences(capped, budget = 512L, shards = 8)))
        val ms = (Main.nowNs() - s0) / 1e6
        rows("text.pack") = packed.size.toLong
        r.check(op, packed == want, s"$op: stage replay differs from the oracle")
        if (tr.isDefined) {
          val cands = Dedup.minHashCandidates(kept1, n = 3, numHashes = 12, bands = 4)
          r.metric("dedup.near.candidates", cands.count().toDouble, "count")
          r.metric("dedup.near.verified",
            Dedup.verifyJaccard(kept1, cands, n = 3, threshold = 0.5).count().toDouble, "count")
        }
        ms
      }
    }
    replay("replay", None)
    val untracedMs = replay("replay", None).toSeq
    val tracedMs = replay("traced_pipeline", Some(t))
    t.close()
    val baselineMs = untracedMs ++ replay("replay", None)
    for (name <- Seq("text.quality", "dedup.exact", "dedup.near", "text.decontam", "text.cap", "text.pack")) {
      val s = t.get(name)
      r.metric(s"$name.wall_ms", s.selfMs, "ms")
      r.metric(s"$name.plan_ms", s.planMs, "ms")
      r.metric(s"$name.jobs", s.jobs, "count")
      r.metric(s"$name.exec_cpu_ms", s.execCpuMs, "ms")
      r.metric(s"$name.shuffle_bytes", s.shuffleBytes.toDouble, "bytes")
      r.metric(s"$name.rows_out", rows.getOrElse(name, 0L).toDouble, "count")
    }
    Tracer.overhead(r, tracedMs, baselineMs)
  }
}
