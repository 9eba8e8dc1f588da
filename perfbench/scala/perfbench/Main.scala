package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** State shared by one benchmark invocation: the session, the seed, the
  * failure ledger and the detail block the result records.
  */
final class Run(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val work: Path) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[Map[String, String]]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var phaseStart = Main.nowNs()

  /** Close a phase of the run: its wall time since the previous one closed. */
  def phase(name: String): Unit = {
    val now = Main.nowNs()
    phases(name) = (now - phaseStart) / 1e9
    phaseStart = now
    detail("phases_s") = phases
  }

  /** Run one operation; a thrown exception is recorded and counted. */
  def attempt[A](op: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        failures += Map("op" -> op, "error" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage).take(300))
        None
    }
  }

  /** Record a wrong output for an operation already counted as attempted. */
  def wrong(op: String, why: String): Unit = {
    failed += 1
    failures += Map("op" -> op, "error" -> "WrongOutput", "message" -> why.take(300))
  }

  /** Check a condition on an output; a false check counts as a failure. */
  def check(op: String, ok: Boolean, why: => String): Boolean = {
    if (!ok) wrong(op, why)
    ok
  }

  /** Drop every cache a previous operation could leave behind. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    graft.util.OpCaches.releaseAll(spark)
    graft.Graft.dropTableSchemaCache()
  }

  /** Drop caches, full GC, then heap in use: what the timed operations
    * left live. Unpersisted blocks and unreferenced broadcasts leave
    * Spark's storage memory asynchronously, so GC repeats until that
    * memory stops shrinking; otherwise the sample depends on cleanup timing.
    */
  def heapLiveMb(): Double = {
    reset()
    val sc = spark.sparkContext
    def storageUsed: Long = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    var prev = Long.MaxValue
    var rounds = 0
    while (rounds < 10 && storageUsed < prev) {
      prev = storageUsed
      System.gc()
      Thread.sleep(100)
      rounds += 1
    }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

object Main {
  def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def nowNs(): Long = System.nanoTime()

  val Workloads: Map[String, Run => Unit] = Map(
    "lloyd_2d" -> (r => LloydWork.run(r, LloydWork.TwoD)),
    "lloyd_nd" -> (r => LloydWork.run(r, LloydWork.ND)),
    "corpus_pipeline" -> CorpusWork.run,
    "store_serve" -> StoreWork.run)

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val startNs = nowNs()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.contains("--selftest")) { SelfTest.main(Array.empty); return }
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(
        s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", ".bench_build/work")).toAbsolutePath
    Files.createDirectories(work)
    val load0 = loadAvg()
    val spark = session(work)
    val r = new Run(spark, workload, seed, seconds, trace, work.resolve(workload))
    // inputs are regenerated every run, so set-up always does the same work
    StoreWork.deleteTree(r.work)
    Files.createDirectories(r.work)
    try {
      r.detail("workload") = workload
      r.detail("seed") = seed
      r.detail("trace") = trace
      r.detail("session_s") = (nowNs() - startNs) / 1e9
      run(r)
      r.detail("env") = Map(
        "cpus" -> r.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "loadavg_before" -> load0,
        "loadavg_after" -> loadAvg(),
        "wall_s" -> (nowNs() - startNs) / 1e9,
        "process_cpu_s" -> cpuNs() / 1e9)
      r.detail("attempted") = r.attempted
      r.detail("failed") = r.failed
      r.detail("failures") = r.failures.take(20)
      println(Json(Map("detail" -> r.detail)))
      val names = if (trace) Metrics.perLayer else Metrics.endToEnd
      val metrics = mutable.LinkedHashMap(names.map { case (k, u) =>
        k -> Map("value" -> r.metrics.get(k).fold(0.0)(_._1), "unit" -> u)
      }: _*)
      val missing = Metrics.endToEnd.map(_._1).filterNot(r.metrics.contains)
      if (!trace && missing.nonEmpty)
        r.wrong("metrics", s"no value for ${missing.mkString(", ")}")
      // the result line is always last on stdout
      println(Json(mutable.LinkedHashMap(
        "correct" -> (r.failed == 0 && r.attempted > 0),
        "attempted" -> math.max(1, r.attempted),
        "failed" -> r.failed,
        "metrics" -> metrics)))
      System.out.flush()
    } finally spark.stop()
  }

  /** Timed window: run `op` until `seconds` have passed, at least `minOps`
    * times. Returns how many ops ran.
    */
  def window(seconds: Int, minOps: Int = 1)(op: Int => Unit): Int = {
    val t0 = nowNs()
    var i = 0
    while (i < minOps || (nowNs() - t0) / 1e9 < seconds) { op(i); i += 1 }
    i
  }
}
