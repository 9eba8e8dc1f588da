package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span measured. Times are milliseconds; `selfMs` is the span's
  * wall minus the part its child spans cover.
  */
final class SpanStats(val name: String) {
  var calls = 0
  var wallMs = 0.0
  var selfMs = 0.0
  var planMs = 0.0
  var codegenMs = 0.0
  var jobs = 0
  var driverGapMs = 0.0
  var execCpuMs = 0.0
  var gcMs = 0.0
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** Benchmark-side spans around the engine's public calls.
  *
  * The benchmark thread tags every Spark job it starts with a local
  * property naming the innermost open span. A listener maps jobs to spans
  * and stages to jobs, so task metrics (executor CPU, GC, shuffle and
  * input bytes) and job intervals land on the span that caused them. A
  * query-execution listener adds each executed query's analysis,
  * optimisation and planning time from its `QueryPlanningTracker`, and
  * the delta of `CodeGenerator.compileTime` gives codegen time. Before a
  * span opens and before it closes, the listener bus is drained, so every
  * event belongs to the span that was open when it happened.
  *
  * Only the traced run creates a Tracer; timed runs register nothing.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private final class Open(val id: String, val stats: SpanStats, val startNs: Long) {
    val children = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byName = mutable.LinkedHashMap.empty[String, SpanStats]
  private val openById = new java.util.concurrent.ConcurrentHashMap[String, Open]()
  private val stack = mutable.Stack.empty[Open]
  @volatile private var current: Open = _
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Open, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private var nextId = 0

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def stats: Seq[SpanStats] = byName.values.toSeq
  def get(name: String): SpanStats = byName.getOrElseUpdate(name, new SpanStats(name))

  /** Run `body` inside span `name`; spans nest. */
  def span[A](name: String)(body: => A): A = {
    PerfbenchAccess.drain(sc)
    nextId += 1
    val open = new Open(s"$name#$nextId", get(name), System.nanoTime())
    openById.put(open.id, open)
    stack.push(open)
    current = open
    sc.setLocalProperty(SpanKey, open.id)
    val codegen0 = CodeGenerator.compileTime
    try body
    finally {
      PerfbenchAccess.drain(sc)
      val endNs = System.nanoTime()
      val s = open.stats
      s.calls += 1
      s.codegenMs += (CodeGenerator.compileTime - codegen0) / 1e6
      val wallNs = endNs - open.startNs
      s.wallMs += wallNs / 1e6
      s.selfMs += Stats.uncovered(open.startNs, endNs, open.children.toSeq) / 1e6
      // job intervals are listener wall-clock milliseconds; compare them in
      // the same clock
      val endMs = System.currentTimeMillis()
      val startMs = endMs - wallNs / 1000000L
      s.driverGapMs += Stats.uncovered(startMs, endMs, open.jobIntervals.toSeq).toDouble
      stack.pop()
      openById.remove(open.id)
      if (stack.nonEmpty) stack.top.children += ((open.startNs, endNs))
      current = if (stack.nonEmpty) stack.top else null
      sc.setLocalProperty(SpanKey, if (current == null) null else current.id)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    val open = if (id == null) null else openById.get(id)
    if (open != null) {
      open.stats.jobs += 1
      jobSpan.put(e.jobId, (open, e.time))
      e.stageIds.foreach(st => stageSpan.put(st, open))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val hit = jobSpan.remove(e.jobId)
    if (hit != null) hit._1.jobIntervals += ((hit._2, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val open = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (open != null && m != null) {
      val s = open.stats
      s.execCpuMs += m.executorCpuTime / 1e6
      s.gcMs += m.jvmGCTime.toDouble
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val open = current
    if (open != null) {
      val phases = qe.tracker.phases
      open.stats.planMs += Seq(QueryPlanningTracker.ANALYSIS,
        QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
        .flatMap(phases.get).map(_.durationMs).sum.toDouble
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def close(): Unit = {
    PerfbenchAccess.drain(sc)
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** `body` inside span `name` of `t`; untraced when there is no tracer. */
  def span[A](t: Option[Tracer], name: String)(body: => A): A = t.fold(body)(_.span(name)(body))

  /** trace.overhead_pct: a traced pass against the mean of untraced passes
    * of the same work, run before and after it so JIT warm-up cancels.
    */
  def overhead(r: Run, tracedMs: Option[Double], untracedMs: Seq[Double]): Unit = {
    for (ms <- tracedMs if untracedMs.nonEmpty) {
      val base = untracedMs.sum / untracedMs.size
      r.metric("trace.overhead_pct", (ms - base) / base * 100.0, "%")
    }
    r.detail("traced") = Map("traced_ms" -> tracedMs, "untraced_ms" -> untracedMs)
  }
}
