package perfbench

/** Every metric a run reports, with its unit; run.py checks them against
  * the lists in BENCHMARK.json. A timed run (--trace 0)
  * reports exactly `endToEnd`; a traced run (--trace 1) reports exactly
  * `perLayer`, with 0 for spans the workload never enters.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s" -> "s", "rate_per_s" -> "1/s", "p50_ms" -> "ms",
    "tail_ms" -> "ms", "cpu_s" -> "s", "heap_peak_mb" -> "MB")

  private def each(spans: Seq[String], measures: Seq[(String, String)]) =
    for (s <- spans; (m, u) <- measures) yield s"$s.$m" -> u

  val perLayer: Seq[(String, String)] =
    Seq("kmeans.init.wall_ms" -> "ms", "kmeans.init.jobs" -> "count") ++
      each(Seq("kmeans.assign", "kmeans.update", "kmeans.converge"), Seq("wall_ms" -> "ms")) ++
      each(Seq("kmeans.collect"), Seq("wall_ms" -> "ms", "plan_ms" -> "ms",
        "codegen_ms" -> "ms", "jobs" -> "count", "driver_gap_ms" -> "ms",
        "exec_cpu_ms" -> "ms", "gc_ms" -> "ms", "shuffle_bytes" -> "bytes")) ++
      each(Seq("kmeans.assign_only"), Seq("wall_ms" -> "ms", "exec_cpu_ms" -> "ms")) ++
      each(Seq("kmeans.update_only"), Seq("wall_ms" -> "ms", "exec_cpu_ms" -> "ms",
        "shuffle_bytes" -> "bytes")) ++
      Seq("expr.dist_evals" -> "count", "expr.ns_per_dist" -> "ns", "util.cache_mb" -> "MB") ++
      each(Seq("text.quality", "dedup.exact", "dedup.near", "text.decontam", "text.cap",
        "text.pack"), Seq("wall_ms" -> "ms", "plan_ms" -> "ms", "jobs" -> "count",
        "exec_cpu_ms" -> "ms", "shuffle_bytes" -> "bytes", "rows_out" -> "count")) ++
      Seq("dedup.near.candidates" -> "count", "dedup.near.verified" -> "count") ++
      each(Seq("text.bm25_write", "sim.ivf_write", "text.bm25_append", "sim.ivf_append",
        "text.bm25_query", "sim.ivf_query"), Seq("wall_ms" -> "ms", "plan_ms" -> "ms",
        "codegen_ms" -> "ms", "jobs" -> "count", "driver_gap_ms" -> "ms",
        "exec_cpu_ms" -> "ms")) ++
      Seq("text.bm25_query.input_bytes" -> "bytes", "sim.ivf_query.input_bytes" -> "bytes") ++
      each(Seq("util.bm25_store", "util.ivf_store"), Seq("files" -> "count",
        "bytes_per_user_byte" -> "ratio")) ++
      Seq("trace.overhead_pct" -> "%")
}
