package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev measurement tool (guide §1: measure first): run named SparkEntry
  * queries through the noop sink and print a per-JOB timing breakdown —
  * where a multi-job key (driver-loop fits, store builds, serving
  * fixtures) actually spends its wall clock, which a single per-query
  * total cannot show. Job rows carry the Spark job description when the
  * operator sets one, else the callsite.
  *
  * Usage: runMain graft.tools.ProfileQuery <sfDir> <k1,k2,...> [repeats]
  * (defaults: /root/testdata/sf0.1, repeats 2 — the first timed run is
  * labeled warm=0 and should be discounted; the tool never writes
  * anything and is not part of the driver contract.)
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("tx_pipeline_e2e"))
    val repeats = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.session(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // (jobId, submitted-ns not available — use wall at events) -> desc/dur
    case class Job(id: Int, desc: String, var startMs: Long, var durMs: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(js.jobId, Job(js.jobId, d, js.time, -1L))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.durMs = je.time - j.startMs
      }
    })

    names.foreach { name =>
      require(graft.SparkEntry.queries.contains(name), s"unknown key: $name")
      // warm once (JIT + footer caches) so the profiled run is steady-state
      (0 until math.max(repeats, 1)).foreach { rep =>
        spark.catalog.clearCache()
        graft.util.OpCaches.releaseAll(spark)
        jobs.clear(); order.clear()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        if (rep == repeats - 1) { // print the last (warmest) run
          println(f"== $name rep=$rep wall=$wall%.3f s")
          val it = order.iterator()
          var sum = 0L
          var prevEnd = -1L
          while (it.hasNext) {
            val j = jobs.get(it.next())
            sum += math.max(j.durMs, 0L)
            // gap = driver think time (planning, collects, plan analysis)
            // between the previous job's end and this job's start
            val gap = if (prevEnd < 0) 0L else j.startMs - prevEnd
            prevEnd = j.startMs + math.max(j.durMs, 0L)
            println(f"  job ${j.id}%4d  ${j.durMs}%6d ms  gap ${gap}%6d ms  " +
              j.desc.take(95))
          }
          println(f"  jobs total ${sum / 1000.0}%.3f s of $wall%.3f s wall " +
            f"(gap = planning/driver = ${wall - sum / 1000.0}%.3f s)")
        }
      }
    }
    spark.stop()
  }
}
