package graft.tools

/** Dev-only probe: ONE measured point at ~100× sf0.1 (≈500k docs /
  * 500k vectors via [[GenScaleCorpus]]) for the scalable dedup/ANN heads
  * — direct evidence for the "survives 100×" claim that the per-round
  * 10× smoke only samples. Prints each time and its ratio vs a same-JVM
  * sf0.1 base measurement (min-of-2 both sides; shuffle partitions
  * scaled with the data, as a real cluster would).
  */
object ProbeScale100 {
  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/scale100")
    val replicas = args.lift(2).map(_.toInt).getOrElse(100)
    val spark = graft.Graft.session(32)
    spark.sparkContext.setLogLevel("ERROR")

    val t0 = System.nanoTime()
    GenScaleCorpus.ensure(spark, base, out, replicas)
    println(f"PROBE100 corpus ready in ${(System.nanoTime() - t0) / 1e9}%.0f s")

    val queries = Seq(
      "dd_near_dedup", "dd_incremental_dedup", "sm_cosine_lsh_sized",
      "sm_ann_lsh_sized", "sm_ann_ivf_topk", "sm_semdedup_sized")

    def run(name: String, dir: String, parts: Int): Double = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      spark.catalog.clearCache()
      graft.util.OpCaches.releaseAll(spark)
      val t = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e9
    }

    queries.foreach { q =>
      run(q, base, 32) // warm
      val b = math.min(run(q, base, 32), run(q, base, 32))
      // 100x data: scale partitions like a cluster would (bounded by a
      // sane local cap; 256 keeps per-partition state ~10x the base).
      // Warm the scaled side too — without it the first timed run pays
      // cold parquet footer/page-cache reads of the freshly generated
      // corpus and the min-of-2 can still be partially cold
      run(q, out, 256) // warm
      val s = math.min(run(q, out, 256), run(q, out, 256))
      println(f"PROBE100 $q%-22s base=$b%7.2f s  x$replicas=$s%8.2f s  ratio=${s / b}%6.1f")
    }
    spark.stop()
  }
}
