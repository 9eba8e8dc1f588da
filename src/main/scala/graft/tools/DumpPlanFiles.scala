package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for named queries to individual
  * files — the per-round plan evidence (`plans/rNN/<query>_{before,after}.txt`)
  * the optimization rounds commit.
  *
  * Usage: runMain graft.tools.DumpPlanFiles <sfDir> <outDir> <suffix> <k1,k2,...>
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: DumpPlanFiles <sfDir> <outDir> <suffix> <k1,k2,...>")
    val Array(sfDir, outDir, suffix, csv) = args.take(4)
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = graft.Graft.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      require(graft.SparkEntry.queries.contains(name), s"unknown key: $name")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val lines = plan.linesIterator.toSeq
      val capped =
        if (lines.length <= 3000) plan
        else lines.take(3000).mkString("", "\n",
          s"\n... truncated (${lines.length - 3000} more lines)\n")
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        capped.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
