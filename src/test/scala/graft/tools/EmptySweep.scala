package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev tool (the r17 verdict's #6): sweep EVERY SparkEntry query key
  * against a zero-row fixture and print each key's degenerate-input
  * behavior — `OK <rows>` (completes with a defined result) or
  * `REFUSE <exception>: <message>` (fails loudly). The classification
  * this prints is what [[graft.EmptyInputSpec]] pins; run it again
  * whenever a new key lands to decide which class the key belongs in.
  *
  * The empty fixture is schema-preserving (`limit(0)` of each sf0.001
  * table written to `target/empty-sf`), so failures are genuine
  * degenerate-input behavior, never missing-column analysis errors.
  */
object EmptySweep {
  val TABLES: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Write the zero-row fixture (idempotent overwrite) and return its dir. */
  def ensureEmptyFixture(spark: SparkSession, from: String, dest: String): String = {
    TABLES.foreach { t =>
      spark.read.parquet(s"$from/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }
    dest
  }

  def main(args: Array[String]): Unit = {
    val from = args.headOption.getOrElse("/root/testdata/sf0.001")
    val dest = if (args.length > 1) args(1) else "target/empty-sf"
    val spark = graft.Graft.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    ensureEmptyFixture(spark, from, dest)
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      spark.catalog.clearCache()
      graft.util.OpCaches.releaseAll(spark)
      val res =
        try s"OK ${graft.SparkEntry.queries(name)(spark, dest).count()}"
        catch {
          case e: Throwable =>
            val msg = Option(e.getMessage).getOrElse("")
              .linesIterator.toSeq.headOption.getOrElse("")
            s"REFUSE ${e.getClass.getSimpleName}: ${msg.take(160)}"
        }
      println(s"EMPTYSWEEP $name $res")
    }
    spark.stop()
  }
}
