package graft.pipeline

import org.apache.spark.GraftTestAccess
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.SparkTestSession
import graft.text.TextOps
import graft.util.Checkpoints

/** The checkpoint mode follows the context's checkpoint dir: the three
  * plan-truncation barriers (bpeFitWithDict, pipelineSurvivors,
  * dupGroups) must compute IDENTICAL results under reliable checkpoints
  * as under the default local ones — the mode moves storage, never
  * values.
  *
  * The dir lives on the one context every suite in the test JVM shares,
  * so each reliable run sets it, runs, and clears it again in `finally`
  * ([[org.apache.spark.GraftTestAccess]]); forked suites run one after
  * another, so no other suite sees it.
  */
class CheckpointModeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `body` with a fresh checkpoint dir (passed in) on the shared
    * context, which ends with no dir again.
    */
  private def withCheckpointDir[T](body: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_mode")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val out =
      try body(dir)
      finally GraftTestAccess.clearCheckpointDir(spark.sparkContext)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    out
  }

  test("mode selection: a checkpoint dir alone selects reliable checkpoints; " +
      "clearing it returns to local") {
    import scala.jdk.CollectionConverters._
    def rddDirs(dir: java.nio.file.Path): Int =
      java.nio.file.Files.walk(dir).iterator().asScala
        .count(_.getFileName.toString.startsWith("rdd-"))
    val df = spark.range(10).toDF("id")
    assert(!Checkpoints.reliableEnabled(spark))
    withCheckpointDir { dir =>
      // no session setting: every session over the context is reliable
      assert(Checkpoints.reliableEnabled(spark))
      assert(Checkpoints.reliableEnabled(spark.newSession()))
      val (c, release) = Checkpoints.checkpoint(df, eager = true)
      assert(c.count() === 10)
      assert(rddDirs(dir) === 1) // written to the dir, not the block store
      release()
      assert(rddDirs(dir) === 0)
    }
    assert(!Checkpoints.reliableEnabled(spark))
  }

  private val tinyDocs = Seq(
    (1L, "low low lower lowest", "web"),
    (2L, "newer new news low", "web"),
    (3L, "low lower newest news", "ref"))

  private def bpeFit(): (Seq[(Long, String, String, Long)], Seq[String]) = {
    import spark.implicits._
    val docs = tinyDocs.toDF("doc_id", "text", "source")
    val (m, d) = TextOps.bpeFitWithDict(docs, merges = 6)
    val dict = d.collect().map(_.toString).sorted.toSeq
    graft.util.OpCaches.releaseAll(spark)
    (m, dict)
  }

  test("bpeFitWithDict: reliable mode fits the identical merge table " +
      "and dictionary") {
    val (mLocal, dictLocal) = bpeFit()
    val (mRel, dictRel) = withCheckpointDir(_ => bpeFit())
    assert(mRel === mLocal)
    assert(dictRel === dictLocal)
    assert(mLocal.nonEmpty) // the fixture must actually exercise the loop
  }

  private def dupGroups(): (Map[Long, Long], Int) = {
    import spark.implicits._
    val edges = ((1L until 20L).map(i => (i, i + 1)) ++
      Seq((40L, 41L), (41L, 42L))).toDF("d1", "d2")
    val (g, rounds) = graft.dedup.Dedup.dupGroupsWithRounds(edges)
    val out = g.as[(Long, Long)].collect().toMap
    graft.util.OpCaches.releaseAll(spark)
    (out, rounds)
  }

  test("dupGroups: the checkpoint dir alone (no explicit param) selects " +
      "reliable rounds and yields the same groups") {
    val (local, rLocal) = dupGroups()
    val (rel, rRel) = withCheckpointDir(_ => dupGroups())
    assert(rel === local)
    assert(rRel === rLocal)
  }

  test("pipelineSurvivors: reliable mode keeps the identical survivor " +
      "set on sf0.001") {
    def survivors(): Seq[Long] = {
      val out = graft.SparkEntry.pipelineSurvivors(spark, "/root/testdata/sf0.001")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      graft.util.OpCaches.releaseAll(spark)
      out
    }
    val local = survivors()
    val rel = withCheckpointDir(_ => survivors())
    assert(rel === local)
    assert(local.nonEmpty)
  }
}
