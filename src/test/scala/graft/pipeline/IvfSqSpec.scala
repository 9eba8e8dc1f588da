package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.SparkTestSession
import graft.sim.Similarity
import graft.util.GenStore

/** The scalar-quantized IVF tier ([[graft.sim.Similarity.writeIvfIndexSq]]
  * / [[Similarity.ivfTopKFromStoreSq]]): SQ8 codes for the probe scans,
  * exact re-rank for the results.
  *
  *  - RESULTS: the SQ path returns exactly what the exact-store path
  *    returns on the fixture embeddings (re-rank depth 4k recovers the
  *    true within-probe top-k).
  *  - SIZE: the quantized tier is several times smaller on disk than
  *    the exact tier — the thing a 100 TB embedding corpus keeps hot.
  *  - APPEND: batches encode with the STORED bounds and land in both
  *    tiers; results still match the exact path.
  *  - COMPACTION: compacts both tiers, results unchanged.
  */
class IvfSqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(rm)
    f.delete(); ()
  }

  private def bytes(dir: String): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
  }

  private def rows(df: DataFrame): Seq[String] = {
    val r = df.collect().map(_.toString).sorted.toSeq
    graft.util.OpCaches.releaseAll(spark)
    r
  }

  private lazy val corpus = graft.kmeans.OpsN.pointsFromEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    .select($"pid".as("id"), $"features".as("vec"))

  test("SQ store answers identically to the exact store; quantized tier " +
      "is several times smaller") {
    val exact = "target/graft_stores/ivfsq_spec_exact"
    val sq = "target/graft_stores/ivfsq_spec_sq"
    Seq(exact, sq).foreach(p => rm(new java.io.File(p)))
    Similarity.writeIvfIndex(corpus, nlist = 8, path = exact)
    Similarity.writeIvfIndexSq(corpus, nlist = 8, path = sq)
    val q = corpus.filter($"id" < 10)
    val want = rows(Similarity.ivfTopKFromStore(q, exact, k = 5, nprobe = 2))
    val got = rows(Similarity.ivfTopKFromStoreSq(q, sq, k = 5, nprobe = 2))
    assert(got === want)
    // the scan tier really is small: SQ8 codes vs float64 arrays
    val exactBytes = bytes(s"$sq/cells")
    val sqBytes = bytes(s"$sq/cells_sq")
    assert(sqBytes > 0 && exactBytes > 0)
    assert(sqBytes * 3 < exactBytes,
      s"cells_sq $sqBytes B not <3x smaller than cells $exactBytes B")
  }

  test("appends encode with stored bounds into both tiers; compaction " +
      "compacts both; results track the exact store throughout") {
    val sq = "target/graft_stores/ivfsq_spec_append"
    val exact = "target/graft_stores/ivfsq_spec_append_exact"
    Seq(sq, exact).foreach(p => rm(new java.io.File(p)))
    val base = corpus.filter($"id" < 400)
    // batch ids shifted OUT of the query range; some components exceed
    // the build-time bounds, exercising the clamp
    val batch = corpus.filter($"id" >= 400)
      .select(($"id" + 100000L).as("id"),
        org.apache.spark.sql.functions.transform($"vec", v => v * 1.5).as("vec"))
    Similarity.writeIvfIndexSq(base, nlist = 4, path = sq)
    Similarity.appendToIvfIndex(batch, sq)
    Similarity.writeIvfIndex(base, nlist = 4, path = exact)
    Similarity.appendToIvfIndex(batch, exact)
    // both tiers grew by the batch
    assert(spark.read.parquet(GenStore.resolve(spark, s"$sq/cells")).count() ===
      spark.read.parquet(GenStore.resolve(spark, s"$sq/cells_sq")).count())
    val q = corpus.filter($"id" < 10)
    val want = rows(Similarity.ivfTopKFromStore(q, exact, k = 5, nprobe = 2))
    assert(rows(Similarity.ivfTopKFromStoreSq(q, sq, k = 5, nprobe = 2)) === want)
    // compaction folds both tiers and changes nothing
    Similarity.compactIvfCells(spark, sq)
    assert(GenStore.currentGen(spark, s"$sq/cells").nonEmpty)
    assert(GenStore.currentGen(spark, s"$sq/cells_sq").nonEmpty)
    assert(rows(Similarity.ivfTopKFromStoreSq(q, sq, k = 5, nprobe = 2)) === want)
  }

  test("quantization round-trip: codes decode within half a step of the " +
      "source everywhere, exactly at the bounds and on constant dims") {
    val vecs = Seq(
      (1L, Seq(0.0, -5.0, 3.0, 7.0)),
      (2L, Seq(10.0, 5.0, 3.0, -7.0)),
      (3L, Seq(5.0, 0.0, 3.0, 0.0))).toDF("id", "vec")
    val store = "target/graft_stores/ivfsq_spec_roundtrip"
    rm(new java.io.File(store))
    Similarity.writeIvfIndexSq(vecs, nlist = 1, path = store)
    val quant = spark.read.parquet(s"$store/quant").collect()(0)
    val mins = quant.getSeq[Double](quant.fieldIndex("mins"))
    val maxs = quant.getSeq[Double](quant.fieldIndex("maxs"))
    assert(mins === Seq(0.0, -5.0, 3.0, -7.0))
    assert(maxs === Seq(10.0, 5.0, 3.0, 7.0))
    val codes = spark.read.parquet(s"$store/cells_sq")
      .select($"cid_id", $"qv").as[(Long, Seq[Byte])].collect().toMap
    val src = Map(
      1L -> Seq(0.0, -5.0, 3.0, 7.0),
      2L -> Seq(10.0, 5.0, 3.0, -7.0),
      3L -> Seq(5.0, 0.0, 3.0, 0.0))
    for ((id, v) <- src; i <- v.indices) {
      val delta = if (maxs(i) > mins(i)) (maxs(i) - mins(i)) / 255.0 else 1.0
      val decoded = mins(i) + delta * (codes(id)(i).toDouble + 128.0)
      assert(math.abs(decoded - v(i)) <= delta / 2.0 + 1e-12,
        s"id $id dim $i: $decoded vs ${v(i)} (step $delta)")
    }
    // constant dimension (index 2): code 0, decodes exactly
    assert(src.keys.forall(id => codes(id)(2) === (-128).toByte))
  }
}
