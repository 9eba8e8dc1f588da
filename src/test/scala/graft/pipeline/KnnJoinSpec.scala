package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.SparkTestSession
import graft.sim.Similarity

/** Cell-confined kNN self-join (the kNN-graph builder). */
class KnnJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def vecs(vs: (Long, Seq[Double])*): DataFrame = vs.toDF("id", "vec")

  private val cloud = Seq(
    (1L, Seq(10.0, 0.0)), (2L, Seq(0.0, 10.0)), (3L, Seq(9.0, 1.0)),
    (4L, Seq(1.0, 9.0)), (5L, Seq(10.0, 1.0)), (6L, Seq(1.0, 10.0)))

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val d = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na * nb == 0.0) 0.0 else d / (na * nb)
  }

  test("nlist=1 (single cell) == exact brute-force kNN, hand-computed") {
    val k = 2
    val got = Similarity.knnJoin(vecs(cloud: _*), nlist = 1, k = k)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, r, n, s) => (id, r) -> (n, s) }.toMap
    val expected = cloud.flatMap { case (id, v) =>
      cloud.filter(_._1 != id)
        .map { case (nid, nv) => (nid, cosine(v, nv)) }
        .sortBy { case (nid, s) => (-s, nid) }
        .take(k).zipWithIndex
        .map { case ((nid, s), i) =>
          (id, (i + 1).toLong) -> (nid, math.floor(s * 1e6) / 1e6)
        }
    }.toMap
    assert(got === expected)
  }

  test("neighbors are confined to the quantizer cell") {
    val got = Similarity.knnJoin(vecs(cloud: _*), nlist = 2, k = 5)
      .as[(Long, Long, Long, Double)].collect()
    val clusterX = Set(1L, 3L, 5L) // near the x axis; 2/4/6 near y
    got.foreach { case (id, _, nbr, _) =>
      assert(clusterX(id) === clusterX(nbr),
        s"$id and $nbr must share a cell")
    }
    // every vector has both its cluster-mates, ranks 1..2, sims ordered
    val byId = got.groupBy(_._1)
    assert(byId.keySet === cloud.map(_._1).toSet)
    byId.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to rows.length))
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-_).toSeq)
    }
  }

  test("singleton cells emit no rows; zero vectors rank at sim 0") {
    // one far outlier gets its own cell under nlist=2 with these inits
    val d = vecs(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1000.0, 1000.0)), (3L, Seq(0.9, 0.1)),
      (4L, Seq(0.0, 0.0)))
    val got = Similarity.knnJoin(d, nlist = 2, k = 3)
      .as[(Long, Long, Long, Double)].collect()
    val ids = got.map(_._1).toSet
    // the fixed sampled-Lloyd init puts the far outlier alone in its
    // cell — assert that directly, so the singleton contract below is
    // actually exercised instead of passing vacuously
    assert(!ids.contains(2L), "outlier 2 must land in a singleton cell")
    assert(got.forall(_._3 != 2L))
    // the zero vector's similarities are exactly 0 wherever it appears
    got.filter(r => r._1 == 4L || r._3 == 4L).foreach(r => assert(r._4 === 0.0))
  }

  // two angular clusters plus a near-boundary vector (25°): its TRUE
  // nearest neighbor by cosine (40°, id 3) lives in the OTHER quantizer
  // cell, while its own cell holds only the farther 0°/2° vectors — the
  // exact recall hole multi-probe exists to close
  private def deg(a: Double): Seq[Double] =
    Seq(math.cos(math.toRadians(a)), math.sin(math.toRadians(a)))
  private val boundary = Seq(
    (1L, deg(0)), (2L, deg(2)), (3L, deg(40)),
    (4L, deg(60)), (5L, deg(62)), (7L, deg(25)))

  test("multi-probe recovers the cross-boundary neighbor confinement hides") {
    val confined = Similarity.knnJoin(vecs(boundary: _*), nlist = 2, k = 2)
      .as[(Long, Long, Long, Double)].collect()
    val probed = Similarity
      .knnJoin(vecs(boundary: _*), nlist = 2, k = 2, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
    def nbrs(rows: Array[(Long, Long, Long, Double)], id: Long): Set[Long] =
      rows.filter(_._1 == id).map(_._3).toSet
    // fixture sanity: the fixed sampled-Lloyd fit puts 7 in the
    // 40°/60°/62° cell, so confinement caps its candidates at {3,4,5} —
    // its true 2nd-nearest neighbor (2° = id 2, 23° away vs 35° for
    // 60°) lies across the boundary and is invisible at nprobe=1. If
    // Lloyd ever converges differently this fails loudly rather than
    // letting the scenario pass vacuously.
    assert(nbrs(confined, 7L) === Set(3L, 4L),
      s"expected 7 confined to the 40°-cluster cell; got ${nbrs(confined, 7L)}")
    // nprobe=2 lets 7 see across the boundary: its true top-2 is
    // {40° (id 3), 2° (id 2)}
    assert(nbrs(probed, 7L) === Set(3L, 2L))
    // recall vs exact brute force improves and never regresses per id
    val brute = Similarity
      .bruteForceTopK(vecs(boundary: _*), vecs(boundary: _*), 2)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recall(rows: Array[(Long, Long, Long, Double)]): Double =
      rows.map(r => (r._1, r._3)).toSet.intersect(brute).size.toDouble /
        brute.size
    assert(recall(probed) > recall(confined))
  }

  test("nprobe = nlist degenerates to exact brute-force top-k") {
    val k = 2
    val got = Similarity
      .knnJoin(vecs(boundary: _*), nlist = 2, k = k, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, r, n, s) => (id, r) -> (n, s) }.toMap
    val expected = Similarity
      .bruteForceTopK(vecs(boundary: _*), vecs(boundary: _*), k)
      .as[(Long, Long, Double, Int)].collect()
      .map { case (q, c, s, r) =>
        (q, r.toLong) -> (c, math.floor(s * 1e6) / 1e6)
      }.toMap
    assert(got === expected)
  }

  test("probeLegs == the literal array_sort tree, and caps at nlist") {
    import org.apache.spark.sql.functions._
    import graft.kmeans.{CentroidN, OpsN}
    // 80 cells on a 10x8 grid, 200 points scattered among them
    val model = (0 until 80).map(i =>
      CentroidN(i, Array((i % 10) * 2.0, (i / 10) * 2.0)))
    val pts = (0 until 200).map(i =>
      (i.toLong, Seq((i % 19) * 1.05, (i % 37) * 0.41))).toDF("pid", "features")
    val cells = OpsN.assignN(pts, model)
      .select(col("pid").as("id"), col("features").as("v"),
        lit(1.0).as("nn"), col("cid").as("cell"))
    def legs(np: Int) =
      Similarity.probeLegs(cells, model, np)
        .select(col("cell"), col("id")).as[(Int, Long)].collect().toSet
    // the reference: the per-row sort over one struct literal per cell
    // that the probe paths planned before the nearest_cells node
    def tree(np: Int) =
      cells.select(col("id"), explode(slice(array_sort(array(model.map(c =>
        struct(graft.expr.ArrayVector.sqDist(col("v"),
          graft.expr.ArrayVector.vecLit(c.features.toIndexedSeq)).as("d2"),
          lit(c.cid).as("cell"))): _*)), 1, np)).as("probe"))
        .select(col("probe.cell"), col("id")).as[(Int, Long)].collect().toSet
    assert(legs(3) === tree(3))
    assert(legs(3).size === 600, "every point probes exactly 3 cells")
    // nprobe past nlist caps at nlist: every point probes every cell
    assert(legs(100) === tree(100))
    assert(legs(100).size === 200 * 80)
  }

  test("knnJoinSized with targetCellSize >= n degenerates to one cell") {
    val a = Similarity.knnJoin(vecs(cloud: _*), nlist = 1, k = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val b = Similarity.knnJoinSized(vecs(cloud: _*), k = 2,
        targetCellSize = 100L)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq === b.toSeq)
  }
}
