package graft.expr

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.SparkTestSession

class ArrayVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def vecsDf = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
    (2L, Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))
  ).toDF("id", "a", "b")

  test("ArrayDot computes the left-fold dot product") {
    val got = vecsDf.select($"id", ArrayVector.dot($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 4.0 + 10.0 + 18.0)
    assert(got(2L) === 0.0)
  }

  test("ArraySqDist computes squared Euclidean distance") {
    val got = vecsDf.select($"id", ArrayVector.sqDist($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 27.0) // 9+9+9
    assert(got(2L) === 3.0)
  }

  test("null array yields null, not a crash") {
    val df = Seq((1L, Some(Array(1.0)), None: Option[Array[Double]]))
      .toDF("id", "a", "b")
    val got = df.select(ArrayVector.dot($"a", $"b")).collect()
    assert(got.head.isNullAt(0))
  }

  test("expressions agree with the interpreted higher-order formulation") {
    import org.apache.spark.sql.functions._
    val pts = Seq.tabulate(50)(i => (i.toLong, Array.tabulate(16)(j => (i * 31 + j * 7 % 13) / 3.0)))
      .toDF("id", "a")
      .crossJoin(Seq(Tuple1(Array.tabulate(16)(j => j / 2.0))).toDF("b"))
    val hof = pts.select(
      aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))
      .as[Double].collect()
    val native = pts.select(ArrayVector.sqDist($"a", $"b")).as[Double].collect()
    assert(hof.toSeq === native.toSeq) // bit-identical: same fold order
  }

  test("GraftExtensions registers SQL functions array_dot / array_sqdist") {
    // getOrCreate would return the shared test session (extensions apply
    // only at session construction) — build a fresh session on the same
    // SparkContext, then restore the shared one.
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions (programmatic): the spark.sql.extensions config is a
      // STATIC conf read from the SparkContext at its creation, so setting
      // it on a builder over an already-running context is a no-op
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        "SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
          "array_sqdist(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS s")
        .collect().head
      assert(r.getDouble(0) === 11.0)
      assert(r.getDouble(1) === 25.0)
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("pqEncode: argmin codes with lowest-id tiebreak; empty subspace " +
      "emits -128; pqLut leaves missing slots 0") {
    import org.apache.spark.sql.functions.col
    // two subspaces of 2 dims; sub 0 has two EQUIDISTANT entries (ids
    // 3, 7) from the probe vector, sub 1 has one entry (id 1)
    val books: IndexedSeq[Seq[(Int, Array[Double])]] = IndexedSeq(
      Seq(3 -> Array(1.0, 0.0), 7 -> Array(-1.0, 0.0)),
      Seq(1 -> Array(5.0, 5.0)))
    // each column interpreted and in generated code, which must agree
    def eval[T: org.apache.spark.sql.Encoder](c: org.apache.spark.sql.Column): T = {
      val (interp, gen) = bothPaths(
        _.select(c).as[T].head(), Seq((1L, Seq(0.0, 0.0, 5.0, 5.0))).toDF("id", "vec"))
      assert(interp === gen)
      gen
    }
    val code = eval[Seq[Byte]](ArrayVector.pqEncode(col("vec"), books, 2))
    assert(code === Seq((3 - 128).toByte, (1 - 128).toByte)) // lowest id wins
    // empty subspace: no entries -> -128
    val books2: IndexedSeq[Seq[(Int, Array[Double])]] =
      IndexedSeq(Seq(0 -> Array(0.0, 0.0)), Seq.empty)
    val code2 = eval[Seq[Byte]](ArrayVector.pqEncode(col("vec"), books2, 2))
    assert(code2 === Seq((-128).toByte, (-128).toByte))
    // LUT: ksub=8, sub-0 slots 3 and 7 filled, everything else 0;
    // sub-1 slot 1 = dot((5,5),(5,5)) = 50
    val lut = eval[Seq[Double]](ArrayVector.pqLut(col("vec"), books, 2, 8))
    assert(lut.length === 16)
    assert(lut(3) === 0.0 && lut(7) === 0.0) // dot with (0,0) probe
    assert(lut(8 + 1) === 50.0)
    assert(lut.zipWithIndex.collect {
      case (v, i) if i != 9 => v }.forall(_ === 0.0))
    // encode + ADC round trip: adc of own code = lut slots picked
    val adc = eval[Double](ArrayVector.pqAdc(
      ArrayVector.pqEncode(col("vec"), books, 2),
      ArrayVector.pqLut(col("vec"), books, 2, 8), 8))
    assert(adc === lut(3) + lut(9))
  }

  test("nearestCentroid: an all-NaN row takes the lowest model cid, " +
      "interpreted and codegen'd") {
    import org.apache.spark.sql.functions._
    val model = Seq((5, Array(1.0, 1.0)), (3, Array(0.0, 0.0)))
    // a local relation evaluates the expression interpreted ...
    val interp = Seq(Array(Double.NaN, 0.0)).toDF("v")
      .select(ArrayVector.nearestCentroid($"v", model).getField("cid")).as[Int].head()
    // ... a range source runs it inside whole-stage codegen
    val gen = spark.range(1)
      .select(array($"id".cast("double") + Double.NaN, lit(0.0)).as("v"))
      .select(ArrayVector.nearestCentroid($"v", model).getField("cid")).as[Int].head()
    assert((interp, gen) === ((3, 3)))
  }

  /** Rows of the odd-input fixture beside the model {0: (∞, 0), 1: (5, 0),
    * 2: (0, 0)}: from (∞, 0) the distance to centroid 0 is NaN and to the
    * others ∞; a null coordinate, a null row, a ragged row and a NaN row.
    */
  private val oddModel = Seq(
    (0, Array(Double.PositiveInfinity, 0.0)), (1, Array(5.0, 0.0)), (2, Array(0.0, 0.0)))
  private def oddRows = Seq[(Long, Option[Seq[Option[Double]]])](
    1L -> Some(Seq(Some(Double.PositiveInfinity), Some(0.0))),
    2L -> Some(Seq(None, Some(0.0))),
    3L -> None,
    4L -> Some(Seq(Some(4.0))),
    5L -> Some(Seq(Some(Double.NaN), Some(0.0))),
    6L -> Some(Seq(Some(1.0), Some(2.0)))).toDF("id", "v")

  /** `body` over `rows` (the odd-input fixture by default) evaluated
    * interpreted (a local relation folds the projection) and inside
    * whole-stage codegen (above an exchange, with fallback off so a
    * compile error fails the test).
    */
  private def bothPaths[T](
      body: org.apache.spark.sql.DataFrame => T,
      rows: => org.apache.spark.sql.DataFrame = oddRows): (T, T) = {
    val interp = body(rows)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try (interp, body(rows.repartition(1)))
    finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("odd input: argmin orders NaN above numbers; null coordinate -> null") {
    val (interp, gen) = bothPaths { df =>
      df.select($"id", ArrayVector.nearestCentroid($"v", oddModel).as("nc"))
        .select($"id", $"nc.cid", $"nc.dist2").collect()
        .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)).map(_.toString)))
        .toMap
    }
    val inf = Some(Double.PositiveInfinity.toString)
    val want = Map(
      1L -> (Some(1), inf),                       // ∞ beats NaN; lowest cid of the ∞s
      2L -> (None, None), 3L -> (None, None),     // null coordinate, null row
      4L -> (Some(1), Some("1.0")),               // ragged: (4) against x only
      5L -> (Some(0), Some("NaN")),               // all NaN: the lowest cid
      6L -> (Some(2), Some("5.0")))
    assert(interp === want)
    assert(gen === want)
  }

  test("odd input: top-n cells equal the literal array_sort tree") {
    import org.apache.spark.sql.functions._
    // the per-cell literal tree the probe paths used before the node
    def tree(v: org.apache.spark.sql.Column, n: Int) =
      slice(array_sort(array(oddModel.map { case (cid, f) =>
        struct(ArrayVector.sqDist(v, ArrayVector.vecLit(f.toIndexedSeq)).as("d2"),
          lit(cid).as("cell"))
      }: _*)), 1, n)
    def cells(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.Column) =
      df.select($"id", c.as("p")).collect()
        .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (Option(e.get(0)).map(_.toString), e.getInt(1))))
        .toMap
    for (n <- Seq(1, 2, 3, 5)) {
      val (interp, gen) = bothPaths(df => cells(df, ArrayVector.nearestCells($"v", oddModel, n)))
      val (wantI, wantG) = bothPaths(df => cells(df, tree($"v", n)))
      // the tree read a null coordinate as 0.0; the node gives it no
      // distances, as it gives a null row
      assert(interp - 2L === wantI - 2L, s"n=$n")
      assert(gen - 2L === wantG - 2L, s"n=$n")
      assert(interp === gen, s"n=$n")
      // a null row or coordinate: the first cells in cid order, d2 null
      assert(interp(3L) === Seq((None, 0), (None, 1), (None, 2)).take(n))
      assert(interp(2L) === interp(3L))
    }
    assert(bothPaths(df => cells(df, ArrayVector.nearestCells($"v", oddModel, 3)))._1(1L) ===
      Seq(("Infinity", 1), ("Infinity", 2), ("NaN", 0)).map { case (d, c) => (Some(d), c) })
  }

  test("whole-stage codegen covers the expression (no interpreted fallback)") {
    // needs a non-local source: literal local relations constant-fold to a
    // LocalTableScan with no codegen stage at all
    val pts = graft.kmeans.OpsN.pointsFromEmbeddings(
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    val q = pts.select(
      ArrayVector.dot($"features", $"features").as("d"))
    val plan = q.queryExecution.executedPlan.toString
    // WholeStageCodegen renders as "*(n)" prefixes in executedPlan.toString
    assert(plan.contains("*("), s"no codegen span in:\n$plan")
    assert(q.count() === 500)
  }
}
