package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Native Catalyst expressions for the vector hot path.
  *
  * Spark's higher-order functions (`transform`/`zip_with`/`aggregate`) are
  * CodegenFallback — every element hop goes through the interpreter, which
  * dominates wall-clock on all-pairs similarity and K-way argmin at scale.
  * These expressions generate a tight primitive loop inside whole-stage
  * codegen instead (SURVEY.md §7.3 flagged the fused squared-distance as
  * the one worthwhile custom expression).
  *
  * Null semantics: null if either input array is null; array elements are
  * assumed non-null (enforced upstream by the engine's schemas). Ragged
  * lengths fold over the common prefix, matching `zip_with`+`aggregate`
  * over equal-length inputs and failing soft on bad data.
  */
abstract class ArrayFoldExpression extends BinaryExpression {
  // inputs must be ARRAY<DOUBLE>; the graft Column API guarantees it
  // (ExpectsInputTypes lives behind private[sql], so no declared coercion)
  override def dataType: DataType = DoubleType

  protected def foldJava(a: String, b: String, n: String, acc: String, i: String): String

  protected def foldScala(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(left: Any, right: Any): Any =
    foldScala(left.asInstanceOf[ArrayData], right.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // EVERY local, including the loop variable, must go through
      // freshName: Janino hoists for-init declarations into the enclosing
      // block scope, so two instances of this expression in one generated
      // method would collide on a fixed name ("Redefinition of local
      // variable"), kicking the whole projection back to the interpreted
      // path. freshName is deterministic per context (i_0, i_1, …), so the
      // codegen source cache stays effective.
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |${foldJava(a, b, n, acc, i)}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

/** Σ a_i · b_i — codegen'd dot product over ARRAY<DOUBLE>. */
case class ArrayDot(left: Expression, right: Expression) extends ArrayFoldExpression {
  override def prettyName: String = "array_dot"

  override protected def foldJava(
      a: String, b: String, n: String, acc: String, i: String): String =
    s"""
       |for (int $i = 0; $i < $n; $i++) {
       |  $acc += $a.getDouble($i) * $b.getDouble($i);
       |}
     """.stripMargin

  override protected def foldScala(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Σ (a_i − b_i)² — codegen'd squared Euclidean distance over ARRAY<DOUBLE>. */
case class ArraySqDist(left: Expression, right: Expression) extends ArrayFoldExpression {
  override def prettyName: String = "array_sqdist"

  override protected def foldJava(
      a: String, b: String, n: String, acc: String, i: String): String = {
    val diff = s"${i}_diff"
    s"""
       |for (int $i = 0; $i < $n; $i++) {
       |  double $diff = $a.getDouble($i) - $b.getDouble($i);
       |  $acc += $diff * $diff;
       |}
     """.stripMargin
  }

  override protected def foldScala(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Product-quantization asymmetric-distance accumulate:
  * Σ_j lut[j·ksub + (codes[j] + 128)] over a query's per-subspace
  * lookup table — the PQ "ADC" inner loop (Jégou et al., TPAMI 2011).
  * `left` is the row's ARRAY<TINYINT> PQ code (m entries, offset −128),
  * `right` the query's flattened ARRAY<DOUBLE> LUT (m·ksub entries,
  * subspace-major). The probe scan runs this once per (query, row)
  * candidate — the hot loop of IVF-PQ search — so it generates a tight
  * primitive loop like the other fold expressions instead of going
  * through the HOF interpreter. Out-of-range LUT indices contribute 0
  * (fail-soft on corrupt codes, matching the ragged-prefix philosophy
  * above).
  */
case class PqAdcDot(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  require(ksub > 0 && ksub <= 256, s"ksub=$ksub out of (0, 256]")

  override def prettyName: String = "pq_adc_dot"
  override def dataType: DataType = DoubleType

  override def nullSafeEval(codes: Any, lut: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val l = lut.asInstanceOf[ArrayData]
    val m = c.numElements()
    val nLut = l.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      val idx = j * ksub + (c.getByte(j) + 128)
      if (idx >= 0 && idx < nLut) acc += l.getDouble(idx)
      j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      val m = ctx.freshName("m")
      val nLut = ctx.freshName("nLut")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val idx = ctx.freshName("idx")
      s"""
         |int $m = $c.numElements();
         |int $nLut = $l.numElements();
         |double $acc = 0.0;
         |for (int $j = 0; $j < $m; $j++) {
         |  int $idx = $j * $ksub + ($c.getByte($j) + 128);
         |  if ($idx >= 0 && $idx < $nLut) $acc += $l.getDouble($idx);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Product-quantization encoder: for each of the m subspaces, the argmin
  * sub-centroid id (lowest-id tiebreak) over that subspace's codebook,
  * emitted as one TINYINT (id − 128) — the whole m-subspace encode as ONE
  * expression node with a tight primitive loop.
  *
  * The codebooks ride as plain constructor data (flattened vectors +
  * parallel id array + per-subspace offsets, entries sorted by id so a
  * strict `<` keeps the lowest id on ties), embedded in generated code
  * via `addReferenceObj` — NOT as child expressions: the alternative
  * (per-candidate `least/when` chains) builds m·ksub distance nodes
  * (2048 at m=8, ksub=256) whose analysis/codegen dominates the whole
  * build. Used by the PQ index build, append-time encode, AND the
  * codebook fit's assignment step (one corpus pass assigns all
  * subspaces).
  *
  * Subspace j covers dims [j·dsub, (j+1)·dsub); a subspace with no
  * surviving codebook entry (offsets[j] == offsets[j+1]) emits code
  * −128, and ragged rows fold over the dims present (fail-soft).
  */
case class PqEncode(
    child: Expression,
    flat: Array[Double],
    cids: Array[Int],
    offsets: Array[Int],
    dsub: Int) extends UnaryExpression {
  require(dsub > 0, s"dsub=$dsub")
  require(offsets.length >= 1, "offsets must cover m+1 bounds")

  private def m: Int = offsets.length - 1

  override def prettyName: String = "pq_encode"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = false)

  /** The m codes of `v`. */
  def encode(v: ArrayData): ArrayData = {
    val out = new Array[Byte](m)
    val nDims = v.numElements()
    var j = 0
    while (j < m) {
      var best = -128
      var bestD = Double.MaxValue
      var e = offsets(j)
      while (e < offsets(j + 1)) {
        var d2 = 0.0
        var i = 0
        while (i < dsub) {
          val dim = j * dsub + i
          if (dim < nDims) {
            val diff = v.getDouble(dim) - flat(e * dsub + i)
            d2 += diff * diff
          }
          i += 1
        }
        if (d2 < bestD) { bestD = d2; best = cids(e) - 128 }
        e += 1
      }
      out(j) = best.toByte
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = encode(input.asInstanceOf[ArrayData])

  // the generated code calls the same loop, with this node (and so its
  // codebooks) as a runtime reference, not inlined source
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqEncode", this)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.encode($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization LUT builder: the query-side companion of
  * [[PqAdcDot]]. For a query vector, emits the flattened m·ksub lookup
  * table lut[j·ksub + id] = dot(q_subⱼ, codebookⱼ[id]) in ONE node
  * (missing codebook slots stay 0 and are never referenced by codes).
  * The alternative — a CreateArray of m·ksub dot expressions (2048 at
  * the 8-bit default) — dominates plan analysis and overflows codegen
  * method limits. Runs once per QUERY row, never per candidate.
  * Codebook layout and subspace conventions are [[PqEncode]]'s.
  */
case class PqLut(
    child: Expression,
    flat: Array[Double],
    cids: Array[Int],
    offsets: Array[Int],
    dsub: Int,
    ksub: Int) extends UnaryExpression {
  require(dsub > 0, s"dsub=$dsub")
  require(ksub > 0 && ksub <= 256, s"ksub=$ksub out of (0, 256]")

  private def m: Int = offsets.length - 1

  override def prettyName: String = "pq_lut"
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)

  /** The m·ksub lookup table of query `v`. */
  def build(v: ArrayData): ArrayData = {
    val out = new Array[Double](m * ksub)
    val nDims = v.numElements()
    var j = 0
    while (j < m) {
      var e = offsets(j)
      while (e < offsets(j + 1)) {
        var acc = 0.0
        var i = 0
        while (i < dsub) {
          val dim = j * dsub + i
          if (dim < nDims) acc += v.getDouble(dim) * flat(e * dsub + i)
          i += 1
        }
        out(j * ksub + cids(e)) = acc
        e += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = build(input.asInstanceOf[ArrayData])

  // the generated code calls the same loop ([[PqEncode]]'s discipline)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqLut", this)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.build($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** K-way nearest-centroid argmin as ONE expression node: for an input
  * ARRAY<DOUBLE> row vector, the (cid, dist2) of the centroid nearest in
  * squared Euclidean distance. `flat` holds the k centroid vectors
  * concatenated in ASCENDING-cid order (k·d doubles), `cids` the
  * parallel cid list (same order), `d` the centroid width. It is the
  * engine's only argmin: `Ops.assign` runs it over `array(x, y)`,
  * `OpsN.assignN` over the feature array, and the Lloyd core runs the
  * companion's scan over its packed partitions.
  *
  * One contract, in the companion's scan: each distance folds
  * `0.0 + diff²` left to right over the first min(d, row width)
  * coordinates, like [[ArraySqDist]] (ragged rows fold the common
  * prefix; in 2-D the sum is bit-identical to `Ops.dist2`). Distances
  * compare as Spark SQL orders doubles, NaN above every number, and
  * ties go to the lowest cid (`mapper.py:28`). A null row, or a null
  * among the coordinates read, yields null.
  *
  * Why one node: a `least`/`when` chain of k distance nodes grows with k
  * and is re-analysed and re-compiled on every Lloyd iteration, since the
  * centroids change each time. Here the model rides as a runtime
  * reference (the [[PqEncode]] discipline): the plan is one node at any
  * k, and the generated source does not change with the model, so
  * janino's compile cache hits.
  */
case class NearestCentroid(
    child: Expression,
    flat: Array[Double],
    cids: Array[Int],
    d: Int) extends UnaryExpression {
  NearestCentroid.check(flat, cids, d)

  override def prettyName: String = "nearest_centroid"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("dist2", DoubleType, nullable = false)))

  /** (cid, dist2) of the centroid nearest to `v`; null on a null coordinate. */
  def argmin(v: ArrayData): InternalRow = {
    val xs = NearestCentroid.coords(v, d)
    if (xs == null) null
    else {
      val c = NearestCentroid.nearest(xs, 0, xs.length, flat, cids.length, d)
      InternalRow(cids(c), NearestCentroid.dist2(xs, 0, xs.length, flat, c, d))
    }
  }

  override def nullSafeEval(input: Any): Any = argmin(input.asInstanceOf[ArrayData])

  // the generated code calls the same scan, with this node as a reference
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
         |${ev.value} = $self.argmin($v);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The `n` centroids nearest to an input ARRAY<DOUBLE> row, as ONE node:
  * `array<struct<d2: double, cell: int>>` with min(n, k) entries ordered
  * by (d2, cell) ascending, the IVF probe list. The model and the scan
  * are [[NearestCentroid]]'s, so the list is the one
  * `slice(array_sort(array(struct(d2, cell), …)), 1, n)` gives over the
  * model, without a per-cell literal in the plan or a per-row sort, and
  * its first entry is the row's argmin. A null row or a null coordinate
  * has no distances: it gets the first n cells in cid order with d2
  * null, where that sort puts them.
  */
case class NearestCells(
    child: Expression,
    flat: Array[Double],
    cids: Array[Int],
    d: Int,
    n: Int) extends UnaryExpression {
  NearestCentroid.check(flat, cids, d)
  require(n >= 1, s"n=$n")

  override def prettyName: String = "nearest_cells"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d2", DoubleType),
    StructField("cell", IntegerType, nullable = false))), containsNull = false)

  /** The probe list of `v`, which may be null. */
  def cells(v: ArrayData): ArrayData = {
    val m = math.min(n, cids.length)
    val xs = if (v == null) null else NearestCentroid.coords(v, d)
    val out: Array[Any] =
      if (xs == null) Array.tabulate(m)(i => InternalRow(null, cids(i)))
      else {
        val (top, dist) = NearestCentroid.nearestN(xs, flat, cids.length, d, m)
        Array.tabulate(m)(i => InternalRow(dist(i), cids(top(i))))
      }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    cells(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCells", this)
    val v = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${v.code}
        ArrayData ${ev.value} = $self.cells(${v.isNull} ? null : ${v.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The scan behind [[NearestCentroid]] and [[NearestCells]] over a
  * `double[]` slice, also run by the Lloyd core over its packed
  * partitions.
  */
object NearestCentroid {

  private[expr] def check(flat: Array[Double], cids: Array[Int], d: Int): Unit = {
    require(d > 0, s"d=$d")
    require(cids.length >= 1, "empty centroid set")
    require(flat.length == cids.length * d,
      s"flat length ${flat.length} != k*d = ${cids.length * d}")
  }

  /** The first min(d, width) coordinates of `v`, or null if one is null. */
  private[expr] def coords(v: ArrayData, d: Int): Array[Double] = {
    val xs = new Array[Double](math.min(v.numElements(), d))
    var i = 0
    while (i < xs.length) {
      if (v.isNullAt(i)) return null
      xs(i) = v.getDouble(i)
      i += 1
    }
    xs
  }

  /** Squared distance from `xs(off until off + n)` to candidate `c` of
    * the `d`-wide model `flat`: `acc = 0.0; acc += diff*diff`, left to
    * right.
    */
  def dist2(xs: Array[Double], off: Int, n: Int, flat: Array[Double], c: Int, d: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < n) {
      val diff = xs(off + i) - flat(c * d + i)
      acc += diff * diff
      i += 1
    }
    acc
  }

  /** Whether `a` sorts before `b` in Spark SQL's order on doubles: NaN
    * above every number and equal to itself.
    */
  private[expr] def before(a: Double, b: Double): Boolean = a < b || (b != b && a == a)

  /** Index of the candidate nearest to `xs(off until off + n)` among the
    * `k` in `flat`, scanned in order: a tie goes to the earlier candidate,
    * an all-NaN row to candidate 0.
    */
  def nearest(xs: Array[Double], off: Int, n: Int, flat: Array[Double], k: Int, d: Int): Int = {
    var best = 0
    var bestD = dist2(xs, off, n, flat, 0, d)
    var c = 1
    while (c < k) {
      val acc = dist2(xs, off, n, flat, c, d)
      if (before(acc, bestD)) { bestD = acc; best = c }
      c += 1
    }
    best
  }

  /** The `m` (≤ k) candidates nearest to `xs`, nearest first with ties
    * to the earlier candidate, and their distances: an insertion into a
    * sorted m-slot list, in scan order.
    */
  private[expr] def nearestN(
      xs: Array[Double], flat: Array[Double], k: Int, d: Int, m: Int): (Array[Int], Array[Double]) = {
    val top = new Array[Int](m)
    val dist = new Array[Double](m)
    var size = 0
    var c = 0
    while (c < k) {
      val acc = dist2(xs, 0, xs.length, flat, c, d)
      if (size < m || before(acc, dist(m - 1))) {
        var i = if (size < m) { size += 1; size - 1 } else m - 1
        while (i > 0 && before(acc, dist(i - 1))) {
          top(i) = top(i - 1); dist(i) = dist(i - 1); i -= 1
        }
        top(i) = c; dist(i) = acc
      }
      c += 1
    }
    (top, dist)
  }
}

object ArrayVector {
  /** A constant vector as ONE Literal plan node. `array(lit, lit, …)`
    * builds d Literal children under a CreateArray that the optimizer
    * must fold (and canonicalize, and codegen) element by element; with
    * K centroids × d dims × a K-deep argmin chain that snowballed to
    * ~10⁵-node trees whose ANALYSIS dominated every Lloyd iteration
    * (round-10 probe: 1.25 s/iteration on 2000 rows — all plan overhead).
    * `typedlit` carries the same ArrayData as a single leaf: identical
    * values, identical evaluation, ~K·d× smaller trees.
    */
  def vecLit(xs: Seq[Double]): Column =
    org.apache.spark.sql.functions.typedlit(xs)

  /** Column API: codegen'd dot product. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(ArrayDot(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: codegen'd squared Euclidean distance. */
  def sqDist(a: Column, b: Column): Column =
    Bridge.column(ArraySqDist(Bridge.expression(a), Bridge.expression(b)))

  /** Column API: the row's nearest centroid as struct(cid, dist2) (see
    * [[NearestCentroid]]). `centroids` is (cid, vector) pairs of one width.
    */
  def nearestCentroid(v: Column, centroids: Seq[(Int, Array[Double])]): Column = {
    val (flat, cids, d) = model(centroids)
    Bridge.column(NearestCentroid(Bridge.expression(v), flat, cids, d))
  }

  /** Column API: the row's `n` nearest centroids as an array of
    * struct(d2, cell), nearest first (see [[NearestCells]]).
    */
  def nearestCells(v: Column, centroids: Seq[(Int, Array[Double])], n: Int): Column = {
    val (flat, cids, d) = model(centroids)
    Bridge.column(NearestCells(Bridge.expression(v), flat, cids, d, n))
  }

  /** (flat vectors, cids, width) in ascending-cid order, so the scan's
    * earlier-candidate tiebreak is the lowest cid.
    */
  private def model(centroids: Seq[(Int, Array[Double])]): (Array[Double], Array[Int], Int) = {
    val sorted = centroids.sortBy(_._1)
    (sorted.flatMap(_._2).toArray, sorted.map(_._1).toArray, sorted.head._2.length)
  }

  /** Column API: codegen'd PQ asymmetric-distance accumulate. */
  def pqAdc(codes: Column, lut: Column, ksub: Int): Column =
    Bridge.column(
      PqAdcDot(Bridge.expression(codes), Bridge.expression(lut), ksub))

  /** Column API: codegen'd PQ encode against flattened codebooks (see
    * [[PqEncode]]). `books(j)` lists subspace j's surviving (id, vector)
    * entries sorted by id.
    */
  def pqEncode(
      v: Column, books: IndexedSeq[Seq[(Int, Array[Double])]],
      dsub: Int): Column = {
    val (flat, cids, offsets) = flattenBooks(books)
    Bridge.column(PqEncode(Bridge.expression(v), flat, cids, offsets, dsub))
  }

  /** Column API: codegen'd PQ query-LUT build (see [[PqLut]]). */
  def pqLut(
      v: Column, books: IndexedSeq[Seq[(Int, Array[Double])]],
      dsub: Int, ksub: Int): Column = {
    val (flat, cids, offsets) = flattenBooks(books)
    Bridge.column(PqLut(Bridge.expression(v), flat, cids, offsets, dsub, ksub))
  }

  private def flattenBooks(
      books: IndexedSeq[Seq[(Int, Array[Double])]])
      : (Array[Double], Array[Int], Array[Int]) = {
    val offsets = books.scanLeft(0)(_ + _.size).toArray
    val entries = books.flatten
    (entries.flatMap(_._2).toArray, entries.map(_._1).toArray, offsets)
  }
}
