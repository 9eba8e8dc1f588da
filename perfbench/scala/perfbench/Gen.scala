package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generators. The same seed gives byte-identical inputs;
  * each generator also returns a SHA-256 content hash so a result records
  * exactly what it measured.
  *
  * Coordinates sit on a 1/256 grid with bounded magnitude, so every sum a
  * centroid update forms is exact in double arithmetic. The mean is then
  * independent of summation order, which lets a plain-Scala Lloyd match
  * the Spark fit bit for bit.
  */
object Gen {

  /** SplitMix64 finaliser: a stateless hash of (seed, stream, index). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform integer in [0, bound) from (seed, stream, index). */
  def below(seed: Long, stream: Long, i: Long, bound: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, stream, i), bound.toLong).toInt

  final class Hasher {
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(v: Long): Unit = { buf.clear(); buf.putLong(v); md.update(buf.array()) }
    def double(v: Double): Unit = long(java.lang.Double.doubleToRawLongBits(v))
    def str(s: String): Unit = { val b = s.getBytes(UTF_8); long(b.length); md.update(b) }
    def hex: String = md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** A Lloyd mixture: `k` true clusters, `n` points.
    *
    * The point set is a fixed template: the `k` true clusters are boxes
    * in well-separated chains of `group`, `gap` box half-widths apart
    * along dimension 0. The anchors of a chain (the pids first-K init
    * takes) all start inside its first box, so the fit has to pull
    * centroids down the chain; `group` and `gap` set how many iterations
    * that takes. Every other template point's cluster is a hash of its
    * template index (not `index % k`), and its offset inside the box comes
    * from the template seed.
    *
    * The seed permutes which pid each non-anchor point gets, and so which
    * rows share a partition and the order rows arrive in. It leaves the
    * point set unchanged: the fit's trajectory, and so its iteration
    * count, is the same for every seed, and run-to-run spread measures the
    * engine rather than a different amount of work.
    */
  final case class Mixture(pids: Array[Long], coords: Array[Double], d: Int, hash: String) {
    def n: Int = pids.length
    def point(i: Int): Array[Double] = java.util.Arrays.copyOfRange(coords, i * d, i * d + d)
  }

  private val TemplateSeed = 0x5EEDL
  /** Box half-width: 16 units, in grid steps of 1/256. */
  private val BoxSteps = 16 * 256

  def mixture(seed: Long, n: Int, d: Int, k: Int, group: Int, gap: Double): Mixture = {
    require(n > k && group >= 1 && d >= 2)
    val groups = (k + group - 1) / group
    def size(g: Int): Int = math.min(group, k - g * group)
    // group origins on a coarse integer lattice, far apart relative to a group
    val origin = Array.tabulate(groups, d)((g, j) => 1000.0 * below(TemplateSeed, 1000 + j, g, 64))
    val template = new Array[Double](n * d)
    var i = 0
    while (i < n) {
      val cluster = if (i < k) i else below(TemplateSeed, 1, i, k)
      val g = cluster / group
      // anchors sit in their group's first box, spread along dimension 0
      val box = if (i < k) 0 else cluster % group
      var j = 0
      while (j < d) {
        val off =
          if (i >= k) below(TemplateSeed, 2 * 64 + j, i, 2 * BoxSteps + 1) - BoxSteps
          else if (j == 0) (2 * (cluster % group) - (size(g) - 1)) * BoxSteps / (2 * size(g))
          else 0
        // the gap rounded to the grid, so every coordinate stays a multiple of 1/256
        val shiftSteps = if (j == 0) math.round(box * gap * BoxSteps) else 0L
        template(i * d + j) = origin(g)(j) + (shiftSteps + off) / 256.0
        j += 1
      }
      i += 1
    }
    // seeded Fisher-Yates over the non-anchor pids; rows are emitted in
    // pid order, so row i holds the template point whose pid is i
    val slot = Array.tabulate(n)(identity)
    val rnd = new java.util.SplittableRandom(seed)
    i = n - 1
    while (i > k) {
      val r = k + rnd.nextInt(i - k + 1)
      val t = slot(i); slot(i) = slot(r); slot(r) = t
      i -= 1
    }
    val coords = new Array[Double](n * d)
    i = 0
    while (i < n) {
      System.arraycopy(template, slot(i) * d, coords, i * d, d)
      i += 1
    }
    val h = new Hasher
    h.long(seed); h.long(n); h.long(d)
    coords.foreach(h.double)
    Mixture(Array.tabulate(n)(_.toLong), coords, d, h.hex)
  }

  /** The `documents` fixture's vocabulary: bags of these words, 10-100
    * tokens a document.
    */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = IndexedSeq("en" -> 41, "zh" -> 15, "de" -> 14, "fr" -> 15, "es" -> 15)

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** One base block of `size` fixture-like documents, fixed by the template
    * seed like a fixture file: about 3% are near copies of an earlier
    * document (a tenth of the tokens replaced) and 1% exact copies, so both
    * dedup stages have work.
    */
  def baseBlock(size: Int): IndexedSeq[(Seq[String], String, String)] = {
    val seed = TemplateSeed
    val out = new Array[(Seq[String], String, String)](size)
    for (i <- 0 until size) {
      val roll = below(seed, 22, i, 100)
      val toks =
        if (i > 0 && roll < 1) out(below(seed, 23, i, i))._1
        else if (i > 0 && roll < 4) {
          val src = out(below(seed, 23, i, i))._1
          src.zipWithIndex.map { case (t, j) =>
            if (below(seed, 24, i.toLong * 128 + j, 10) == 0) Vocab(below(seed, 25, i.toLong * 128 + j, Vocab.size)) else t
          }
        } else {
          val len = 10 + below(seed, 20, i, 91)
          (0 until len).map(j => Vocab(below(seed, 21, i.toLong * 128 + j, Vocab.size)))
        }
      var pick = below(seed, 26, i, 100)
      val lang = Langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
      out(i) = (toks, lang, s"src${i % 20}")
    }
    out.toIndexedSeq
  }

  /** A seeded replication of the base block, in the style of the engine's
    * GenScaleCorpus: replica r > 0 tags every token with a seed-salted tag,
    * so near-duplicate structure repeats inside each replica while
    * shingles never collide across replicas; ids are offset per replica,
    * with a seed-salted base offset. The seed changes every token hash and
    * id the operators key on, while the corpus's structure, and so the
    * amount of work, stays the same.
    */
  def corpus(seed: Long, base: Int, replicas: Seq[Int]): IndexedSeq[Doc] = {
    val block = baseBlock(base)
    val idOff = below(seed, 31, 0, 1000000).toLong
    replicas.flatMap { r =>
      val tag = if (r == 0) "" else "~" + java.lang.Long.toString(mix(seed, 30, r) >>> 40, 36)
      block.zipWithIndex.map { case ((toks, lang, src), i) =>
        Doc(r * 10000000L + idOff + i, toks.map(_ + tag).mkString(" "), lang, src)
      }
    }.toIndexedSeq
  }

  def hashDocs(docs: Seq[Doc]): String = {
    val h = new Hasher
    docs.foreach { d => h.long(d.id); h.str(d.text); h.str(d.lang); h.str(d.source) }
    h.hex
  }

  /** `count` vectors for template indices `from`, `from + 1`, ...: points
    * around 64 template centres, on a 1/16 grid with small magnitude, so
    * every dot product and squared distance between them is exact in double
    * arithmetic and a driver-side scorer agrees with the engine bit for
    * bit. The seed shifts every id by one salted offset, which keeps id
    * order (and so the quantizer's first-K init) and the amount of work
    * unchanged.
    */
  def vectors(seed: Long, from: Long, count: Int, d: Int): IndexedSeq[(Long, Array[Double])] = {
    val salt = below(seed, 42, 0, 1000000).toLong
    (0 until count).map { i =>
      val t = from + i
      val c = below(TemplateSeed, 40, t, 64)
      (salt + t) -> Array.tabulate(d) { j =>
        (below(TemplateSeed, 41 + j, c, 129) - 64 + below(TemplateSeed, 200 + j, t, 17) - 8) / 16.0
      }
    }
  }

  def hashVectors(vs: Seq[(Long, Array[Double])]): String = {
    val h = new Hasher
    vs.foreach { case (id, v) => h.long(id); v.foreach(h.double) }
    h.hex
  }
}
