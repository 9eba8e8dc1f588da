package perfbench

/** Tests of the benchmark's own arithmetic; `run.py --selftest` runs them. */
object SelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // tail rule: the highest percentile with >= 10 samples beyond it
    val hundred = (1 to 100).map(_.toDouble)
    expect("tail of 100 samples is p90 (rank 90, 10 beyond)",
      Stats.tail(hundred) == Stats.Tail(90.0, 90.0, 100))
    val twenty = (1 to 20).map(_.toDouble).reverse
    expect("tail of 20 samples is p50, whatever the input order",
      Stats.tail(twenty) == Stats.Tail(10.0, 50.0, 20))
    expect("tail of 11 samples leaves exactly 10 beyond",
      Stats.tail((1 to 11).map(_.toDouble)) == Stats.Tail(1.0, 100.0 / 11, 11))
    expect("with 10 or fewer samples the tail is the maximum at p100",
      Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(3.0, 100.0, 3))
    expect("median interpolates an even count", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // span self time: children may overlap each other and the parent's ends
    expect("union of overlapping intervals",
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    expect("self time with overlapping children",
      Stats.uncovered(0L, 100L, Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    expect("self time with a child covering the whole span",
      Stats.uncovered(10L, 20L, Seq((0L, 50L))) == 0L)
    expect("self time with no children", Stats.uncovered(5L, 9L, Nil) == 4L)

    // generator determinism
    val a = Gen.mixture(7, 2000, 3, 6, 3, 2.2)
    val b = Gen.mixture(7, 2000, 3, 6, 3, 2.2)
    val c = Gen.mixture(8, 2000, 3, 6, 3, 2.2)
    expect("same seed, same mixture bytes", a.coords.sameElements(b.coords) && a.hash == b.hash)
    expect("another seed, other bytes", a.hash != c.hash)
    expect("another seed permutes the same point set",
      a.coords.grouped(3).map(_.toSeq).toSeq.sortBy(_.mkString(",")) ==
        c.coords.grouped(3).map(_.toSeq).toSeq.sortBy(_.mkString(",")))
    expect("anchors (the first k pids) do not depend on the seed",
      a.coords.take(18).sameElements(c.coords.take(18)))
    val d1 = Gen.corpus(7, 50, 0 until 3)
    val d2 = Gen.corpus(7, 50, 0 until 3)
    expect("same seed, same corpus", d1 == d2 && Gen.hashDocs(d1) == Gen.hashDocs(d2))
    expect("another seed, other corpus", Gen.hashDocs(Gen.corpus(8, 50, 0 until 3)) != Gen.hashDocs(d1))
    expect("replica tags keep shingles apart",
      d1.filter(_.id / 10000000L == 1).forall(_.text.split(" ").forall(_.contains("~"))))
    val v1 = Gen.vectors(7, 0L, 20, 8)
    expect("same seed, same vectors",
      Gen.hashVectors(v1) == Gen.hashVectors(Gen.vectors(7, 0L, 20, 8)))
    val v2 = Gen.vectors(8, 0L, 20, 8)
    expect("another seed shifts the ids, in order, and keeps the values",
      Gen.hashVectors(v2) != Gen.hashVectors(v1) && v2.map(_._1) == v2.map(_._1).sorted &&
        v2.map(_._2.toSeq) == v1.map(_._2.toSeq))
    // reference Lloyd is exact: two runs agree bit for bit, and converge
    val m = RefLloyd.fit(a, 6, 20, 0.001)
    val m2 = RefLloyd.fit(b, 6, 20, 0.001)
    expect("reference Lloyd is deterministic and converges",
      m.converged && m.iterations == m2.iterations &&
        m.centres.map(_.toSeq).toSeq == m2.centres.map(_.toSeq).toSeq)
    expect("reference Lloyd does not depend on the seed's pid permutation",
      RefLloyd.fit(c, 6, 20, 0.001).centres.map(_.toSeq).toSeq == m.centres.map(_.toSeq).toSeq)

    println(if (failures == 0) "ALL OK" else s"$failures FAILED")
    if (failures != 0) sys.exit(1)
  }
}
