package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Deduplication operators for training-data pipelines: exact (hash),
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *   - Exact dedup is one hash aggregate on a 32-byte fingerprint — the
  *     shuffle carries fingerprints, not documents.
  *   - Jaccard via an inverted shingle index (explode → co-count → filter)
  *     is exact but quadratic in the worst case; `maxShingleDf` drops
  *     ubiquitous shingles before the self-join (the standard stop-shingle
  *     cut) to bound join fan-out.
  *   - MinHash+LSH is the scale path: O(docs × numHashes) signature pass,
  *     then candidates only within equal LSH buckets — no all-pairs work.
  *     Hash h_i(s) = md5(i || '|' || s) compared LEXICOGRAPHICALLY; hex md5
  *     strings order identically in Spark and DuckDB, which keeps every
  *     stage oracle-checkable with zero custom hash code.
  *   - SimHash packs a doc into 64 bits; near-dup candidates must share at
  *     least one of 4 exact 16-bit blocks when hamming ≤ 3 (pigeonhole),
  *     so the join is equality-based, never all-pairs.
  *   - Embedding cosine: exact brute force for small sides; LSH/IVF path in
  *     [[graft.sim.Similarity]].
  *
  * All operators are pure column expressions (no UDFs) so they stay inside
  * whole-stage codegen and remain expressible as DuckDB oracle SQL.
  *
  * Caching: the self-join operators persist their shared inputs
  * (MEMORY_AND_DISK) and cannot unpersist them before the caller consumes
  * the lazily-evaluated result. Every such persist is tracked in
  * [[graft.util.OpCaches]]; after materializing the result, call
  * `OpCaches.releaseAll(spark)` to drop them deterministically (Verify and
  * Bench do this between queries).
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ---------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------

  /** Exact duplicate groups: fingerprint → count + representative (min id).
    * Output: (fp, n, keep_id).
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))

  /** Exact dedup: keep one representative (lowest doc_id) per fingerprint. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keep = exactGroups(docs).select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** URL-level duplicate groups — the C4/RefinedWeb step BEFORE any
    * text-level dedup: a crawl's cheapest duplicate signal is the URL
    * itself once scheme/host case, `www.`, default ports, fragments,
    * tracking params, and param order are normalized away
    * ([[graft.text.UrlOps.canonicalizeUrl]]). Same shape as
    * [[exactGroups]]: canonical url → count + representative (min id),
    * so the whole operator is one map-side normalization projection
    * plus the group-by's own exchange — zero extra shuffles, and at
    * 100 TB the normalization rides the scan for free.
    *
    * Output: (url, n, keep_id).
    */
  def urlDedup(docs: DataFrame, urlCol: String = "url"): DataFrame =
    docs
      .select(col("doc_id"),
        graft.text.UrlOps.canonicalizeUrl(col(urlCol)).as("url"))
      .groupBy(col("url"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))

  // ---------------------------------------------------------------------
  // Shingles + exact n-gram Jaccard
  // ---------------------------------------------------------------------

  /** Distinct token n-gram shingles per doc: (doc_id, shingle). */
  def docShingles(docs: DataFrame, n: Int): DataFrame =
    docs
      // separate tokenize projection per the shingles caller contract
      // (inlined, the split re-runs per n-gram)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks"))
      .select(
        col("doc_id"),
        explode(TextOps.shingles(col("_toks"), n)).as("shingle"))
      .distinct()

  /** Exact n-gram Jaccard near-dup pairs via inverted shingle index over
    * HASHED shingle identities (`shash` = u·P + v from [[docShingleKeys]] —
    * a 62-bit key; collisions are negligible and, since both engines use
    * the same formula, consistent). Joining on longs instead of shingle
    * strings keeps the index compact and the exchange cheap.
    *
    * The entry point shingles `docs` once and holds the (doc_id, keys)
    * frame behind a lazy checkpoint ([[graft.util.Checkpoints]],
    * released by `OpCaches.releaseAll`): the body reads it up to five
    * times, and a checkpoint scan, unlike a cache scan, runs no
    * materializing job per read under adaptive execution.
    * [[jaccardPairsKeys]] is the body, for callers that already hold
    * the keys.
    *
    * @param maxShingleDf if set, shingles appearing in more than this many
    *   docs are dropped before the self-join (bounds fan-out at scale;
    *   similarity becomes a lower bound).
    * Output: (d1, d2, jac) with d1 < d2 and jac >= threshold.
    */
  def jaccardPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame =
    jaccardPairsKeys(keyBarrier(docs, n), threshold, maxShingleDf)

  /** [[jaccardPairs]] over a (doc_id, keys) frame ([[docShingleKeys]]'
    * shape; other columns are ignored). Nothing is cached here: the
    * exploded shingle stream is a cheap projection of `keys`, read by
    * the size aggregate, the df cap's aggregate and semi join, and both
    * sides of the self-join. Pass `keys` materialized (a checkpoint, as
    * [[jaccardPairs]] does), or each of those reads re-shingles the text.
    */
  def jaccardPairsKeys(
      keys: DataFrame,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val sh0 = keys
      .select(
        col("doc_id"),
        explode(col("keys")).as("k"))
      .select(
        col("doc_id"),
        (col("k.u") * MinHashP + col("k.v")).as("shash"))
    val sh = maxShingleDf match {
      case Some(limit) =>
        val rare = sh0.groupBy(col("shash")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= limit).select("shash")
        sh0.join(rare, Seq("shash"), "left_semi")
      case None => sh0
    }
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val co = sh.as("a")
      .join(sh.as("b"), col("a.shash") === col("b.shash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
    co
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("jac", col("c") / (col("sz1") + col("sz2") - col("c")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** Pairwise n-gram Jaccard between SOURCES — the mixture-design
    * overlap matrix: which sources are near-copies of each other (two
    * crawls of the same sites, a filtered subset re-ingested under a
    * new name), so their mixing rates double-count. Each source is its
    * distinct shingle SET; the matrix is exact set Jaccard.
    *
    * Scale: this operator is for MIXTURE sources (dozens to thousands),
    * not per-domain — the shash self-join fans out ≤ |sources|² rows
    * per shingle, so bounded source cardinality is what keeps it
    * linear in token volume. `maxSourceDf` drops shingles present in
    * more than that many sources before the join: the near-universal
    * shingles that dominate join cost carry no discriminative signal
    * (they shrink every pair's Jaccard denominator equally), and at
    * |sources| in the thousands the cap turns the worst-case |S|²
    * fan-out into |cap|². Per-source sizes are |sources| rows —
    * broadcast back onto the pair counts.
    *
    * Output: (s1, s2, c, jac) for s1 < s2, c = |S(s1) ∩ S(s2)|.
    */
  def sourceOverlap(
      docs: DataFrame, n: Int,
      maxSourceDf: Option[Int] = None): DataFrame = {
    val sh0 = docs
      .select(col("source"),
        explode(graft.expr.ShingleKeys(TextOps.tokens(col("text")), n))
          .as("k"))
      .select(col("source"), (col("k.u") * MinHashP + col("k.v")).as("shash"))
      .distinct()
    val shF = maxSourceDf match {
      case Some(limit) =>
        val rare = sh0.groupBy(col("shash")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= limit).select("shash")
        sh0.join(rare, Seq("shash"), "left_semi")
      case None => sh0
    }
    // cache: consumed three times (sizes + both sides of the self-join)
    val sh = graft.util.OpCaches.cache(shF)
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val co = sh.as("a")
      .join(sh.as("b"), col("a.shash") === col("b.shash"))
      .filter(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("c"))
    co
      .join(broadcast(sizes.select(col("source").as("s1"), col("sz").as("sz1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("sz").as("sz2"))), Seq("s2"))
      .withColumn("jac", col("c") / (col("sz1") + col("sz2") - col("c")))
      .select(col("s1"), col("s2"), col("c"), col("jac"))
  }

  /** Benchmark-contamination detection (decontamination pass): corpus docs
    * whose shingle CONTAINMENT of some benchmark item meets `tau` —
    * containment(b → d) = |S(b) ∩ S(d)| / |S(b)|, the asymmetric overlap
    * measure the n-gram decontamination literature uses (a 100-word eval
    * item fully quoted inside a 10k-word page has low Jaccard but
    * containment 1.0, and it is the benchmark side that must not leak
    * into training data).
    *
    * Scale shape (100 TB corpus, benchmark = eval suites): the
    * benchmark's exploded shingle index is BROADCAST when it fits (its
    * entry count — bench docs × distinct shingles, ~16 B each — stays
    * under `maxBroadcastEntries`, i.e. benchmarks up to ~10⁴–10⁵ docs),
    * so the corpus is one scan — explode, broadcast-hash-join (keys that
    * match nothing are discarded map-side, no shuffle of corpus
    * shingles), then a grouped count over the surviving (doc, bench)
    * matches, which is bounded by true overlap, not corpus size. No
    * self-join, no corpus shuffle. A larger benchmark index degrades
    * GRACEFULLY to a shuffle join (corpus shingles exchange once)
    * instead of force-broadcasting a multi-GB index into the driver.
    *
    * Output: (doc_id, bench_id, containment ≥ tau).
    */
  def containmentPairs(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int,
      tau: Double,
      maxBroadcastEntries: Long = 20000000L): DataFrame = {
    // cache: consumed twice (per-item sizes + the probe join); tracked so
    // the caller can release post-materialize
    val bench =
      graft.util.OpCaches.cache(explodedShingles(benchmark, "bench_id", n))
    // size the broadcast decision on the REAL index cardinality (an O(1)
    // scalar off the cache just built) — an unconditional hint would OOM
    // the driver on an over-large benchmark rather than degrade
    val benchEntries = bench.count()
    val benchIndex =
      if (benchEntries <= maxBroadcastEntries) broadcast(bench) else bench
    val bsz = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("bsz"))
    explodedShingles(corpus, "doc_id", n)
      .join(benchIndex, "shash")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(bsz), "bench_id")
      .withColumn("containment", col("c") / col("bsz"))
      .filter(col("containment") >= tau)
      .select(col("doc_id"), col("bench_id"), col("containment"))
  }

  /** The (id, shash) shingle-key stream the containment family joins
    * on: one md5 per token occurrence ([[docShingleKeys]]), each
    * distinct n-gram folded to one 62-bit key u·P+v.
    */
  private def explodedShingles(
      docs: DataFrame, idAs: String, n: Int): DataFrame =
    docShingleKeys(docs, n)
      .select(col("doc_id").as(idAs), explode(col("keys")).as("k"))
      .select(col(idAs), (col("k.u") * MinHashP + col("k.v")).as("shash"))

  /** [[containmentPairs]] with a BLOOM-FILTER prefilter on the corpus
    * side — the scale path for the regime `containmentPairs` only
    * degrades gracefully into: a benchmark index too large to broadcast
    * (its entries are ~16 B each, so ~10⁶+ bench docs blow the driver),
    * where the plain operator must shuffle EVERY corpus shingle into the
    * join. Here the benchmark's shingle set is folded into an m-bit Bloom
    * filter instead — fixed O(m/8) bytes regardless of benchmark size —
    * and the corpus probe tests membership MAP-SIDE, so the only corpus
    * shingles that reach the exchange are true matches plus the filter's
    * false-positive tail (~(1-e^(-kn/m))^k of non-members). The surviving
    * candidates then run the exact count join, which discards false
    * positives, so the output is IDENTICAL to [[containmentPairs]] —
    * Bloom filters have no false negatives (same oracle, stronger plan).
    *
    * Construction is fully distributed: each bench shingle key sets k bit
    * positions (double hashing h1+i·h2 — Kirsch & Mitzenmacher, ESA'06 —
    * over Spark's `xxhash64` with two seeds); positions fold into 64-bit
    * words via a `bit_or` aggregate, and only the O(m/64) non-zero words
    * are collected (≤ m/8 bytes at full saturation — driver cost is
    * bounded by the CHOSEN filter size, never by benchmark size). Small
    * word arrays (m ≤ `maxLiteralBits`) ride into the probe as one array
    * literal (a single reference object in the serialized plan, shipped
    * once per stage-executor like a broadcast); a LARGER filter would
    * bloat every plan serialization/string it appears in, so past that
    * bound the array travels as a real one-row BROADCAST instead — the
    * corpus cross-joins the single-row frame (broadcast nested-loop of
    * one row: torrent-shipped once per executor, zero plan growth) and
    * probes the joined column. Either way the probe's k bit tests are
    * pure built-in column expressions (`element_at` + shift/mask), fully
    * inside whole-stage codegen — no UDF, no custom expression — and sit
    * BELOW the verify join's shuffle, map-side on the corpus scan.
    *
    * This mirrors what Spark's own runtime bloom-filter join injection
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does for shuffle
    * joins, made explicit and deterministic for the decontamination
    * shape (the injected variant only fires under planner heuristics this
    * operator should not depend on).
    *
    * @param bloomBits filter size m in bits; power of two ≥ 64 (mask
    *   addressing over whole 64-bit words)
    * @param numHashes k bit positions per key
    * @param maxLiteralBits largest m embedded as a plan literal; larger
    *   filters ship as a one-row broadcast (identical probe arithmetic)
    * Output: (doc_id, bench_id, containment ≥ tau) ≡ [[containmentPairs]].
    */
  def containmentPairsBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int,
      tau: Double,
      bloomBits: Int = 1 << 20,
      numHashes: Int = 5,
      maxLiteralBits: Int = 1 << 22): DataFrame =
    containmentPairsBloomImpl(
      corpus,
      // cache: consumed three times (filter build + per-item sizes +
      // exact join); the sized wrapper passes its own cached explode
      // instead, so the identical plan is never persisted twice
      graft.util.OpCaches.cache(explodedShingles(benchmark, "bench_id", n)),
      n, tau, bloomBits, numHashes, maxLiteralBits)

  /** Shared tail of [[containmentPairsBloom]] /
    * [[containmentPairsBloomSized]]: `bench` is the ALREADY-CACHED
    * bench shingle explode (caching here again would re-persist the
    * same logical plan — Spark's "already cached" warning path plus a
    * duplicate release thunk).
    */
  private def containmentPairsBloomImpl(
      corpus: DataFrame,
      bench: DataFrame,
      n: Int,
      tau: Double,
      bloomBits: Int,
      numHashes: Int,
      maxLiteralBits: Int): DataFrame = {
    require(bloomBits >= 64 && (bloomBits & (bloomBits - 1)) == 0,
      s"bloomBits must be a power of two >= 64, got $bloomBits")
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes must be in [1,16], got $numHashes")

    // k bit positions per key: double hashing (h1 + i·h2) mod m over
    // xxhash64 with two distinct seed tuples. Both hashes are masked to
    // [0, m) BEFORE the combine — identical positions, since mod-2^j of a
    // sum/product depends only on the operands' low bits, but the
    // arithmetic now peaks at k·m < 2^25 so ANSI mode (Spark 4 default)
    // can never see a long overflow. Build and probe share this exact
    // Column formula, so membership of every bench key is guaranteed
    // (no false negatives).
    val mask = lit((bloomBits - 1).toLong)
    def positions(h: Column): Seq[Column] = {
      val h1 = xxhash64(h).bitwiseAND(mask)
      val h2 = xxhash64(h, lit(0x9E3779B97F4A7C15L)).bitwiseAND(mask)
      (0 until numHashes).map(i =>
        (h1 + lit(i.toLong) * h2).bitwiseAND(mask))
    }

    // distributed build: position → (word index, bit) → bit_or per word;
    // the collect is ≤ m/64 rows no matter how many bench docs exist
    val words = bench
      .select(explode(array(positions(col("shash")): _*)).as("pos"))
      // integer word addressing via shifts (`/` on longs is DOUBLE division)
      .select(shiftright(col("pos"), 6).cast("int").as("w"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("bit"))
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("word"))
      .collect()
    val wordArr = new Array[Long](bloomBits / 64)
    words.foreach(r => wordArr(r.getInt(0)) = r.getLong(1))

    // map-side probe: all k bits set ⇒ candidate (k element_at +
    // shift/mask tests over the word array, codegen'd built-ins
    // throughout). `words` is the array-valued Column the route below
    // binds — a literal for small m, a broadcast-joined column for
    // large m; the bit arithmetic is identical either way.
    def mightContain(h: Column, words: Column): Column =
      positions(h).map { pos =>
        val word = element_at(words, shiftright(pos, 6).cast("int") + 1)
        call_function("shiftright", word, (pos % 64).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }.reduce(_ && _)

    val corpusShingles = explodedShingles(corpus, "doc_id", n)
    val candidates =
      if (bloomBits <= maxLiteralBits)
        corpusShingles.filter(mightContain(col("shash"), typedLit(wordArr)))
      else {
        // large m: the filter is a real broadcast, not a plan literal —
        // one row of ARRAY<BIGINT> cross-joined in (broadcast
        // nested-loop of a single row is a map-side pass-through), so a
        // 100 MB filter never inflates plan serialization or EXPLAIN
        val spark = corpus.sparkSession
        import spark.implicits._
        val wordsDf = Seq(Tuple1(wordArr)).toDF("_bloom_words")
        corpusShingles
          .crossJoin(broadcast(wordsDf))
          .filter(mightContain(col("shash"), col("_bloom_words")))
          .drop("_bloom_words")
      }
    // exact verify on survivors only — identical tail to containmentPairs;
    // deliberately NOT broadcast: this operator exists for the regime
    // where the bench index cannot broadcast, so the exchange it measures
    // is the candidate-bounded shuffle
    val bsz = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("bsz"))
    candidates
      .join(bench, "shash")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(bsz), "bench_id")
      .withColumn("containment", col("c") / col("bsz"))
      .filter(col("containment") >= tau)
      .select(col("doc_id"), col("bench_id"), col("containment"))
  }

  /** Bloom geometry from an expected key count and target FP rate: the
    * textbook optimum m = −n·ln p/(ln 2)² rounded UP to a power of two
    * (mask addressing), clamped to [2¹⁰, maxBits]; k = (m/n)·ln 2
    * rounded, clamped to [1, 16]. Exposed for the sizing test.
    */
  private[graft] def bloomSizing(
      nKeys: Long, fpRate: Double, maxBits: Int): (Int, Int) = {
    require(fpRate > 0.0 && fpRate < 1.0,
      s"fpRate must be in (0,1), got $fpRate")
    require(maxBits >= 1024 && (maxBits & (maxBits - 1)) == 0,
      s"maxBits must be a power of two >= 1024, got $maxBits")
    val n = math.max(1L, nKeys)
    val ln2sq = math.log(2) * math.log(2)
    val ideal = math.ceil(-n * math.log(fpRate) / ln2sq)
    val target = math.max(1024L, math.min(ideal, maxBits.toDouble).toLong)
    // round UP to a power of two (maxBits is one, so the cap survives)
    val floorPow2 = java.lang.Long.highestOneBit(target)
    val m = (if (floorPow2 == target) target else floorPow2 << 1).toInt
    val k = math.max(1, math.min(16,
      math.round(m.toDouble / n * math.log(2)).toInt))
    (m, k)
  }

  /** Occupancy-SIZED [[containmentPairsBloom]] — the sizing discipline
    * the repo's other capacity-sensitive paths follow
    * ([[graft.sim.Similarity.cosineLshNearDupPairsSized]],
    * [[graft.text.TextOps.sizedShards]]): a STATIC `bloomBits` either
    * saturates as the benchmark grows (FP rate → 1, the prefilter prunes
    * nothing) or wastes a maximal filter on a tiny benchmark. Here m is
    * derived from the benchmark's REAL distinct-shingle count — one
    * count off the same cached explode the build consumes — via
    * [[bloomSizing]], so the false-positive tail (and with it the
    * exact-verify exchange volume) stays ≤ ~`fpRate` however large the
    * benchmark suite grows, until `maxBits` caps driver/executor memory
    * (past the cap the FP rate degrades GRACEFULLY and correctness is
    * untouched — the exact verify discards every false positive).
    * Output ≡ [[containmentPairs]], like the fixed-size form.
    */
  def containmentPairsBloomSized(
      corpus: DataFrame,
      benchmark: DataFrame,
      n: Int,
      tau: Double,
      fpRate: Double = 0.01,
      maxBits: Int = 1 << 28,
      maxLiteralBits: Int = 1 << 22): DataFrame = {
    // the count is one O(1)-to-driver agg over the bench explode; the
    // cache is released with the operator's other tracked entries, and
    // the SAME cached frame feeds the filter build / sizes / exact join
    // downstream (re-deriving it in the inner operator would double-
    // persist the identical plan and pay this distinct() twice)
    val bench =
      graft.util.OpCaches.cache(explodedShingles(benchmark, "bench_id", n))
    val nKeys = bench.select(col("shash")).distinct().count()
    val (m, k) = bloomSizing(nKeys, fpRate, maxBits)
    containmentPairsBloomImpl(corpus, bench, n, tau,
      bloomBits = m, numHashes = k, maxLiteralBits = maxLiteralBits)
  }

  /** EXACT SUBSTRING duplication spans — the sub-document sibling of
    * [[exactGroups]] and the detection half of ExactSubstr dedup (Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22: their suffix-array pass removes every ≥50-token
    * span that appears twice anywhere in the corpus; boilerplate,
    * licenses, and quoted chunks survive DOCUMENT-level dedup because
    * the containing documents differ). A distributed suffix array is
    * the wrong tool on Spark; the standard equivalent is the one used
    * here: hash every `w`-token window to a 62-bit key
    * ([[graft.expr.PositionalShingleKeys]] — one compiled pass, one md5
    * per token), keep windows whose key occurs ≥ 2 times CORPUS-WIDE
    * (cross-document or self-repetition), and merge each document's
    * surviving window starts into maximal `[span_start, span_end)`
    * token spans — same-width intervals sorted by start merge exactly
    * when the start gap is ≤ w, so the merge is one per-document
    * window function, never a global sort. A ≥ w-token duplicated
    * region is covered end-to-end by duplicated windows, so the merged
    * spans are exactly the ExactSubstr cut list at granularity w.
    *
    * Scale shape: three linear exchanges — window-key count with
    * map-side combine (the [[graft.text.TextOps.ngramTopK]] shape),
    * the hits join on the key (duplicated-window keys are NOT
    * broadcast: at 100 TB the dup set is corpus-scale), and one
    * doc-keyed exchange for the per-document merge. The shuffled rows
    * are (doc_id, pos, key) triples — never text.
    *
    * Output: (doc_id, span_start, span_end), 0-based token offsets,
    * end exclusive.
    */
  def substringDupSpans(docs: DataFrame, w: Int = 16): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    import org.apache.spark.sql.expressions.Window
    val wins = graft.util.OpCaches.cache(
      docs
        .select(col("doc_id"),
          explode(graft.expr.PositionalShingleKeys(
            TextOps.tokens(col("text")), w)).as("k"))
        .select(col("doc_id"), col("k.pos").as("pos"),
          (col("k.u") * MinHashP + col("k.v")).as("whash")))
    val dup = wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("whash"))
    val hits = wins.join(dup, "whash").select(col("doc_id"), col("pos"))
    // gaps-and-islands per document: a window starts a new span iff its
    // start is more than w past the previous start (same-width
    // intervals ⇒ ends are ordered with starts, so this is the exact
    // overlap-or-touching test); pos is unique per doc ⇒ deterministic
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= w, lit(0))
          .otherwise(lit(1)))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + w).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Apply ExactSubstr cuts — the REMOVAL half of Lee et al. ACL'22's
    * substring dedup, completing the pair with [[substringDupSpans]]:
    * given the span list (doc_id, span_start, span_end) in 0-based
    * token offsets (end exclusive), drop every covered token and
    * re-join the survivors with single spaces. Documents absent from
    * `spans` pass through (token-rejoined — the whole pipeline is
    * token-space, so multi-whitespace is already collapsed by the
    * tokenizer on every path).
    *
    * Scale shape: spans collapse to one row per cut document (tiny —
    * span lists are bounded by doc length / w), then ONE doc-keyed
    * left join against the tokenized corpus; the cut itself is a
    * per-row `filter(tokens, (tok, pos) -> !∃ span covering pos)` —
    * nested higher-order builtins, no UDF, no extra exchange beyond
    * the join. Composes with [[graft.text.TextOps.scrub]]-style
    * cleaning: cut first (offsets are in raw token space), then clean.
    *
    * Output: (doc_id, cut_text, n_removed) for EVERY input document.
    */
  def applySubstringCuts(docs: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(collect_list(
        struct(col("span_start"), col("span_end"))).as("cut_spans"))
    docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("t"),
        when(col("cut_spans").isNull, col("t"))
          .otherwise(filter(col("t"), (tok, i) =>
            !exists(col("cut_spans"), sp =>
              i.cast("long") >= sp.getField("span_start") &&
                i.cast("long") < sp.getField("span_end"))))
          .as("kept"))
      .select(
        col("doc_id"),
        array_join(col("kept"), " ").as("cut_text"),
        (size(col("t")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------------

  /** MinHash hash family: h_i(s) = (a_i·u + b_i·v + c_i) mod P over the
    * Mersenne prime P = 2³¹−1, where (u, v) are two independent md5-prefix
    * keys of the shingle (hex digits 1–15 and 16–30, each reduced mod P) —
    * a 2-universal family over a 120-bit key. ONE md5 per shingle, then
    * integer arithmetic per hash function (~12× cheaper than hashing per
    * (i, s)); each product is reduced mod P before summing so nothing
    * exceeds 2⁶² in any engine; expressible verbatim in DuckDB. The
    * coefficients a_i, b_i, c_i live in [[graft.expr.MinHashSignature]].
    */
  val MinHashP: Long = 2147483647L

  /** Per-token (u, v) keys: two md5-prefix ints reduced mod P — ONE md5
    * per token occurrence, from which every shingle key derives
    * arithmetically (no shingle strings are ever built).
    */
  def tokenKeys(toks: Column): Column =
    transform(toks, t => {
      val h = md5(t)
      struct(
        (conv(h.substr(1, 15), 16, 10).cast("long") % MinHashP).as("u"),
        (conv(h.substr(16, 15), 16, 10).cast("long") % MinHashP).as("v"))
    })

  /** n-gram shingle keys by positional combination of token keys:
    * key.u = Σ_j γ_j·u_{i+j} mod P with γ_j = 3266489917·(j+1) mod P
    * (likewise for v). Position-sensitive, overflow-free, identical
    * arithmetic in DuckDB.
    */
  def shingleKeyArr(tkeys: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    def combine(f: String, i: Column): Column =
      (0 until n).map { j =>
        lit((3266489917L * (j + 1)) % MinHashP) *
          element_at(tkeys, (i + lit(j + 1)).cast("int")).getField(f) % MinHashP
      }.reduce(_ + _) % MinHashP
    when(
      size(tkeys) >= n,
      transform(
        sequence(lit(0), size(tkeys) - n),
        i => struct(combine("u", i).as("u"), combine("v", i).as("v"))))
      .otherwise(array().cast("array<struct<u:bigint,v:bigint>>"))
  }

  /** Distinct shingle keys per doc: (doc_id, keys ARRAY<STRUCT<u,v>>),
    * via the single compiled [[graft.expr.ShingleKeys]] expression — one
    * md5 per token occurrence, arithmetic combination, dedup, all in one
    * pass. (The composed-column formulation [[tokenKeys]]+[[shingleKeyArr]]
    * is kept for documentation/tests but is a Catalyst inlining trap —
    * see the expression's scaladoc.)
    */
  def docShingleKeys(docs: DataFrame, n: Int): DataFrame =
    docs.select(
      col("doc_id"),
      graft.expr.ShingleKeys(TextOps.tokens(col("text")), n).as("keys"))

  /** [[docShingleKeys]] behind a lazy checkpoint, released by
    * `OpCaches.releaseAll`: the one shingle pass of an entry point whose
    * body reads the keys several times. A checkpoint is a plan leaf,
    * where under adaptive execution every scan of a cache is a query
    * stage with jobs of its own. Like every checkpoint barrier, the
    * result must be materialized before the release.
    */
  private[graft] def keyBarrier(docs: DataFrame, n: Int): DataFrame =
    graft.util.Checkpoints.checkpointTracked(docShingleKeys(docs, n), eager = false)

  /** MinHash signatures via the codegen'd [[graft.expr.MinHashSignature]]
    * expression — all `numHashes` minima in one compiled loop over the
    * shingle keys. Output: (doc_id, sig ARRAY<BIGINT>). Docs with no
    * shingles are dropped.
    */
  def minHashSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    docShingleKeys(docs, n)
      .filter(size(col("keys")) > 0)
      .select(
        col("doc_id"),
        graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))

  /** LSH band buckets: signature split into `bands` bands of `rowsPerBand`
    * values; bucket id = md5 of the band's concatenated values.
    * Output: (doc_id, band, bucket).
    */
  def lshBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs
      .select(
        col("doc_id"),
        posexplode(
          transform(
            sequence(lit(0), lit(bands - 1)),
            b =>
              md5(concat_ws(",",
                transform(
                  slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
                  v => v.cast("string"))))))
          .as(Seq("band", "bucket")))

  /** Candidate pairs from shared (band, bucket) co-occurrence — the LSH
    * OR-construction's equality self-join. Both join sides read `b`, so
    * build it from materialized input.
    */
  private[graft] def bucketCandidates(b: DataFrame): DataFrame =
    b.as("a")
      .join(b.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

  /** Candidate near-dup pairs: docs sharing any (band, bucket).
    * Output: (d1, d2) distinct, d1 < d2.
    */
  def minHashCandidates(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // cache the buckets: the self-join would otherwise recompute the full
    // signature pass for each side (OpCaches-tracked)
    val b = graft.util.OpCaches.cache(
      lshBuckets(minHashSignatures(docs, n, numHashes), bands, numHashes / bands))
    bucketCandidates(b)
  }

  /** The exact-duplicate groups + per-bucket cap scaffolding shared by
    * the HARDENED LSH paths — the defense against degenerate duplicate
    * cliques. A boilerplate-heavy crawl puts millions of byte-identical
    * documents in one LSH bucket, and the within-bucket self-join goes
    * quadratic in clique size. Two standard counters, composed:
    *
    *  1. '''Exact-dup short-circuit''': group documents by their SORTED
    *     shingle-key set (md5 of the sorted keys — equal sets ⟺
    *     Jaccard exactly 1, so this is the provably-safe collapse);
    *     only each group's min-id REPRESENTATIVE enters the LSH
    *     pipeline. Non-representative members are dropped directly
    *     (Jaccard 1 ≥ any threshold ≤ 1). Because a member's keys,
    *     signature, and buckets are identical to its representative's,
    *     collapsing preserves the drop decision for every OTHER
    *     document exactly — a c-clique contributes O(c) work instead
    *     of O(c²) pairs.
    *  2. '''Per-bucket candidate cap''': within each (band, bucket),
    *     a pair is generated only when at least one side ranks in the
    *     bucket's `maxBucket` SMALLEST ids (deterministic rank, so an
    *     external oracle reproduces it). Within-bucket work drops from
    *     O(occupancy²) to O(maxBucket · occupancy) — LINEAR in clique
    *     size — while every doc stays pairable against the bucket's
    *     smallest ids, which are exactly the partners keep-min-id
    *     dedup needs. RECALL CONTRACT: a pair is missed only when BOTH
    *     sides rank past the cap in EVERY shared band; for the dedup
    *     drop decision that matters only if a doc's sole
    *     above-threshold partner hides past the cap everywhere — rare,
    *     because the head holds each bucket's minimum ids. Exact
    *     duplicates are never affected (counter 1 already removed
    *     them); set `maxBucket` at ~100× expected occupancy so it only
    *     bites on degenerate residual cliques (near-identical but not
    *     byte-identical boilerplate).
    *
    * Returns (grp, repIds): per-doc group signatures for docs with ≥ 1
    * shingle (doc_id, keys, ksig), and each group's representative
    * (ksig, doc_id). Both are OpCaches-tracked.
    */
  private def exactGroups(docs: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val grp = graft.util.OpCaches.cache(
      docShingleKeys(docs, n)
        .filter(size(col("keys")) > 0)
        .withColumn(
          "ksig",
          md5(concat_ws(",",
            transform(array_sort(col("keys")), v => v.cast("string"))))))
    val repIds = graft.util.OpCaches.cache(
      grp.groupBy(col("ksig")).agg(min(col("doc_id")).as("doc_id")))
    (grp, repIds)
  }

  /** Capped candidate generation: pairs with at least one side in each
    * bucket's `maxBucket`-smallest-id HEAD (see [[exactGroups]] for the
    * recall contract). The head rank sorts only within buckets — the
    * same (band, bucket) hash partitioning the candidate join shuffles
    * on anyway — so a hot bucket costs O(c log c) to rank and
    * O(maxBucket · c) to pair instead of O(c²). Input must be cached:
    * both join sides read it.
    */
  private def cappedBucketCandidates(
      buckets: DataFrame, maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("doc_id"))
    val head = buckets
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBucket)
      .drop("_rn")
    head.as("a")
      .join(buckets.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** [[minHashCandidates]] HARDENED against duplicate cliques: exact-dup
    * groups are collapsed to representatives and hot buckets are capped
    * (see [[exactGroups]]). Output: (d1, d2) candidate pairs among
    * REPRESENTATIVES only — members of an exact group are near-dups of
    * their representative by construction and need no verification.
    */
  def minHashCandidatesHardened(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      maxBucket: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(maxBucket >= 1, "maxBucket must be >= 1")
    val (grp, repIds) = exactGroups(docs, n)
    val reps = grp.join(repIds, Seq("ksig", "doc_id"))
    val sigs = reps.select(
      col("doc_id"),
      graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))
    val b = graft.util.OpCaches.cache(
      lshBuckets(sigs, bands, numHashes / bands))
    cappedBucketCandidates(b, maxBucket)
  }

  /** [[nearDedup]] HARDENED against duplicate cliques: identical
    * shingle-key sets collapse to one representative before LSH, and
    * per-bucket candidates are capped (see [[exactGroups]] for both
    * contracts). With no clique larger than `maxBucket`, the output is
    * IDENTICAL to [[nearDedup]] (asserted in DedupHardenedSpec): the
    * representative inherits its members' exact candidate set, members
    * drop against the representative at Jaccard exactly 1, and the
    * keep-min-id policy is preserved because each representative IS its
    * group's minimum. Output: the surviving docs.
    */
  def nearDedupHardened(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = 4096): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1] — exact-group members are dropped at " +
        "Jaccard exactly 1")
    require(maxBucket >= 1, "maxBucket must be >= 1")
    val (grp, repIds) = exactGroups(docs, n)
    val reps = graft.util.OpCaches.cache(grp.join(repIds, Seq("ksig", "doc_id")))
    val sigs = reps.select(
      col("doc_id"),
      graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))
    val b = graft.util.OpCaches.cache(
      lshBuckets(sigs, bands, numHashes / bands))
    val verified =
      verifyJaccardKeys(reps.select(col("doc_id"), col("keys")),
        cappedBucketCandidates(b, maxBucket), threshold)
    val droppedReps = verified.select(col("d2").as("doc_id"))
    // every non-representative member: Jaccard vs its representative is
    // exactly 1 (equal key sets), >= any threshold in (0, 1]
    val droppedMembers = grp
      .join(repIds.withColumnRenamed("doc_id", "rep"), Seq("ksig"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id"))
    docs.join(
      droppedMembers.unionByName(droppedReps).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** End-to-end near-dedup: MinHash+LSH candidates, verified against exact
    * Jaccard, then greedy keep-lowest-id — a doc is dropped iff some
    * SMALLER-id doc is near-identical to it. (One-step transitive closure:
    * the standard single-pass policy; full connected components would need
    * an iterative join.) Output: the surviving docs.
    *
    * The entry point runs ONE shingle-key pass (tokenize + md5 + n-gram
    * combine, the dominant per-doc cost) behind a lazy checkpoint
    * ([[keyBarrier]]): both sides of the signature self-join and the
    * Jaccard verify read it. [[nearDupIds]] is the body, for callers
    * that already hold the keys.
    */
  def nearDedup(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame =
    docs.join(
      nearDupIds(keyBarrier(docs, n), numHashes, bands, threshold),
      Seq("doc_id"), "left_anti")

  /** [[nearDedup]]'s drops over a (doc_id, keys) frame ([[docShingleKeys]]'
    * shape; other columns are ignored): the ids of docs with a verified
    * SMALLER-id near-duplicate. Nothing is cached here: each side of the
    * LSH-bucket self-join computes its signatures from `keys`, a cheap
    * pass next to shingling. Pass `keys` materialized (a checkpoint, as
    * [[nearDedup]] does), since both sides and the verify read it.
    * Output: (doc_id) distinct.
    */
  def nearDupIds(
      keys: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = keys
      .filter(size(col("keys")) > 0)
      .select(
        col("doc_id"),
        graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))
    val b = lshBuckets(sigs, bands, numHashes / bands)
    verifyJaccardKeys(keys, bucketCandidates(b), threshold)
      .select(col("d2").as("doc_id")).distinct()
  }

  /** INCREMENTAL near-dedup: dedup a NEW batch against an EXISTING corpus
    * — the daily-ingest production shape ([[nearDedup]] re-dedups the
    * whole corpus each time; at 100 TB the corpus is deduped once and
    * each day's crawl is deduped against it). A new doc is dropped iff
    * some verified near-dup partner is an existing corpus doc, or a
    * smaller-id doc of the same batch (the same one-step keep-min-id
    * policy as [[nearDedup]]). Corpus docs are never dropped.
    *
    * Scale shape: the LSH bucket join is ASYMMETRIC — (corpus ∪ new) on
    * one side, the new batch alone on the other — so candidate work is
    * O(new × bucket occupancy), never corpus × corpus; in a real
    * deployment the corpus side's signatures/buckets are precomputed
    * once and revalidated incrementally. One shared shingle pass feeds
    * signatures and the Jaccard verify, as in [[nearDedup]].
    *
    * Output: the surviving new docs (all input columns).
    */
  def incrementalNearDedup(
      newDocs: DataFrame,
      corpus: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val tagged = newDocs.select(col("doc_id"), col("text"), lit(true).as("is_new"))
      .unionByName(corpus.select(col("doc_id"), col("text"), lit(false).as("is_new")))
    // one shingle pass over corpus ∪ new, keys + batch flag together
    val keys = graft.util.OpCaches.cache(
      tagged.select(
        col("doc_id"),
        col("is_new"),
        graft.expr.ShingleKeys(TextOps.tokens(col("text")), n).as("keys")))
    val sigs = keys
      .filter(size(col("keys")) > 0)
      .select(col("doc_id"), col("is_new"),
        graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))
    val buckets = graft.util.OpCaches.cache(
      lshBuckets(sigs, bands, numHashes / bands)
        .join(keys.select(col("doc_id"), col("is_new")), "doc_id"))
    // asymmetric candidates: every (partner p, new doc nd) sharing a
    // bucket — old×old pairs are never formed
    val cand = buckets.as("a")
      .join(
        buckets.filter(col("is_new")).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val ver = verifyJaccardKeys(keys.select(col("doc_id"), col("keys")), cand, threshold)
    val dropped = ver
      .join(keys.select(col("doc_id").as("d1"), col("is_new").as("p_new")), "d1")
      // partner dominates when it is corpus, or an earlier doc of the batch
      .filter(!col("p_new") || col("d1") < col("d2"))
      .select(col("d2").as("doc_id"))
      .distinct()
    newDocs.join(dropped, Seq("doc_id"), "left_anti")
  }

  // ---------------------------------------------------------------------
  // Persistent signature store
  // ---------------------------------------------------------------------

  /** Bucket-id ARRAY per signature (element b = band b's bucket) — the
    * columnar layout [[lshBuckets]] posexplodes, kept un-exploded so it
    * can be persisted compactly per doc.
    */
  private def bucketArray(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b =>
        md5(concat_ws(",",
          transform(
            slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")))))

  /** The persistable signature rows for a corpus: (doc_id, keys, sig,
    * buckets) — everything the incremental path needs, so the corpus
    * TEXT never has to be re-read. Docs with zero shingles are omitted
    * (they can never enter an LSH bucket, hence never match).
    */
  def signatureRows(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    docShingleKeys(docs, n)
      .filter(size(col("keys")) > 0)
      .select(
        col("doc_id"),
        col("keys"),
        graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))
      .withColumn("buckets", bucketArray(col("sig"), bands, numHashes / bands))
  }

  /** Persist the signature store for a corpus as parquet at `path` —
    * done ONCE per corpus; every subsequent [[incrementalNearDedupFromStore]]
    * run reads these rows instead of re-shingling 100 TB of text (the
    * daily-ingest cost drops from O(corpus) text work to O(corpus)
    * signature I/O + O(batch) text work). The (n, numHashes, bands)
    * parameters must match between writer and readers — store layouts
    * with different parameters are incompatible by construction (bucket
    * ids hash the band slicing).
    */
  def writeSignatureStore(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      path: String): Unit =
    signatureRows(docs, n, numHashes, bands)
      .write.mode("overwrite").parquet(path)

  /** Append a (surviving) batch's signatures to an existing store — the
    * tail step of the daily loop: dedup the batch against the store, keep
    * the survivors, append their signatures so tomorrow's batch dedups
    * against corpus ∪ today. Same parameter-compatibility contract as
    * [[writeSignatureStore]].
    */
  def appendToSignatureStore(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      path: String): Unit =
    signatureRows(docs, n, numHashes, bands)
      .write.mode("append")
      .parquet(graft.util.GenStore.resolve(docs.sparkSession, path))

  /** [[incrementalNearDedup]] against a PERSISTED corpus signature store:
    * identical output (same drop policy, same pair set), but the corpus
    * side is read from `storePath` — (doc_id, keys, sig, buckets) parquet
    * written by [[writeSignatureStore]] — so the corpus TEXT column is
    * never touched: only the new batch is shingled. Corpus and batch
    * doc_ids must be disjoint (same contract as the store itself: ids
    * are the identity appends key on).
    *
    * Scale shape: candidate generation explodes store (doc_id, buckets)
    * — column-pruned, no keys read — against the batch's buckets
    * ASYMMETRICALLY (old×old pairs never form); the Jaccard verify then
    * reads store (doc_id, keys) for just the candidate partners. At
    * 100 TB the store scan is the only corpus-sized I/O, a fraction of
    * the text it replaces, and both scans prune to exactly the columns
    * they need.
    */
  def incrementalNearDedupFromStore(
      newDocs: DataFrame,
      storePath: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val spark = newDocs.sparkSession
    val store = readSignatureStore(spark, storePath)
    // one shingle pass over the BATCH only (cache: buckets, keys, and the
    // flags side all read it; OpCaches-tracked)
    val batch = graft.util.OpCaches.cache(
      signatureRows(newDocs, n, numHashes, bands))
    newDocs.join(incrementalDroppedIds(batch, store, threshold),
      Seq("doc_id"), "left_anti")
  }

  /** DELETE documents from a signature store — the takedown leg of the
    * store's log-structured CRUD, O(batch) where a physical rewrite is
    * O(store): the deleted ids land as a tombstone segment
    * ([[graft.util.Tombstones]]) inside the active generation, and
    * every store read ([[readSignatureStore]] and the streaming
    * runner) anti-joins them out, so a taken-down document stops
    * suppressing its look-alikes immediately. The next
    * [[compactSignatureStore]] folds the tombstones away physically
    * (the rewrite reads through the filtered view and the new
    * generation carries no tombstone directory). Idempotent: deleting
    * an absent or already-deleted id is a no-op — unlike the BM25
    * store there are no counted statistics to skew, only rows to hide.
    * Single-writer vs compaction, as with appends.
    */
  def deleteFromSignatureStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      ids: DataFrame): Unit =
    graft.util.SegmentStore.delete(spark, storePath, ids)

  /** Read a signature store regardless of file layout: flat part-files
    * ([[writeSignatureStore]] / [[appendToSignatureStore]]) and the
    * per-batch segment directories the streaming runner
    * ([[graft.streaming.StreamOps.runStreamingDedupAgainstStore]])
    * overwrites — `recursiveFileLookup` reads both without partition
    * inference, so mixing the two writers against one store stays
    * valid. A compacted store resolves through its generation manifest
    * ([[graft.util.GenStore]]) to the active generation directory.
    */
  def readSignatureStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String): DataFrame =
    graft.util.SegmentStore.read(spark, storePath, "doc_id")

  /** Compact a signature store: daily [[appendToSignatureStore]]
    * runs and streaming batch segments each add a handful of small
    * parquet files, and after months of appends the store read pays more
    * in file listing + footer opens + tiny row groups than in bytes.
    * Rewrites all rows into ⌈rows / targetFileRows⌉ files (coalesce — a
    * file-merge read, no shuffle) in a NEW generation directory, then
    * atomically repoints the store's generation manifest at it
    * ([[graft.util.GenStore.compactInto]]). Results are set-identical;
    * only the file layout changes (asserted in DedupStoreSpec).
    *
    * ATOMIC FOR READERS: a reader that resolved the store before the
    * swap keeps its complete previous-generation file set (kept for one
    * further compaction cycle); one that resolves after sees the
    * compacted generation — both get identical rows (asserted in
    * StoreCompactionAtomicitySpec). Writers stay single-writer: don't
    * run appends or streaming batches concurrently with compaction, and
    * don't compact between a crashed streaming batch and its replay
    * (the fold would break the replay's own-segment exclusion).
    */
  def compactSignatureStore(
      spark: org.apache.spark.sql.SparkSession,
      storePath: String,
      targetFileRows: Long = 4L * 1024 * 1024): Unit =
    graft.util.SegmentStore.compactFlat(
      spark, storePath, readSignatureStore(spark, storePath), targetFileRows)

  /** The signature-level core of [[incrementalNearDedupFromStore]]: the
    * batch doc_ids DROPPED against the store (corpus partner dominates;
    * within the batch, keep-min-id). Exposed so callers that already
    * hold the batch's [[signatureRows]] — the streaming runner reuses
    * them to append survivors' signatures — don't shingle the batch a
    * second time. `batchSigs` should be cached by the caller when it is
    * consumed again (it is read by both the bucket join and the verify
    * keys here). Output: (doc_id).
    */
  def incrementalDroppedIds(
      batchSigs: DataFrame,
      store: DataFrame,
      threshold: Double): DataFrame = {
    def explodedBuckets(df: DataFrame): DataFrame =
      df.select(
        col("doc_id"),
        posexplode(col("buckets")).as(Seq("band", "bucket")))
    val newB = explodedBuckets(batchSigs)
    // asymmetric: (store ∪ batch) × batch within equal (band, bucket)
    val cand = explodedBuckets(store.select(col("doc_id"), col("buckets")))
      .unionByName(newB)
      .as("a")
      .join(newB.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val keys = store.select(col("doc_id"), col("keys"))
      .unionByName(batchSigs.select(col("doc_id"), col("keys")))
    val ver = verifyJaccardKeys(keys, cand, threshold)
    // partner dominates when it is corpus (in the store, not the batch),
    // or an earlier doc of the batch — resolved via a key-only batch-id
    // probe, never a corpus-side join
    val batchIds = batchSigs.select(col("doc_id").as("d1"), lit(true).as("p_new"))
    ver
      .join(batchIds, Seq("d1"), "left_outer")
      // corpus partner: p_new is null (no batch row matched) — dominates
      .filter(col("p_new").isNull || col("d1") < col("d2"))
      .select(col("d2").as("doc_id"))
      .distinct()
  }

  // ---------------------------------------------------------------------
  // Sub-document (paragraph) exact dedup
  // ---------------------------------------------------------------------

  /** C4-style sub-document EXACT dedup: split every document into
    * paragraphs on the literal separator `sep`, keep only the globally
    * FIRST occurrence (minimum (doc_id, position)) of each distinct
    * normalized paragraph, and reassemble each document from its
    * surviving paragraphs in original order. Documents left with no
    * paragraph are dropped (the C4 policy: an all-boilerplate page
    * contributes nothing). This is the standard "remove duplicated
    * lines/spans across the corpus" pass that document-level dedup
    * cannot express — boilerplate headers, navigation text, and license
    * blocks repeat across millions of otherwise-distinct pages.
    *
    * Scale shape: the dedup decision shuffles only (md5 hash, doc_id,
    * pos) — 16-byte fingerprints and offsets, never paragraph text; the
    * survivor offsets aggregate back to one O(#docs) array per doc and
    * join the original documents once, where the reassembly re-splits
    * in-row (`element_at(split(..))` — cheap projection, no second
    * shuffle of text beyond the one join exchange every keep-semi-join
    * operator here pays).
    *
    * Normalization (lowercase, whitespace collapse) applies to the MATCH
    * key only; the emitted text keeps each surviving paragraph verbatim.
    * Output: (doc_id, text).
    */
  def paragraphDedup(docs: DataFrame, sep: String = "\n"): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val paras = docs
      .select(
        col("doc_id"),
        posexplode(split(col("text"), quoted)).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      // project text away BEFORE the shuffle: the groupBy carries hashes
      .select(
        col("doc_id"),
        col("pos"),
        md5(TextOps.normalize(col("para"))).as("h"))
    val winners = paras
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
    val keepPos = winners
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("pos"))).as("keep"))
    docs
      .join(keepPos, Seq("doc_id"))
      // Reassemble by FILTERING the split array, not by transform-ing
      // the keep positions: `filter(split(text), (x, i) => ...)` puts
      // the split in the HOF's ARGUMENT position, where it is evaluated
      // once per row — only the lambda body runs per element. The
      // previous `transform(keep, p => element_at(_paras, p + 1))`
      // shape put it inside the lambda: CollapseProject re-inlines a
      // single-use non-cheap alias, so `_paras` did not survive
      // optimization and the split re-ran per kept paragraph —
      // O(paragraphs²) per document. Argument-position evaluation is
      // immune to that inlining (locked by PlanShapeSpec: no split()
      // inside any lambda in this plan). `keep` holds 0-based positions
      // into the ORIGINAL split array (blanks included), matching the
      // filter lambda's 0-based index; array order — original paragraph
      // order — is preserved by filter, same as the sorted keep gave.
      .select(
        col("doc_id"),
        concat_ws(sep,
          filter(
            split(col("text"), quoted),
            (_, i) => array_contains(col("keep"), i))).as("text"))
  }

  /** Exact Jaccard for a given candidate-pair set (cheap: computes
    * similarity only for candidates, not all pairs).
    * Input pairs: (d1, d2). Output: (d1, d2, jac) with jac >= threshold.
    */
  def verifyJaccard(
      docs: DataFrame,
      pairs: DataFrame,
      n: Int,
      threshold: Double): DataFrame =
    verifyJaccardKeys(docShingleKeys(docs, n), pairs, threshold)

  /** [[verifyJaccard]] over an already-computed (doc_id, keys) frame —
    * lets pipelines reuse one shingle-key pass across stages.
    */
  def verifyJaccardKeys(
      keys: DataFrame,
      pairs: DataFrame,
      threshold: Double): DataFrame = {
    val left = keys.select(col("doc_id").as("d1"), col("keys").as("k1"))
    val right = keys.select(col("doc_id").as("d2"), col("keys").as("k2"))
    pairs
      .join(left, "d1")
      .join(right, "d2")
      .withColumn("inter", size(array_intersect(col("k1"), col("k2"))))
      .withColumn(
        "jac",
        col("inter") / (size(col("k1")) + size(col("k2")) - col("inter")))
      .filter(col("jac") >= threshold)
      .select(col("d1"), col("d2"), col("jac"))
  }

  /** Duplicate GROUPS: connected components over the verified near-dup
    * pair graph, labeled by the minimum doc_id in each component.
    *
    * Algorithm: alternating large-star / small-star contractions (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
    * MapReduce and Beyond", SoCC'14). Each round is two shuffled
    * aggregations + joins; the edge set converges to stars centered at each
    * component's minimum node in O(log²n) rounds REGARDLESS of component
    * diameter — a 10⁶-node chain converges in ~20 rounds where per-hop
    * min-label propagation would need 10⁶. An eager checkpoint after every
    * round truncates the lineage so plans stay flat across iterations:
    * local by default, or reliable (to the context's checkpoint dir,
    * surviving executor loss at the price of a distributed-FS write per
    * round) once the context has a checkpoint dir
    * ([[graft.util.Checkpoints]]). Same groups, same round count, either
    * way — asserted in `TextDedupSpec` and `CheckpointModeSpec`.
    *
    * Only docs that are in some pair appear. Output: (doc_id, gid).
    *
    * @param maxRounds safety bound only — log₂²(n) rounds suffice, so 50
    *   covers any realistic graph; exceeded ⇒ exception, never truncation.
    */
  def dupGroups(pairs: DataFrame, maxRounds: Int = 50): DataFrame =
    dupGroupsWithRounds(pairs, maxRounds)._1

  /** [[dupGroups]] plus the number of large-star/small-star rounds it took
    * to converge — the observable for the O(log²n) contract (a 50-node
    * chain must finish in a handful of rounds, not 50; asserted in
    * `TextDedupSpec`).
    */
  def dupGroupsWithRounds(
      pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    import graft.util.Checkpoints.checkpoint
    // eager-checkpoint storage is invisible to the CacheManager, so each
    // SUPERSEDED round is released explicitly the moment the next round
    // materializes — storage stays bounded at ~2 rounds of edges instead
    // of every round accumulating until the async ContextCleaner runs.
    // (local mode: unpersist the blocks; reliable mode: delete the
    // round's checkpoint files)
    // canonical edges (u > v), no self-loops
    var (e, releaseE) = checkpoint(pairs
      .select(
        greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct(), eager = true)

    // large-star: every node connects its strictly-larger neighbors to the
    // minimum of its neighborhood (incl. itself). Output stays canonical
    // because emitted edges (w, m) have w > u ≥ m. NO dedup here — the
    // duplicates are absorbed by small-star's min aggregate and final
    // distinct, and skipping it saves one exchange per round.
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: every node connects its smaller neighbors (and itself) to
    // the minimum of those. On canonical edges all neighbors of u under key
    // u are < u, so m = min(neighborhood ∪ {u}) = min(v).
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("u")).agg(min(col("v")).as("m"))
      val nbr = edges.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      nbr.union(mins.select(col("u"), col("m").as("v"))).distinct()
    }

    // convergence witness: (count, ⊕ xxhash64(u,v), ⊕ xxhash64(v,u)) of
    // the edge set — equal tuples ⇒ identical sets up to a ~2⁻¹²⁸ xor
    // collision (vs. an exact except() check, which would cost two more
    // shuffles per round). bit_xor, not sum: ANSI mode makes a sum of
    // 64-bit hashes overflow-fail, while xor cannot overflow. The
    // algorithm provably reaches a fixpoint, so this only decides WHEN to
    // stop.
    def checksum(df: DataFrame): (Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)),
        coalesce(bit_xor(xxhash64(col("v"), col("u"))), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var round = 0
    var prev = checksum(e)
    var converged = prev._1 == 0L // no edges: nothing to contract
    while (round < maxRounds && !converged) {
      round += 1
      val (next, releaseNext) = checkpoint(smallStar(largeStar(e)), eager = true)
      val cur = checksum(next)
      converged = cur == prev
      prev = cur
      releaseE() // `next` is materialized; the old round is unreachable
      e = next
      releaseE = releaseNext
    }
    if (!converged) {
      releaseE() // drop the final round's checkpoint blocks before failing
      throw new IllegalStateException(
        s"dupGroups did not converge within $maxRounds rounds (needs " +
          "~log²(nodes)); raise maxRounds (silent truncation would " +
          "mislabel groups)")
    }
    // observable convergence behavior for production runs (the O(log²n)
    // contract is also locked by a round-count assertion in TextDedupSpec)
    log.info(s"dupGroups converged in $round large-star/small-star rounds " +
      s"(${prev._1} fixpoint edges)")
    // fixpoint = disjoint stars (u → component-min v): non-roots point at
    // their root; roots label themselves
    val groups = e.select(col("u").as("doc_id"), col("v").as("gid"))
      .union(e.select(col("v").as("doc_id"), col("v").as("gid")).distinct())
    // the FINAL round's blocks back the (lazy) result — release them via
    // OpCaches after the caller materializes, like the persisted caches
    graft.util.OpCaches.track(pairs.sparkSession, releaseE)
    (groups, round)
  }

  /** Canonical-representative selection: the production step AFTER
    * grouping — a pipeline doesn't just find duplicate groups, it must
    * decide which member to KEEP. Keeps, per group, the member with the
    * highest [[TextOps.qualityScore]] (lowest doc_id on ties); documents
    * in no group are their own keepers.
    *
    * Scale shape: quality is projected map-side BEFORE anything shuffles
    * (the join and aggregate move (doc_id, gid, q) triples, never text);
    * the per-group argmax is a `max_by` over a (q, −doc_id) ordering
    * struct — a partially-aggregable function, so each map task reduces
    * its groups to one candidate row before the exchange, exactly like a
    * max. The singleton pass-through is a left-anti join on doc_id (no
    * corpus self-join). The ordering struct is a TOTAL order (doc_id is
    * unique), so the argmax is deterministic — no arbitrary-tie hazard.
    *
    * @param docs   (doc_id, text, ...) corpus
    * @param groups (doc_id, gid) membership, e.g. [[dupGroups]] output
    * @return (doc_id, gid, q, n_members) — one keeper row per group plus
    *         one row per singleton (gid = own doc_id, n_members = 1)
    */
  def canonicalDocs(docs: DataFrame, groups: DataFrame): DataFrame = {
    val q = docs.select(
      col("doc_id"),
      (floor(TextOps.qualityScore(col("text")) * 1e6) / 1e6).as("q"))
    val keepers = groups
      .join(q, Seq("doc_id"))
      .groupBy(col("gid"))
      .agg(
        max_by(
          struct(col("doc_id"), col("q")),
          struct(col("q"), -col("doc_id"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(
        col("k.doc_id").as("doc_id"), col("gid"),
        col("k.q").as("q"), col("n_members"))
    val singles = q
      .join(groups.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(
        col("doc_id"), col("doc_id").as("gid"),
        col("q"), lit(1L).as("n_members"))
    keepers.unionByName(singles)
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** Per-doc SimHash fingerprints as a 64-char '0'/'1' string (portable,
    * oracle-checkable), via the single compiled [[graft.expr.SimHashPack]]
    * pass (distinct tokens ⇒ unweighted votes). (doc_id, simhash).
    */
  def simHash(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.expr.SimHashPack
        .bits(array_distinct(TextOps.tokens(col("text"))))
        .as("simhash"))

  /** TF-weighted SimHash: like [[simHash]] but each distinct token's ±1
    * vote is weighted by its occurrence count (term frequency), so a
    * token repeated ten times dominates a hapax — the standard weighted
    * variant (Charikar'02 with tf weights). Same compiled pass over the
    * RAW token array (one vote per occurrence). (doc_id, simhash).
    */
  def simHashWeighted(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.expr.SimHashPack.bits(TextOps.tokens(col("text"))).as("simhash"))

  /** Per-doc SimHash packed as 4 × 16-bit int blocks (the join/hamming
    * representation). (doc_id, blocks ARRAY<INT> of length 4).
    */
  def simHashBlocks(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.expr.SimHashPack
        .blocks(array_distinct(TextOps.tokens(col("text"))))
        .as("blocks"))

  /** SimHash near-dup pairs with hamming distance <= maxDist (< 16): by
    * pigeonhole over 4 16-bit blocks, candidates must match at least one
    * block exactly, so the join is equality-based (scales; no all-pairs).
    * Hamming distance is Σ `bit_count(xor)` over the packed int blocks —
    * 4 integer ops per pair instead of 64 string probes.
    * Output: (d1, d2, hamming).
    */
  def simHashPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < 4, "pigeonhole over 4 blocks guarantees recall only for maxDist < 4")
    // cache: the self-join would otherwise run the fingerprint pass twice
    // (OpCaches-tracked)
    val fp = graft.util.OpCaches.cache(simHashBlocks(docs))
    val exploded = fp.select(
      col("doc_id"),
      col("blocks"),
      posexplode(col("blocks")).as(Seq("blk", "blkval")))
    val hamming = (1 to 4).map { i =>
      bit_count(
        element_at(col("a.blocks"), i).bitwiseXOR(element_at(col("b.blocks"), i)))
    }.reduce(_ + _)
    exploded.as("a")
      .join(exploded.as("b"), Seq("blk", "blkval"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"),
        col("b.doc_id").as("d2"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** [[simHashPairs]] re-keyed for corpus growth: the 4-block pigeonhole
    * joins on 16-bit keys, so bucket space is FIXED at 2^16 per block and
    * candidate pairs grow ~4·n²/2^16 — fine to ~10⁶ docs, quadratic past
    * it. This variant (Manku, Jain, Sarma, "Detecting Near-Duplicates for
    * Web Crawling", WWW'07 §3) splits the SAME 64-bit fingerprint into 6
    * blocks and keys on every 3-block COMBINATION: hamming ≤ 3 flips bits
    * in at most 3 blocks, so at least one of the C(6,3)=20 combinations
    * matches intact — full recall, identical output to [[simHashPairs]],
    * but 33-bit keys ⇒ 2^17× the bucket space (candidates
    * ~20·n²/2^33). The trade is a 20-way explode instead of 4-way: ~5×
    * the shuffled key volume buys the quadratic term five more decades of
    * corpus. Hamming is one `bit_count(xor)` over the packed 64-bit
    * fingerprint. Output: (d1, d2, hamming).
    */
  def simHashPairsCombo(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist < 4,
      "3-of-6-block combination keys guarantee recall only for maxDist < 4")
    // pack the 4 16-bit blocks into one 64-bit fingerprint column (bit
    // layout preserved: block b covers bits [16b, 16b+16) MSB-first)
    val fp64 = (1 to 4).map(i =>
      shiftleft(element_at(col("blocks"), i).cast("long"), 64 - 16 * i))
      .reduce(_.bitwiseOR(_))
    val fp = graft.util.OpCaches.cache(
      simHashBlocks(docs).select(col("doc_id"), fp64.as("fp")))
    // 6 blocks of widths 11,11,11,11,10,10 (any fixed slicing works —
    // equality and xor act on the same layout both sides)
    val widths = Seq(11, 11, 11, 11, 10, 10)
    val shifts = widths.scanLeft(64)(_ - _).tail // 53,42,31,20,10,0
    val block = (j: Int) =>
      shiftrightunsigned(col("fp"), shifts(j))
        .bitwiseAND(lit((1L << widths(j)) - 1))
    val comboKeys = (0 until 6).combinations(3).toSeq.map { c =>
      c.map(block).reduce((a, b) => shiftleft(a, 11).bitwiseOR(b))
    }
    val exploded = fp.select(
      col("doc_id"),
      col("fp"),
      posexplode(array(comboKeys: _*)).as(Seq("combo", "key")))
    exploded.as("a")
      .join(exploded.as("b"), Seq("combo", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"),
        col("b.doc_id").as("d2"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
