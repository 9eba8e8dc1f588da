package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Text-analysis operators for a large-scale training-data pipeline:
  * tokenization, token counting, n-gram shingling, language ID (stopword
  * heuristic), quality scoring, and document fingerprinting.
  *
  * The reference engine has no text surface (its only strings are file
  * paths, SURVEY.md §1.3); these are the data-pipeline extensions the
  * engine needs at 100 TB. Everything here is built from codegen'd
  * built-in functions — no UDFs — so Catalyst can push, prune, and fuse;
  * every operator is deliberately expressible in ANSI SQL for the DuckDB
  * oracle (md5 and regex semantics are identical across engines).
  */
object TextOps {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Normalized text: lowercased, whitespace collapsed to single spaces. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Document fingerprint: md5 of the normalized text. Identical output in
    * DuckDB (`md5(...)`), so exact-dedup results are oracle-checkable.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Token n-gram shingles (distinct not applied here). Empty array when
    * the document has fewer than `n` tokens.
    *
    * CALLER CONTRACT: pass a PROJECTED column (an attribute), not an
    * inline expression like `tokens(col("text"))`. Higher-order
    * functions are not codegen'd and evaluate their lambda per element,
    * so an inline `toks` expression is recomputed for every
    * `element_at` access — re-splitting the whole document per n-gram,
    * an O(tokens²) constant that measured 14× on the bigram head
    * (ProbeNgram: 4.2 s → 0.3 s at sf0.1). Project the token array
    * into a column first; the one materialized array per row is the
    * point.
    */
  def shingles(toks: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    val gram = (i: Column) =>
      concat_ws(" ", (0 until n).map(j => element_at(toks, (i + lit(j + 1)).cast("int"))): _*)
    when(
      size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), gram))
      .otherwise(array().cast("array<string>"))
  }

  /** Small deterministic stopword sets per language for the heuristic
    * language ID. Sets are intentionally tiny and fixed: the operator's
    * contract is determinism + SQL-expressibility, not linguistic accuracy.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "les", "des", "et", "un", "est", "dans", "que"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "ta", "zhe", "ge", "men")
  )

  /** Count of tokens that appear in `set`. */
  def stopwordHits(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(set)))

  /** Heuristic language ID: argmax of per-language stopword hit counts,
    * ties broken by the fixed preference order of [[stopwords]] (en first).
    * Emits the 2-letter code.
    */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val scores = stopwords.map { case (lang, set) => lang -> stopwordHits(t, set) }
    // CASE chain in preference order: lang_i wins iff its score >= all later
    scores.zipWithIndex.foldRight(lit(scores.last._1)) {
      case (((lang, s), i), elseCol) =>
        val laterMax = scores.drop(i + 1).map(_._2)
        if (laterMax.isEmpty) elseCol
        else when(laterMax.foldLeft(lit(true))((acc, o) => acc && s >= o), lang)
          .otherwise(elseCol)
    }
  }

  /** Quality features: (n_chars, n_tokens, avg_token_len, stop_ratio,
    * punct_ratio) — the standard cheap signals for corpus filtering.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val t = tokens(text)
    val nChars = length(text).cast("double")
    val nTokens = size(t).cast("double")
    val noSpace = length(regexp_replace(text, "\\s", "")).cast("double")
    val punct = length(regexp_replace(text, "[a-zA-Z0-9\\s]", "")).cast("double")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "avg_token_len" -> noSpace / nTokens,
      "stop_ratio" -> stopwordHits(t, stopwords.head._2).cast("double") / nTokens,
      "punct_ratio" -> punct / nChars
    )
  }

  /** Scalar quality score in [0,1]: rewards reasonable length, word shape,
    * and stopword presence; penalizes punctuation soup. Deterministic
    * doubles, same formula as the oracle SQL.
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    least(f("n_tokens") / 100.0, lit(1.0)) * 0.3 +
      (lit(1.0) - least(abs(f("avg_token_len") - 5.0) / 10.0, lit(1.0))) * 0.3 +
      least(f("stop_ratio") * 5.0, lit(1.0)) * 0.2 +
      (lit(1.0) - least(f("punct_ratio") * 4.0, lit(1.0))) * 0.2
  }

  /** BPE-ish token count: alpha runs, digit runs, and single punctuation
    * marks each count as one token (the shape a byte-pair-style tokenizer
    * produces for ASCII text, without a merges table). Same regex semantics
    * in Java and RE2, so DuckDB's `regexp_extract_all` is an exact oracle.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Rolling-hash document fingerprint: the minimum md5-prefix integer over
    * all character n-grams — a 1-hash MinHash over character shingles
    * (winnowing's global-min special case). Near-identical documents agree
    * with high probability; portable to DuckDB verbatim.
    */
  def rollingFingerprint(text: Column, n: Int): Column =
    // one compiled pass ([[graft.expr.RollingMinHash]]); the composed
    // higher-order formulation (transform grams → md5 → array_min) was a
    // 3-deep interpreted stack with the normalize regex inlined per gram
    graft.expr.RollingMinHash(normalize(text), n)

  /** Winnowing fingerprints over normalized text (see
    * [[graft.expr.Winnow]]): the position-robust sketch — any shared
    * substring of length >= w+k-1 yields a common fingerprint. Output:
    * exploded (doc_id, fp BIGINT) — order-independent for comparison.
    */
  def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame =
    docs.select(
      col("doc_id"),
      explode(graft.expr.Winnow(normalize(col("text")), k, w)).as("fp"))

  /** PII scrubbing: redact URLs, then emails, then phone-shaped digit
    * runs, in that fixed order (a URL is consumed whole before the email
    * pattern can bite its path). Every training-data pipeline runs a pass
    * like this before publishing a corpus. Patterns use no
    * backreferences, lookarounds, or engine-divergent shorthand — `\s` is
    * avoided on purpose: Java's includes vertical tab `\x0B`, RE2's does
    * not, so the URL boundary is the explicit class `[^ \t\n\f\r]`
    * (identical bytes matched in both engines) and the oracle is
    * `regexp_replace(..., 'g')`.
    *
    * The phone pattern requires >= 8 actual digits (each repetition of
    * the inner group contributes exactly one digit), not just a >= 8-char
    * digit/separator run — prose numerics like "1 000 000" (7 digits)
    * survive, while any real E.164-shaped number (8+ digits) is redacted.
    */
  def scrub(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^ \\t\\n\\f\\r]+", "<URL>")
    val noEmail = regexp_replace(
      noUrl, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(
      noEmail, "\\+?[0-9][ ()-]*(?:[0-9][ ()-]*){6,}[0-9]", "<PHONE>")
  }

  /** Stopword set for the [[extractHtmlMain]] density gate — jusText's
    * signal that a block is prose rather than boilerplate. Tiny and
    * fixed on purpose (same contract as [[Stopwords]]: determinism +
    * SQL-expressibility over linguistic accuracy).
    */
  private val ExtractStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "in", "and", "to", "is", "was", "with",
    "for", "it", "on", "as", "at", "by")

  /** Per-block statistics for HTML main-content extraction: the raw
    * markup is segmented at block-level element CLOSES (script/style
    * subtrees dropped first — their text is code, not content), and
    * each block gets (txt, links, wc, sw): its tag-stripped
    * whitespace-normalized text, anchor count, word count, and
    * stopword count. Three CHAINED `transform`s so each derived value
    * (the tag-strip, the word split) is materialized once per block —
    * a single lambda referencing `txt` three times would re-run the
    * regexp chain per reference (HOFs are uncached; the repo's
    * documented inline-recomputation pitfall).
    *
    * Everything is per-row column expressions: at 100 TB the
    * extraction rides the crawl scan with zero exchanges.
    */
  def htmlBlockStats(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val seg = regexp_replace(noStyle,
      "</(p|div|ul|ol|li|nav|footer|header|aside|section|article|title|" +
        "h[1-6]|table|tr|td|blockquote)>",
      "")
    val raw = transform(split(seg, ""), b =>
      struct(
        trim(regexp_replace(regexp_replace(b, "<[^>]*>", " "),
          "[ \\t\\n\\f\\r]+", " ")).as("txt"),
        (size(split(b, "<a[ >]")) - 1).as("links")))
    val withWords = transform(raw, s =>
      struct(
        s.getField("txt").as("txt"),
        s.getField("links").as("links"),
        split(s.getField("txt"), " ").as("words")))
    transform(withWords, s =>
      struct(
        s.getField("txt").as("txt"),
        s.getField("links").as("links"),
        size(s.getField("words")).as("wc"),
        size(filter(s.getField("words"),
          w => lower(w).isin(ExtractStopwords: _*))).as("sw")))
  }

  /** jusText/trafilatura-shaped HTML main-content extraction — the
    * production ingest stage in front of every text operator here:
    * real pretraining corpora arrive as HTML, and the pipeline's
    * quality/dedup stages assume boilerplate is already gone.
    *
    * A block from [[htmlBlockStats]] is KEPT iff
    *   - `wc >= 5` (headlines/titles/snippets are not content),
    *   - `links * 5 <= wc` (link density <= 0.2 — navigation, related
    *     lists, and footers are link-dominated), and
    *   - `sw * 20 >= wc` OR `wc >= 10` (stopword density >= 5%, the
    *     jusText prose signal, with a length escape so terse technical
    *     prose is not dropped — the synthetic corpus has documents
    *     with zero stopwords).
    * Both density gates are integer cross-multiplications, so the
    * keep/drop decision is bit-deterministic (no float division).
    * Kept blocks join in document order with single spaces.
    */
  def extractHtmlMain(html: Column): Column = {
    val kept = filter(htmlBlockStats(html), s =>
      s.getField("wc") >= 5 &&
        s.getField("links") * 5 <= s.getField("wc") &&
        (s.getField("sw") * 20 >= s.getField("wc") ||
          s.getField("wc") >= 10))
    array_join(transform(kept, s => s.getField("txt")), " ")
  }

  /** Gopher-style repetition signals per document: `top_tok_ratio` (the
    * fraction of all tokens taken by the single most frequent token) and
    * `distinct_ratio` (distinct/total tokens) — the standard cheap
    * repetition filters for corpus quality.
    *
    * Computed DISTRIBUTED (explode → per-token count → one aggregate),
    * not as per-row higher-order functions: a pathological 10⁶-token
    * document costs a shuffle of its token counts, not an O(n²)
    * in-row scan pinned to one task. Output: (doc_id, top_tok_ratio,
    * distinct_ratio, n_tokens).
    */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        (max(col("c")) / sum(col("c"))).as("top_tok_ratio"),
        (count(lit(1)) / sum(col("c"))).as("distinct_ratio"),
        sum(col("c")).as("n_tokens"))

  /** Per-document token-repetition verdict, computed IN-ROW in one pass:
    * sort the token array so equal tokens are adjacent, then a single
    * linear `aggregate` tracks (previous token, current run, best run,
    * distinct count, total count) — best run = the top token's frequency,
    * so `top_tok_ratio = best/total` and `distinct_ratio = distinct/total`
    * exactly equal the exploded [[repetitionSignals]] values. The three
    * quality conditions are folded into the aggregate's FINISH lambda so
    * the whole verdict is ONE expression evaluated once per row —
    * referencing a struct-of-stats column from a separate Filter would let
    * predicate pushdown inline (and re-evaluate) the aggregate per
    * condition, the repo's documented CollapseProject pitfall.
    *
    * `total >= 1` always holds for non-null text (`split` returns at least
    * one element), so the ANSI-mode divisions cannot hit zero; null text
    * yields a null verdict, which `filter` drops — matching the exploded
    * formulation.
    */
  def qualityKeep(
      text: Column,
      maxTopTokRatio: Double,
      minDistinctRatio: Double,
      minTokens: Long): Column =
    aggregate(
      array_sort(tokens(text)),
      struct(
        lit(null).cast("string").as("prev"),
        lit(0L).as("run"),
        lit(0L).as("best"),
        lit(0L).as("distinct"),
        lit(0L).as("total")),
      (acc, t) => {
        // null prev (first element): === is null -> otherwise(1) starts a run
        val newRun = when(acc("prev") === t, acc("run") + 1).otherwise(lit(1L))
        struct(
          t.as("prev"),
          newRun.as("run"),
          greatest(acc("best"), newRun).as("best"),
          (acc("distinct") +
            when(acc("prev").eqNullSafe(t), lit(0L)).otherwise(lit(1L)))
            .as("distinct"),
          (acc("total") + lit(1L)).as("total"))
      },
      acc =>
        acc("best") / acc("total") < maxTopTokRatio &&
          acc("distinct") / acc("total") > minDistinctRatio &&
          acc("total") >= minTokens)

  /** Gopher-style quality filter: keep documents whose repetition signals
    * pass the standard corpus-quality rules — the single most frequent
    * token takes under `maxTopTokRatio` of all tokens, the distinct-token
    * ratio exceeds `minDistinctRatio`, and the document carries at least
    * `minTokens` tokens. This is the pre-dedup gate a production corpus
    * pipeline runs daily (repetitive / boilerplate / too-short documents
    * are cheap to drop BEFORE paying shingle + LSH cost on them).
    *
    * Scale: ONE `documents` scan and ZERO shuffle — the verdict is a
    * per-row expression ([[qualityKeep]]), so at 100 TB the full text is
    * read exactly once and nothing is exchanged. (The previous shape —
    * [[repetitionSignals]] + left-semi join — shuffled every (doc_id,
    * token) pair and re-scanned `documents` for the survivor projection;
    * the in-row sorted-run pass trades that I/O for an O(n log n)
    * per-document sort, the right trade for document-sized rows.)
    */
  def qualityFilter(
      docs: DataFrame,
      maxTopTokRatio: Double,
      minDistinctRatio: Double,
      minTokens: Long): DataFrame =
    docs.filter(
      qualityKeep(col("text"), maxTopTokRatio, minDistinctRatio, minTokens))

  /** Deterministic split bucket in [0, 10): the first 8 hex digits of
    * md5(id) mod 10. Hash-based (not `rand(seed)`-based) sampling is the
    * reproducible-split idiom for training corpora: the assignment is a
    * pure function of the id, so it is STABLE across runs, partitionings,
    * shuffles, and engines — DuckDB computes the identical bucket from
    * the identical md5.
    */
  def splitBucket(id: Column): Column =
    conv(md5(id.cast("string")).substr(1, 8), 16, 10).cast("long") % 10

  /** Named train/val/test assignment from [[splitBucket]]: 80/10/10. */
  def assignSplit(id: Column): Column = {
    val b = splitBucket(id)
    when(b < 8, "train").when(b === 8, "val").otherwise("test")
  }

  /** Cross-split LEAKAGE check: near-dup pairs whose two documents land in
    * DIFFERENT train/val/test splits — the audit every training pipeline
    * needs before trusting eval numbers, because a random or hash split
    * assigns near-identical documents independently, so a corpus with any
    * duplication leaks train text into test by construction. (The fix is
    * to dedup BEFORE splitting, or split by duplicate-group id; this
    * operator is the detector that proves whether that happened.)
    *
    * Composition: exact-Jaccard near-dup pairs
    * ([[graft.dedup.Dedup.jaccardPairsKeys]] — inverted index +
    * stop-shingle cut, no all-pairs work) joined to the id-pure split
    * assignment. The split side reads NO text (it is a projection of
    * doc_id only), so the audit costs one near-dup pass plus two
    * key-only joins against the (small) pair set.
    *
    * The entry point shingles `docs` once and holds the (doc_id, keys)
    * frame behind a lazy checkpoint ([[graft.dedup.Dedup.keyBarrier]]),
    * which the pair body reads several times; [[splitLeakageKeys]] is the
    * body, for callers that already hold the keys (the e2e pipeline
    * shares one key pass with its near-dedup).
    *
    * Output: (d1, d2, split1, split2, jac) with split1 != split2.
    */
  def splitLeakage(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame =
    splitLeakageKeys(graft.dedup.Dedup.keyBarrier(docs, n), threshold, maxShingleDf)

  /** [[splitLeakage]] over a materialized (doc_id, keys) frame; other
    * columns are ignored. Nothing is cached here.
    */
  def splitLeakageKeys(
      keys: DataFrame,
      threshold: Double,
      maxShingleDf: Option[Long] = None): DataFrame = {
    val pairs = graft.dedup.Dedup.jaccardPairsKeys(keys, threshold, maxShingleDf)
    // the split labels stay a JOIN against a docs-side label frame, NOT
    // per-row assignSplit(d1/d2) expressions on the pair set: measured in
    // r19, Catalyst pushes a deterministic filter over pair ids below the
    // pair aggregate INTO the shingle self-join, evaluating two
    // md5-per-row splits on every co-occurrence row (millions) instead of
    // every verified pair — 2.8 s → 6.6 s. The joins touch only the
    // O(pairs) rows.
    val splits = keys.select(col("doc_id"), assignSplit(col("doc_id")).as("split"))
    pairs
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split1")), "d1")
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split2")), "d2")
      .filter(col("split1") =!= col("split2"))
      .select(col("d1"), col("d2"), col("split1"), col("split2"), col("jac"))
  }

  /** Per-document n-gram NOVELTY against the train split — the
    * train–test overlap metric of Gopher/PaLM-style contamination
    * reports: for each val/test document, the fraction of its DISTINCT
    * token n-grams that appear in NO train document. [[splitLeakage]]
    * finds near-dup PAIRS; this scores EVERY eval document, including
    * diffuse contamination spread across many train docs where no
    * single pair ever crosses a Jaccard threshold.
    *
    * Plan shape: the per-doc distinct folds ROW-side
    * (`array_distinct` over the [[graft.dedup.Dedup.docShingleKeys]]
    * 62-bit keys — no (doc_id, shash) distinct shuffle); the train key
    * set is one distinct over train shingles; membership is a shash
    * equi-join (left join + null test) feeding a partial+final count
    * aggregate. Two shuffles total, both linear in token volume. For a
    * train side too large to shuffle comfortably, the containment
    * family's sized-Bloom prefilter is the drop-in scale path (novelty
    * becomes a lower bound within the filter's FP rate).
    *
    * Output: (doc_id, split, n_shingles, novel, novelty) for val/test
    * docs with >= 1 shingle.
    */
  def ngramNovelty(docs: DataFrame, n: Int): DataFrame = {
    import graft.dedup.Dedup
    // cached: the exploded key stream feeds both the train key set and
    // the eval probe side
    val keyed = graft.util.OpCaches.cache(
      Dedup.docShingleKeys(docs, n)
        .select(col("doc_id"),
          explode(array_distinct(transform(col("keys"),
            k => k.getField("u") * Dedup.MinHashP + k.getField("v"))))
            .as("shash"))
        .withColumn("split", assignSplit(col("doc_id"))))
    val trainKeys = keyed.filter(col("split") === "train")
      .select(col("shash")).distinct()
    keyed.filter(col("split") =!= "train")
      .join(trainKeys.withColumn("_hit", lit(1)), Seq("shash"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("novel"))
      .withColumn("novelty", round(col("novel") / col("n_shingles"), 6))
  }

  /** [[splitLeakage]] at CORPUS scale: the same cross-split near-dup
    * audit, but candidate pairs come from the MinHash+LSH banded bucket
    * join ([[graft.dedup.Dedup.nearDedup]]'s shared shingle pass) instead
    * of the exact inverted-index self-join — at 100 TB the exact path's
    * shingle self-join is quadratic in bucket occupancy even with a
    * stop-shingle cap, while the banded join stays ~linear. Candidates
    * are filtered to CROSS-SPLIT pairs before the exact-Jaccard verify
    * (the split is a pure hash of doc_id, so the filter is a per-row
    * expression on the candidate ids — no join, and same-split pairs
    * never pay verification).
    *
    * Output: (d1, d2, split1, split2, jac) — the [[splitLeakage]] shape;
    * recall is the LSH capture probability 1-(1-J^r)^b per pair instead
    * of the exact path's 1.0 (the standard audit-at-scale trade).
    */
  def splitLeakageLsh(
      docs: DataFrame,
      n: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    import graft.dedup.Dedup
    // ONE shingle-key pass shared by signatures and the Jaccard verify;
    // each side of the bucket self-join derives its buckets from it
    val keys = graft.util.OpCaches.cache(Dedup.docShingleKeys(docs, n))
    val sigs = keys
      .filter(size(col("keys")) > 0)
      .select(
        col("doc_id"),
        graft.expr.MinHashSignature(col("keys"), numHashes).as("sig"))
    val crossSplit = Dedup.bucketCandidates(
      Dedup.lshBuckets(sigs, bands, numHashes / bands))
      .filter(assignSplit(col("d1")) =!= assignSplit(col("d2")))
    Dedup.verifyJaccardKeys(keys, crossSplit, threshold)
      .select(
        col("d1"),
        col("d2"),
        assignSplit(col("d1")).as("split1"),
        assignSplit(col("d2")).as("split2"),
        col("jac"))
  }

  /** Deterministic uniform draw in [0, 1): the first 8 md5 hex digits of
    * `salt:id`, divided by 2³². Pure function of the id — stable across
    * runs, partitionings, and engines (DuckDB computes the identical
    * value: both the 32-bit integer and the power-of-two division are
    * exact doubles). Distinct salts give independent draws, so sampling
    * decisions never correlate with the [[splitBucket]] assignment.
    */
  def hashUniform(id: Column, salt: String): Column =
    conv(md5(concat(lit(salt + ":"), id.cast("string"))).substr(1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Quality-weighted deterministic sampling: keep a document with
    * probability equal to its (truncated) quality score — the standard
    * quality-proportional resampling step of a pretraining pipeline, made
    * REPRODUCIBLE by replacing `rand()` with [[hashUniform]] (a re-run,
    * a different partitioning, or a different engine keeps exactly the
    * same documents). One scan, per-row expressions only, no shuffle.
    *
    * The comparison uses the 6-decimal-truncated score (the same value
    * [[analyze]] emits) so the keep decision is bit-identical across
    * engines rather than hanging on the last ulp of a double.
    *
    * Output: (doc_id, q, u) for kept docs, u < q.
    */
  def qualitySample(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q"),
        hashUniform(col("doc_id"), "smp").as("u"))
      .filter(col("u") < col("q"))

  /** Deterministic source mixing to target proportions WITHOUT
    * upsampling: the output is the largest corpus whose source shares
    * match `shares`, obtained by downsampling every source to rate
    * `share_s · M / n_s` where `M = min_s(n_s / share_s)` is the total
    * size at which the scarcest source is fully consumed. The data-mixing
    * step of a pretraining pipeline (domain reweighting), with
    * [[hashUniform]] thresholding instead of `rand()` so membership is
    * reproducible.
    *
    * Scale shape: per-source counts are ONE corpus aggregation whose
    * O(#sources) result is collected to the driver (the rate arithmetic
    * is a handful of scalars — leaving it as an uncached DataFrame
    * consumed twice re-ran the corpus count scan per consumer); the rate
    * table re-enters the plan as a broadcast literal, and the keep pass
    * is a single corpus scan with a per-row threshold — two corpus scans
    * total, no sort, no corpus shuffle. Hash thresholding is within
    * ±O(√n) of target counts; [[sourceMixExact]] trades one extra
    * exchange for exactness.
    *
    * Sources missing from `shares` are dropped; a LISTED source absent
    * from the corpus simply doesn't constrain M (rates are computed over
    * the sources present), so the caller should validate coverage when
    * the share map is authoritative. Output: the kept docs (all input
    * columns).
    */
  def sourceMix(docs: DataFrame, shares: Map[String, Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rates = sourceCounts(docs, shares) match {
      case counts if counts.isEmpty => Seq.empty[(String, Double)]
      case counts =>
        val m = counts.map { case (s, cnt) => cnt / shares(s) }.min
        counts.map { case (s, cnt) =>
          s -> math.min(1.0, shares(s) * m / cnt)
        }
    }
    docs
      .join(broadcast(rates.toDF("source", "rate")), Seq("source"))
      .filter(hashUniform(col("doc_id"), "mix") < col("rate"))
      .drop("rate")
  }

  /** EXACT-count source mixing: like [[sourceMix]] but every source
    * keeps exactly ⌊share_s · M⌋ documents (M = min_s(n_s / share_s)),
    * selected as the per-source ⌊share·M⌋ lowest [[hashUniform]] draws
    * (doc_id tiebreak) — still a pure function of the ids, so membership
    * is reproducible across runs, partitionings, and engines. Some
    * reweighting recipes need counts exact rather than ±O(√n).
    *
    * Cost of exactness: one extra exchange — a per-source `row_number`
    * window, i.e. a hash partition by source plus a per-source sort. A
    * source holding most of a 100 TB corpus serializes its sort through
    * one partition, so at extreme scale prefer [[sourceMix]] unless
    * exact counts are a hard requirement. Output: the kept docs (all
    * input columns).
    */
  def sourceMixExact(docs: DataFrame, shares: Map[String, Double]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = sourceCounts(docs, shares) match {
      case counts if counts.isEmpty => Seq.empty[(String, Long)]
      case counts =>
        val m = counts.map { case (s, cnt) => cnt / shares(s) }.min
        counts.map { case (s, _) => s -> math.floor(shares(s) * m).toLong }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(hashUniform(col("doc_id"), "mix"), col("doc_id"))
    docs
      .join(broadcast(targets.toDF("source", "tgt")), Seq("source"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("tgt"))
      .drop("rn", "tgt")
  }

  /** Per-source corpus counts for the sources listed in `shares` — one
    * aggregation, O(#sources) rows collected (the shared first step of
    * [[sourceMix]] / [[sourceMixExact]]).
    */
  private def sourceCounts(
      docs: DataFrame,
      shares: Map[String, Double]): Seq[(String, Long)] = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive")
    docs
      .filter(col("source").isInCollection(shares.keys.toSeq))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toSeq
  }

  /** Token-budget corpus selection: the "fill a B-token training budget
    * with the best documents" step — greedily keep documents in
    * (quality desc, doc_id asc) order until the running token total
    * reaches `budgetTokens` (the last kept document may overshoot; its
    * prefix-before-it is < B). Quality is the 6-decimal-truncated
    * [[qualityScore]] and tokens the whitespace [[tokenCount]], so the
    * keep set is a pure deterministic function of the corpus.
    *
    * Scale shape — a global ordered prefix sum WITHOUT a global sort
    * serialized through one partition (the [[graft.kmeans.Ops.splitContiguous]]
    * discipline): range-partition on the selection order, collect ONE
    * O(#partitions) row of per-partition token sums, broadcast the
    * exclusive offsets back as a literal map, and run the cumulative-sum
    * window per partition (range disjointness makes offset + local
    * cumsum the global cumsum). Partitions whose start offset already
    * meets the budget are dropped BEFORE the window — selecting a 1T-token
    * mix from a 100 TB corpus sorts only the ~budget-sized prefix, not
    * the corpus.
    *
    * Output: (doc_id, q, n_tokens, cum_tokens) for kept docs,
    * cum_tokens the inclusive global running total.
    */
  def tokenBudgetSelect(docs: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(
      col("doc_id"),
      (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    // OpCaches-tracked: the per-partition sums collect and the returned
    // plan must see the SAME (sample-based) range partitioning
    val ranged = graft.util.OpCaches.cache(
      scored
        .repartitionByRange(col("q").desc, col("doc_id").asc)
        .withColumn("_pidx", spark_partition_id()))
    val sums = ranged.groupBy(col("_pidx"))
      .agg(sum(col("n_tokens")).as("s"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    if (sums.isEmpty)
      return scored.withColumn("cum_tokens", col("n_tokens")).limit(0)
    var acc = 0L
    val offsets = sums.map { case (p, s) => val o = (p, acc); acc += s; o }
    val offsetCol = element_at(
      map(offsets.flatMap { case (p, o) => Seq(lit(p), lit(o)) }
        .toIndexedSeq: _*),
      col("_pidx"))
    val w = Window.partitionBy(col("_pidx"))
      .orderBy(col("q").desc, col("doc_id"))
    ranged
      // partition-level prune: a partition starting at >= B holds no row
      // with prefix-before-it < B (its rows' prefixes all start there)
      .filter(offsetCol < budgetTokens)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w) + offsetCol)
      .filter(col("cum_tokens") - col("n_tokens") < budgetTokens)
      .drop("_pidx")
  }

  /** Token-budget SOURCE MIX: compose a training mix of ~`budgetTokens`
    * total at target source `shares`, filling each source's
    * ⌊share·B⌋-token slice greedily by quality — the token-denominated
    * sibling of [[sourceMixExact]] (domain reweighting recipes quote
    * token budgets, not document counts; GLaM/LLaMA-style mixture specs).
    * Per source, documents are kept in (quality desc, doc_id asc) order
    * while the source-local running total BEFORE the doc is under its
    * slice — so every listed source lands within one document of its
    * budget (sources lacking enough tokens are exhausted; no upsampling).
    * Sources missing from `shares` are dropped.
    *
    * Cost shape: one broadcast of the O(#sources) budget table and ONE
    * exchange — a per-source cumulative-sum window (hash partition by
    * source + per-source sort). Like [[sourceMixExact]], a source holding
    * most of the corpus serializes its sort through one partition; at
    * extreme scale run [[tokenBudgetSelect]] per source slice instead
    * (same output per source, range-partitioned prefix sum).
    *
    * Output: (doc_id, source, q, n_tokens, cum_tokens) for kept docs,
    * cum_tokens the inclusive source-local running total.
    */
  def tokenBudgetMix(
      docs: DataFrame,
      shares: Map[String, Double],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val budgets = shares.toSeq.sortBy(_._1)
      .map { case (s, sh) => (s, math.floor(sh * budgetTokens).toLong) }
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id"))
    docs
      .select(
        col("doc_id"), col("source"),
        (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .join(broadcast(budgets.toDF("source", "tgt")), Seq("source"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < col("tgt"))
      .drop("tgt")
  }

  /** [[tokenBudgetMix]] WITH UPSAMPLING, epoch-capped — the
    * data-constrained mixture step (training recipes repeat small
    * high-quality sources rather than starve their share; Muennighoff
    * et al. NeurIPS'23 find value in up to ~4 such epochs). Each
    * source's ⌊share·B⌋-token slice fills in (epoch ASC, quality DESC,
    * doc_id ASC) order: one full quality-ordered pass over the source,
    * then an identical second pass, … up to the source's `maxEpochs`
    * cap — so no document enters epoch e+1 before every document of
    * epoch e, a source that fills its slice in one pass never repeats,
    * and a source too small for its slice even at the cap exhausts
    * there (the cap is the anti-overfitting guard; it is never exceeded
    * no matter how underfilled the slice).
    *
    * Scale shape: the epoch fan-out explodes only the SCORED projection
    * (doc_id, q, n_tokens — never text), and its width is SIZED per
    * source from one O(#sources) totals aggregate — epoch e can
    * contribute only while e·T_s < tgt_s (every epoch-e row's running
    * prefix starts at e·T_s), so each source explodes to
    * min(maxEpochs, ⌈tgt/T⌉) copies, never a blanket corpus×maxEpochs
    * exchange. The prune is semantics-free (dropped epochs could never
    * be kept), so the oracle states the unpruned form. One per-source
    * cumsum window, same caveat as [[tokenBudgetMix]] at extreme scale.
    *
    * Output: (doc_id, source, epoch, q, n_tokens, cum_tokens),
    * cum_tokens the inclusive source-local running total across epochs.
    */
  def tokenBudgetMixEpochs(
      docs: DataFrame,
      shares: Map[String, Double],
      maxEpochs: Map[String, Int],
      budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      "shares must be positive")
    require(shares.keySet.forall(s => maxEpochs.getOrElse(s, 1) >= 1),
      "maxEpochs must be >= 1 for every share source")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = graft.util.OpCaches.cache(docs
      .filter(col("source").isInCollection(shares.keys.toSeq))
      .select(
        col("doc_id"), col("source"),
        (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q"),
        tokenCount(col("text")).cast("long").as("n_tokens")))
    // O(#sources) sizing aggregate: epochs that can still contribute
    val totals = scored.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plan = shares.toSeq.sortBy(_._1).map { case (s, sh) =>
      val tgt = math.floor(sh * budgetTokens).toLong
      val cap = maxEpochs.getOrElse(s, 1)
      val t = totals.getOrElse(s, 0L)
      val needed =
        if (t <= 0L) 1L else math.min(cap.toLong, (tgt + t - 1) / t)
      (s, tgt, math.max(1L, needed))
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(col("epoch"), col("q").desc, col("doc_id"))
    scored
      .join(broadcast(plan.toDF("source", "tgt", "eps")), Seq("source"))
      .withColumn("epoch", explode(sequence(lit(0L), col("eps") - 1L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < col("tgt"))
      .select(col("doc_id"), col("source"), col("epoch"), col("q"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** Overlapping fixed-token document chunking — the retrieval-indexing
    * / context-window prep step ([[packSequences]] packs WHOLE docs into
    * training bins; this SPLITS each doc into `chunkTokens`-token
    * windows every `chunkTokens − overlap` tokens, so consecutive
    * chunks share `overlap` tokens and no span longer than the stride
    * is ever split across a chunk boundary without also appearing
    * intact in one chunk). Chunk starts are `0, stride, 2·stride, …`
    * while < the token count, so every document — including one
    * shorter than a chunk — emits at least one chunk and every token
    * lands in ≥ 1 chunk.
    *
    * Scale shape: ONE narrow pass — tokenize, per-row `sequence` of
    * starts, explode, per-row `slice`+`array_join` — no exchange at
    * all (the operator is embarrassingly row-parallel; output rows ≈
    * tokens/stride per doc). Deterministic pure function of the text,
    * so DuckDB re-derives it exactly.
    *
    * Output: (doc_id, chunk_id, chunk_text, n_tokens), chunk_id the
    * 0-based window index, n_tokens the actual (≤ chunkTokens) size of
    * the possibly-short final chunk.
    */
  def chunkDocuments(
      docs: DataFrame,
      chunkTokens: Int,
      overlap: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(
          lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(stride)))
          .as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_id"),
        array_join(slice(col("toks"), col("start") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"),
        least(size(col("toks")) - col("start"), lit(chunkTokens))
          .cast("long").as("n_tokens"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * sequences by concat-then-chunk — documents are laid out in doc_id
    * order within a shard and each starts in bin
    * `⌊(running_tokens_before_it) / budget⌋`. Packing is per-SHARD
    * (shard = md5-hash of id mod `shards`), which is how distributed
    * pretraining prep actually packs: each shard is an independent
    * ordered stream, so the cumulative-sum window parallelizes across
    * shards instead of serializing the corpus through one global sort.
    *
    * Output: (doc_id, shard, bin, n_tokens) — one row per document.
    */
  def packSequences(docs: DataFrame, budget: Long, shards: Int): DataFrame =
    packSequencesCounts(
      docs.select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens")),
      budget, shards)

  /** The packing core behind [[packSequences]] over PRE-COMPUTED per-doc
    * token counts `(doc_id, n_tokens)` — the count source (regex
    * counter, fitted BPE vocab, a served tokenizer) is the caller's
    * choice; the shard draw, running sum, and binning are identical.
    */
  def packSequencesCounts(
      counts: DataFrame, budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val shard =
      conv(md5(concat(lit("shard:"), col("doc_id").cast("string"))).substr(1, 8),
        16, 10).cast("long") % shards
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .select(col("doc_id"), shard.as("shard"), col("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $budget"))
      .select(col("doc_id"), col("shard"), col("bin"), col("n_tokens"))
  }

  /** BOUNDARY-SPLITTING sequence packing — the form pretraining ingestion
    * actually runs (GPT-style concat-then-chunk): each shard's documents
    * concatenate into one token stream in doc_id order and the stream is
    * cut into sequences of EXACTLY `budget` tokens, so a document
    * crossing a boundary contributes a chunk to each bin it spans —
    * unlike [[packSequences]], which assigns whole documents and leaves
    * bins ragged. Output: one row per (document, bin) overlap —
    * (doc_id, shard, bin, off, len) where `off` is the chunk's 0-based
    * token offset WITHIN the document and `len` its token count;
    * Σ len per doc = the doc's tokens, Σ len per bin = budget for every
    * bin except each shard's last. Token-less documents contribute no
    * chunk (nothing to emit into the stream).
    *
    * Scale shape: identical to [[packSequences]] up to the running sum
    * (one hash exchange on the id-pure shard draw + a per-shard window,
    * no global sort); the chunk fan-out is a Generate of
    * ⌈n_tokens/budget⌉+1 ≤ bins-per-doc rows — linear in token volume,
    * and pure INTEGER arithmetic end to end (floor divisions of longs),
    * so any engine derives identical chunks.
    */
  def packSequencesSplit(
      docs: DataFrame, budget: Long, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0, "budget and shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val shard =
      conv(md5(concat(lit("shard:"), col("doc_id").cast("string"))).substr(1, 8),
        16, 10).cast("long") % shards
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(
        col("doc_id"),
        shard.as("shard"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .filter(col("n_tokens") > 0)
      .withColumn("s", col("cum") - col("n_tokens"))
      .withColumn("bin", explode(sequence(
        expr(s"s div $budget"), expr(s"(cum - 1) div $budget"))))
      .select(
        col("doc_id"), col("shard"), col("bin"),
        (greatest(col("s"), col("bin") * budget) - col("s")).as("off"),
        (least(col("cum"), (col("bin") + 1) * budget) -
          greatest(col("s"), col("bin") * budget)).as("len"))
  }

  /** [[packSequences]] under the FITTED BPE vocabulary: per-doc token
    * counts come from the fitted dictionary join ([[bpeApplyCountsWith]]
    * — a corpus word's post-merge token count is `size(syms)` in the
    * dict), never from a per-row re-derivation, and never from the
    * regex placeholder counter — real pipelines pack training sequences
    * with the PRODUCTION tokenizer, and a vocab with different
    * fertility changes every bin boundary. Wordless documents pack as
    * 0-token rows (left join + coalesce), matching [[packSequences]]'s
    * every-doc-gets-a-row contract.
    */
  def packSequencesBpe(
      docs: DataFrame, dict: DataFrame, budget: Long, shards: Int): DataFrame = {
    val counts = docs.select(col("doc_id"))
      .join(bpeApplyCountsWith(docs, dict)
          .withColumnRenamed("bpe_fit_tokens", "n_tokens"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
    packSequencesCounts(counts, budget, shards)
  }

  /** Shard count for [[packSequences]] sized from the corpus itself:
    * ceil(total corpus tokens / targetTokensPerShard). Each shard's
    * running sum is a single-task sort, so a FIXED shard count is the
    * same trap occupancy-sized LSH exists to avoid — at 100× the corpus
    * each shard's sort is 100× bigger. Deriving shards from one token
    * aggregate holds per-shard token mass at ~targetTokensPerShard
    * regardless of corpus size. One corpus scan (sum of token counts,
    * single-row collect), mirroring `Similarity.sizedBitsPerBand`.
    */
  def sizedShards(docs: DataFrame, targetTokensPerShard: Long): Int = {
    require(targetTokensPerShard > 0, "targetTokensPerShard must be positive")
    val total = docs
      .agg(coalesce(sum(tokenCount(col("text")).cast("long")), lit(0L)))
      .collect()(0).getLong(0)
    // integer ceil — reproducible verbatim in the oracle SQL
    math.max(1L, (total + targetTokensPerShard - 1) / targetTokensPerShard).toInt
  }

  /** [[packSequences]] with the shard count derived by [[sizedShards]] —
    * the deployed form: per-shard token mass (and thus the single-task
    * sort each shard pays) stays ~targetTokensPerShard as the corpus
    * grows, instead of growing linearly with it.
    */
  def packSequencesSized(
      docs: DataFrame,
      budget: Long,
      targetTokensPerShard: Long): DataFrame =
    packSequences(docs, budget, sizedShards(docs, targetTokensPerShard))

  /** Deterministic global training-order shuffle into shards: every
    * document draws a [[hashUniform]] position, lands in shard
    * ⌊u·shards⌋, and takes its rank within the shard under (u, doc_id)
    * order — the "shuffle the corpus once, write S shard files, readers
    * stream them round-robin" step every pretraining run needs between
    * prep and ingestion. Replacing `rand()` with the id-pure hash makes
    * the ORDER itself reproducible: a re-run, a different partitioning,
    * or a different engine shuffles the corpus into exactly the same
    * sequence (and an appended corpus leaves old docs' draws unchanged).
    *
    * Scale shape: one scan + one hash exchange on `shard` + a per-shard
    * sort for the rank — no global sort, no single-task order-by; shards
    * must scale with the corpus for the per-shard sorts to stay bounded
    * ([[shuffleShardsSized]]). Output: (doc_id, shard, pos), pos 1-based
    * within shard.
    */
  def shuffleShards(docs: DataFrame, shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("u"), col("doc_id"))
    docs
      .select(col("doc_id"), hashUniform(col("doc_id"), "shuf").as("u"))
      .withColumn("shard", floor(col("u") * shards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** [[shuffleShards]] with the shard count derived from a corpus count
    * at a target docs-per-shard (⌈n / targetDocsPerShard⌉) — per-shard
    * sort mass stays ~targetDocsPerShard as the corpus grows. Same
    * integer-exact sizing discipline as [[sizedShards]].
    */
  def shuffleShardsSized(
      docs: DataFrame,
      targetDocsPerShard: Long = 1000000L): DataFrame = {
    require(targetDocsPerShard > 0, "targetDocsPerShard must be positive")
    val n = docs.count()
    shuffleShards(docs,
      math.max(1L, (n + targetDocsPerShard - 1) / targetDocsPerShard).toInt)
  }

  /** BM25 top-k keyword search (Robertson/Spärck Jones; the Lucene
    * `k1`/`b` parameterization with the +1-smoothed idf): score every
    * document holding at least one query term and return the `k` best.
    * The retrieval half of a RAG / corpus-inspection stack, run straight
    * on the documents table — no external index.
    *
    * Scale shape: ONE corpus scan projects (doc_id, dl, query-term hits)
    * — the `isInCollection` membership test prunes the posting explode to
    * O(matches), never materializing the full inverted index; corpus
    * count and total length reduce off that same cached projection; the
    * per-term document frequencies are an O(#terms) aggregate joined back
    * as a broadcast; and the final top-k is TakeOrdered (per-partition
    * heaps + driver merge of k rows), not a global sort. Shuffled bytes:
    * (doc_id, term, tf) for matching docs only.
    *
    * Scoring is floor-truncated to 6 decimals (the library's cross-engine
    * determinism discipline — see [[analyze]]); ties rank by ascending
    * doc_id. Output: (doc_id, score), best first.
    */
  def bm25TopK(
      docs: DataFrame,
      queryTerms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    val terms = queryTerms.distinct
    // cache: the stats aggregate, the tf explode, and nothing else read
    // the corpus — text is scanned exactly once; OpCaches-tracked
    val base = graft.util.OpCaches.cache(
      docs
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(
          col("doc_id"),
          size(col("t")).cast("long").as("dl"),
          filter(col("t"), x => x.isInCollection(terms)).as("qt")))
    // N and avgdl from exact integer sums (one scalar row): integer
    // summation is order-independent, so avgdl = sum/count is the SAME
    // double in any engine — an avg() of doubles would not be
    val stats = base.agg(count(lit(1)), sum(col("dl"))).collect()(0)
    val n = stats.getLong(0)
    val avgdl =
      if (n == 0L) 1.0 else stats.getLong(1).toDouble / n.toDouble
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("qt")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
      .withColumn("idf",
        log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    tf.join(broadcast(dfreq.select(col("term"), col("idf"))), Seq("term"))
      .withColumn("w",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
      .groupBy(col("doc_id"))
      // per-doc weights folded in LEXICAL TERM ORDER, not sum(): double
      // addition is order-sensitive and sum()'s partial-aggregation order
      // is partitioning-dependent — the sorted left fold makes the score
      // bit-deterministic across runs, partitionings, and engines
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")).as("raw"))
      .select(col("doc_id"), (floor(col("raw") * 1e6) / 1e6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Persist a BM25 postings index for [[bm25TopKFromStore]] — the
    * build-once/search-many shape of keyword retrieval, mirroring the
    * signature store ([[graft.dedup.Dedup.writeSignatureStore]]) and the
    * IVF store ([[graft.sim.Similarity.writeIvfIndex]]): [[bm25TopK]]
    * re-tokenizes the whole corpus on EVERY query batch, which a search
    * service pays per call; this pays it once.
    *
    * Layout at `path`:
    *   - `postings/` — (doc_id, dl, term, tf), the full inverted index,
    *     partitioned by `tbucket = pmod(hash(term), nBuckets)`: a query
    *     prunes to the few buckets its terms hash into (partition-level
    *     file pruning). The bucket count is derived from the index
    *     itself, ⌈postings rows / targetFileRows⌉
    *     ([[graft.util.SegmentStore.fileCount]], the compactor's rule),
    *     so directories and write tasks grow with the postings, never
    *     with the vocabulary, and a small corpus is one bucket.
    *   - `terms/`    — (term, df), same bucketing.
    *   - `stats/`    — (n, sum_dl, n_buckets) rows of exact integer
    *     sums, so query time derives the identical avgdl double the
    *     inline path computes. The store is LOG-STRUCTURED: each
    *     [[appendToBm25Index]] batch adds a stats segment row and
    *     per-term df deltas, and readers sum them — so `stats/` and
    *     `terms/` are multisets of contributions, not snapshots.
    *     `n_buckets` rides in stats so append and query derive the
    *     writer's bucketing from the store itself (a mis-passed bucket
    *     count cannot silently mis-prune).
    *
    * One corpus text scan builds all three: one collect over the cached
    * tokenized corpus gives n, Σdl and the postings row count (which
    * sizes the buckets); one shuffle, on `tbucket`, feeds the cached
    * postings aggregate, and terms reduce off that cache with no second
    * exchange. Each bucket is one task, so each component writes one
    * file per bucket directory. A build runs at most 8 jobs, all on the
    * caller's thread. An empty corpus is refused before anything at
    * `path` is touched.
    */
  def writeBm25Index(
      docs: DataFrame,
      path: String,
      targetFileRows: Long = 4L * 1024 * 1024): Unit = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    val spark = docs.sparkSession
    try {
      val batch = tokenizeBm25(docs)
      // loud degenerate-input refusal: a zero-row postings/terms
      // partitionBy write produces NO part files, so the store would
      // fail only later, at read time, with an opaque schema-inference
      // error
      require(batch.n > 0,
        "writeBm25Index: empty corpus — an empty index would be " +
          "schema-less on disk; nothing to index")
      // full rebuild resets to the legacy flat layout: component-wise
      // overwrite alone would leave a stale generation manifest pointing
      // past the rebuild on a previously-compacted store
      graft.util.GenStore.reset(spark, path)
      writeBm25Segment(batch, path,
        graft.util.SegmentStore.fileCount(batch.postingsRows, targetFileRows),
        overwrite = true)
    } finally graft.util.OpCaches.releaseAll(spark)
  }

  /** Append a batch of documents to a BM25 index written by
    * [[writeBm25Index]] — the daily-ingest tail of the search loop, the
    * same shape as [[graft.dedup.Dedup.appendToSignatureStore]] and
    * [[graft.sim.Similarity.appendToIvfIndex]]: one tokenize pass over
    * the BATCH, never a corpus re-read. Postings rows append as-is;
    * `terms/` gains the batch's per-term df DELTAS and `stats/` one
    * (n, sum_dl) segment row — both summed at read by
    * [[bm25TopKFromStore]], so an appended store answers queries
    * bit-identically to a full rebuild over the union (asserted in
    * TextDedupSpec). The bucket count comes from the store's own stats,
    * so a batch cannot mis-bucket, and the segment lands one file per
    * bucket directory per component; a store that outgrows its bucket
    * count is re-bucketed by its next [[compactBm25Index]]. `doc_id`s
    * must be NEW to the store — re-appending a document double-counts
    * its tf, df, and stats contributions. Parquet `append` is not
    * transactional: a failed append can leave a partial segment;
    * exactly-once is the caller's contract, as with the sibling stores.
    * Small segments accumulate files — [[compactBm25Index]] folds them.
    */
  def appendToBm25Index(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    // segments land INSIDE the active generation, so a reader resolving
    // the manifest sees them
    val base = graft.util.GenStore.resolve(spark, path)
    try writeBm25Segment(tokenizeBm25(docs), base,
      readBm25Stats(spark, base).nBuckets, overwrite = false)
    finally graft.util.OpCaches.releaseAll(spark)
  }

  /** DELETE a batch of documents from a BM25 index — the
    * right-to-be-forgotten leg of the store's log-structured CRUD
    * (build / [[appendToBm25Index]] / delete / [[compactBm25Index]]).
    * Physically rewriting 100 TB of postings per takedown batch is an
    * O(store) job; this is O(batch): one tokenize pass over the
    * DELETED documents writes the exact NEGATION of the contributions
    * [[writeBm25Index]]/[[appendToBm25Index]] recorded for them — a
    * `(-n, -Σdl)` stats segment row and per-term `-df` delta rows,
    * both summed at read like any other segment — plus a tombstone
    * segment ([[graft.util.Tombstones]]) that [[bm25TopKFromStore]]
    * anti-joins postings against. Queries on the deleted store answer
    * BIT-IDENTICALLY to a full rebuild over the remaining corpus
    * (oracle-gated as `tx_bm25_delete`); the next [[compactBm25Index]]
    * run folds the tombstones away physically. The writes run in turn
    * on the caller's thread: tombstones, then the df deltas (one
    * shuffle, on `tbucket`), then the stats row.
    *
    * Contract (mirror of append's "ids must be NEW"): each deleted
    * `doc_id` must be LIVE in the store with exactly this `text` — the
    * negation cancels what indexing added, so deleting an absent or
    * already-deleted doc, or passing drifted text, skews df/stats.
    * Batch your takedowns and run exactly once, as with appends.
    */
  def deleteFromBm25Index(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    val base = graft.util.GenStore.resolve(spark, path)
    val nBuckets = readBm25Stats(spark, base).nBuckets
    try {
      val batch = tokenizeBm25(docs)
      // postings rows can't be unwritten, so readers anti-join
      graft.util.Tombstones.write(docs.select(col("doc_id")), base)
      // negated per-term df deltas: -1 per (deleted doc, distinct term),
      // the exact inverse of the df the doc contributed
      bucketBy(batch.tokens.select(col("doc_id"), explode(col("t")).as("term")),
          nBuckets)
        .groupBy(col("tbucket"), col("doc_id"), col("term")).agg(count(lit(1)))
        .groupBy(col("tbucket"), col("term"))
        .agg((count(lit(1)).cast("double") * -1.0).as("df"))
        .select(col("term"), col("df"), col("tbucket"))
        .write.mode("append").partitionBy("tbucket")
        .parquet(s"$base/terms")
      // negated stats segment: zero-token docs count in n here exactly as
      // they did at index time
      writeBm25Stats(spark, s"$base/stats", -batch.n,
        Some(-batch.sumDl.getOrElse(0L)), nBuckets, "append")
    } finally graft.util.OpCaches.releaseAll(spark)
  }

  /** A batch's tokenized frame (doc_id, dl, t), cached, with n, Σdl (None
    * for an empty batch, as SQL `sum` gives) and the number of distinct
    * (doc, term) pairs — its postings rows — from one collect over it.
    * Zero-token docs count in n, as the inline path's N counts them.
    */
  private final case class Bm25Batch(
      tokens: DataFrame, n: Long, sumDl: Option[Long], postingsRows: Long)

  private def tokenizeBm25(docs: DataFrame): Bm25Batch = {
    // ONE text scan: the cache feeds the collect and every write after it
    // (OpCaches-tracked, as bm25TopK's base is)
    val tok = graft.util.OpCaches.cache(
      docs
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
          col("t")))
    val r = tok.agg(count(lit(1)), sum(col("dl")),
      coalesce(sum(size(array_distinct(col("t"))).cast("long")), lit(0L)))
      .collect()(0)
    Bm25Batch(tok, r.getLong(0), Option.when(!r.isNullAt(1))(r.getLong(1)),
      r.getLong(2))
  }

  /** `df` with its writer bucket `pmod(hash(term), nBuckets)`, hash
    * partitioned on it into nBuckets tasks: every bucket's rows sit in
    * one task, so a `partitionBy("tbucket")` write lands one file per
    * bucket directory (unaligned, every task opens a file in every
    * bucket it holds rows of: tasks × buckets small files), and an
    * aggregate keyed by `tbucket` and more columns needs no further
    * exchange.
    */
  private def bucketBy(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("tbucket", pmod(hash(col("term")), lit(nBuckets)))
      .repartition(nBuckets, col("tbucket"))

  private val Bm25StatsSchema = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sum_dl", LongType, nullable = true),
    StructField("n_buckets", IntegerType, nullable = false)))

  /** One `stats/` segment row, written from driver-side values (one
    * single-task job, one file). */
  private def writeBm25Stats(
      spark: org.apache.spark.sql.SparkSession, dir: String, n: Long,
      sumDl: Option[Long], nBuckets: Int, mode: String): Unit =
    spark.createDataFrame(
      java.util.List.of(Row(n, sumDl.map(Long.box).orNull, nBuckets)),
      Bm25StatsSchema)
      .write.mode(mode).parquet(dir)

  /** One tokenized batch written as a store segment (shared by
    * [[writeBm25Index]] / [[appendToBm25Index]]; the caller releases the
    * OpCaches entries). The writes run in turn on the caller's thread —
    * postings, stats, terms — so a failure surfaces with no job of the
    * call still running. Postings take the batch's one shuffle: exploded
    * tokens hash-partitioned on `tbucket` ([[bucketBy]]), then the tf
    * aggregate keyed by (tbucket, doc_id, dl, term), which that
    * partitioning already satisfies; it is cached, and the df aggregate
    * keyed by (tbucket, term) reads the cache with no exchange either.
    */
  private def writeBm25Segment(
      batch: Bm25Batch, path: String, nBuckets: Int,
      overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    val postings = graft.util.OpCaches.cache(
      bucketBy(batch.tokens
          .select(col("doc_id"), col("dl"), explode(col("t")).as("term")),
          nBuckets)
        .groupBy(col("tbucket"), col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf")))
    postings
      .select(col("doc_id"), col("dl"), col("term"), col("tf"), col("tbucket"))
      .write.mode(mode).partitionBy("tbucket")
      .parquet(s"$path/postings")
    // exact integer sums, so avgdl is engine-stable
    writeBm25Stats(batch.tokens.sparkSession, s"$path/stats", batch.n,
      batch.sumDl, nBuckets, mode)
    postings.groupBy(col("tbucket"), col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
      .select(col("term"), col("df"), col("tbucket"))
      .write.mode(mode).partitionBy("tbucket")
      .parquet(s"$path/terms")
  }

  /** A BM25 store's statistics: n and Σdl summed over the `stats/`
    * segment rows, and the bucket count the store was written with. */
  private[graft] final case class Bm25Stats(n: Long, sumDl: Long, nBuckets: Int) {
    def avgdl: Double = if (n == 0L) 1.0 else sumDl.toDouble / n.toDouble
  }

  /** The store's `stats/` segment rows (one per write, append or delete)
    * collected once, in one job. n and Σdl are exact `Long` sums that
    * skip nulls, as SQL `sum` does (an empty append batch records a null
    * Σdl); every row records the bucket count, and a store whose rows
    * disagree, or lack it, is corrupt and refused.
    */
  private[graft] def readBm25Stats(
      spark: org.apache.spark.sql.SparkSession, path: String): Bm25Stats = {
    val rows = graft.util.SegmentStore.parquet(spark, s"$path/stats")
      .select(col("n"), col("sum_dl"), col("n_buckets")).collect()
    def total(i: Int): Long = rows.foldLeft(0L)((acc, r) =>
      if (r.isNullAt(i)) acc else Math.addExact(acc, r.getLong(i)))
    val bs = rows.map(r => Option.when(!r.isNullAt(2))(r.getInt(2))).distinct
    require(bs.length == 1 && bs(0).isDefined,
      s"BM25 store at $path has inconsistent bucket counts: " +
        bs.map(_.fold("null")(_.toString)).sorted.mkString(","))
    Bm25Stats(total(0), total(1), bs(0).get)
  }

  /** Compact a BM25 index in place: daily [[appendToBm25Index]] runs
    * each add a stats segment row, per-term df-delta rows, and one
    * small postings file per bucket; after months the store read pays
    * more in file listing + footer opens + per-term delta rows than in
    * bytes. Folds `stats/` to one row, `terms/` to one row per term (the
    * summed df the reader would compute), and re-buckets the live
    * postings: the bucket count is re-derived as
    * ⌈live postings rows / targetFileRows⌉ (the rule [[writeBm25Index]]
    * sizes a build with), `tbucket` is recomputed for postings and terms,
    * and the new `n_buckets` is recorded — so a store grown by appends
    * past its build's sizing is re-bucketed here. Each bucket is one
    * task, so every partition directory compacts to a single file. The
    * rewrite then atomically repoints the store's generation manifest
    * ([[graft.util.GenStore.compactInto]]). Query results are
    * bit-identical pre/post (asserted in TextDedupSpec), and the swap
    * is ATOMIC FOR READERS — a mid-query reader keeps its resolved
    * generation's complete file set (kept one further compaction
    * cycle); see [[graft.dedup.Dedup.compactSignatureStore]]. Writers
    * stay single-writer: no concurrent appends during compaction.
    */
  def compactBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileRows: Long = 4L * 1024 * 1024): Unit = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    val src = graft.util.GenStore.resolve(spark, path)
    val stats = readBm25Stats(spark, src)
    // fold tombstones physically: deleted docs' postings drop from the
    // rewrite, and the new generation carries no _tombstones directory
    // (the old generation keeps its own for in-flight readers, under
    // GenStore's one-cycle grace rule)
    val postings = graft.util.Tombstones.filter(
      graft.util.SegmentStore.parquet(spark, s"$src/postings"),
      spark, src, "doc_id")
    val nBuckets =
      graft.util.SegmentStore.fileCount(postings.count(), targetFileRows)
    graft.util.GenStore.compactInto(spark, path) { genDir =>
      bucketBy(postings, nBuckets)
        .write.mode("overwrite").partitionBy("tbucket")
        .parquet(s"$genDir/postings")
      bucketBy(graft.util.SegmentStore.parquet(spark, s"$src/terms"), nBuckets)
        .groupBy(col("tbucket"), col("term")).agg(sum(col("df")).as("df"))
        // a term whose every bearing doc was deleted folds to df = 0
        // (+1 build contributions exactly cancelled by -1 delete
        // deltas) — drop the husk row rather than carry it forever
        .filter(col("df") =!= 0.0)
        .select(col("term"), col("df"), col("tbucket"))
        .write.mode("overwrite").partitionBy("tbucket")
        .parquet(s"$genDir/terms")
      writeBm25Stats(spark, s"$genDir/stats", stats.n, Some(stats.sumDl),
        nBuckets, "overwrite")
    }
  }

  /** [[bm25TopK]] FROM a persisted index written by [[writeBm25Index]]:
    * identical output (same stats, same idf, same ordered fold, same
    * truncation — asserted query-for-query in the correctness gate), but
    * query time never touches the corpus text.
    *
    * Read path, with no metadata job: the generation is resolved once;
    * `stats/` is collected once (one job: n, Σdl and the bucket count,
    * see [[readBm25Stats]]); the query's bucket ids come from the
    * writer's own `pmod(hash(term), n)` projected over the O(#terms)
    * query list, which Spark folds into the local relation, so that
    * collect runs no job; `postings/` and `terms/` list only those
    * buckets' existing `tbucket=` directories (all of `postings/` or
    * `terms/` when none exists) and take their schemas from a footer
    * ([[graft.util.SegmentStore.parquet]]). The scoring query keeps the
    * `tbucket` and term filters and is the inline path's plan: broadcast
    * idf join, ordered fold, TakeOrdered top-k (a local top-k per
    * partition and one driver merge). A warm request runs 5 jobs: the
    * stats collect and the scoring query's 4. Nothing is cached between
    * requests, so appends, deletes and compactions by any writer are seen
    * by the next request.
    *
    * The store may carry [[appendToBm25Index]] and
    * [[deleteFromBm25Index]] segments: stats rows and per-term df deltas
    * are summed here, and deleted docs' postings are anti-joined against
    * the generation's tombstones, so such stores answer bit-identically
    * to a full rebuild.
    */
  def bm25TopKFromStore(
      spark: org.apache.spark.sql.SparkSession,
      queryTerms: Seq[String],
      path: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    import spark.implicits._
    val terms = queryTerms.distinct
    // resolve the active generation once — stats, terms, and postings
    // must come from ONE generation even if a compaction lands mid-call
    val base = graft.util.GenStore.resolve(spark, path)
    val stats = readBm25Stats(spark, base)
    val n = stats.n
    val avgdl = stats.avgdl
    // the writer's bucket ids for these terms — same hash() expression,
    // never driver-reimplemented; the projection folds into the local
    // relation, so the collect runs no job
    val qBuckets = terms.toDF("term")
      .select(pmod(hash(col("term")), lit(stats.nBuckets)))
      .as[Int].collect().distinct.toSeq
    val parts = qBuckets.map(q => s"tbucket=$q")
    def bucketed(component: String): DataFrame =
      graft.util.SegmentStore.parquet(spark, s"$base/$component", parts)
        .filter(col("tbucket").isin(qBuckets: _*) &&
          col("term").isInCollection(terms))
    // tombstone anti-join AFTER the bucket/term pruning (the pruned
    // frame is O(query terms' postings), the broadcast delete set is
    // O(delete batches)); zero plan change when no delete has landed
    val tf = graft.util.Tombstones.filter(bucketed("postings"), spark, base, "doc_id")
    val dfreq = bucketed("terms")
      // fold append segments' df deltas; a compacted store has one row
      // per term and this is a no-op aggregate over it
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .withColumn("idf",
        log((lit(n.toDouble) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    tf.join(broadcast(dfreq.select(col("term"), col("idf"))), Seq("term"))
      .withColumn("w",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
      .groupBy(col("doc_id"))
      // same lexical-term-order fold as [[bm25TopK]] — bit-deterministic
      .agg(aggregate(
        array_sort(collect_list(struct(col("term"), col("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")).as("raw"))
      .select(col("doc_id"), (floor(col("raw") * 1e6) / 1e6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Corpus-wide token n-gram frequency top-k — the vocabulary /
    * LM-prep counting pass (top collocations, boilerplate phrase
    * discovery). One corpus scan explodes the in-row [[shingles]]
    * projection; the count is a partial+final hash aggregate (map-side
    * combine, so the shuffle carries one row per DISTINCT n-gram per
    * partition, not per occurrence); the top-k is TakeOrdered, never a
    * global sort. Ties rank by n-gram ascending. Output: (ngram, cnt).
    */
  def ngramTopK(docs: DataFrame, n: Int, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    docs
      // tokenize in a SEPARATE projection: see the shingles caller
      // contract — inlined, the split re-runs per n-gram (14× here)
      .select(tokens(col("text")).as("_toks"))
      .select(explode(shingles(col("_toks"), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** [[ngramTopK]] with a count floor for web-scale vocabularies. The
    * exact variant's shuffle carries one row per distinct n-gram per map
    * partition — and distinct n-grams grow ~O(corpus tokens) (Heaps'
    * law never flattens for n ≥ 2), so at 100 TB the exchange itself is
    * corpus-sized. The floor cuts what survives the aggregate: counts
    * below `minCount` are dropped before the top-k ordering, which
    * bounds the TakeOrdered input, and — the part that matters
    * operationally — makes the pass SHARDABLE: counts are
    * shard-additive, and an n-gram with global count >= minCount has
    * count >= ⌈minCount/#shards⌉ in at least one shard, so running this
    * per shard with that reduced floor and re-aggregating the union
    * never loses a qualifying n-gram while shipping only each shard's
    * above-floor head. (Pruning the map-side partials directly would be
    * unsound for the same reason in reverse — a frequent n-gram can sit
    * below any per-partition floor on every partition.)
    *
    * Exactness guarantee: the result is EXACTLY the global top-k among
    * n-grams with count >= minCount; whenever the true k-th most
    * frequent n-gram has count >= minCount, it equals
    * `ngramTopK(docs, n, k)`. Frequency distributions are Zipfian: the
    * top-k counts for any useful k sit orders of magnitude above a
    * floor like 5, so the floor discards only the singleton-dominated
    * tail the top-k could never reach.
    */
  def ngramTopKPruned(
      docs: DataFrame, n: Int, k: Int, minCount: Long): DataFrame = {
    require(k > 0, "k must be positive")
    require(minCount >= 1, "minCount must be >= 1")
    docs
      .select(tokens(col("text")).as("_toks")) // see shingles contract
      .select(explode(shingles(col("_toks"), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** Per-source vocabulary size as an HLL++ sketch — the 100 TB form of
    * the exact distinct-token count. The exact variant
    * (`tx_distinct_vocab`) keys its aggregate on the token itself, so
    * its exchange carries one row per distinct token per map partition
    * — and distinct tokens grow with the corpus (Heaps' law), so at
    * web scale the shuffle is itself corpus-sized. Here each map
    * partition folds its tokens into one fixed-size HLL++ sketch per
    * source, and the exchange moves O(#sources × #partitions) sketches
    * (kilobytes each) regardless of vocabulary size: the same
    * one-scan / map-side-combine shape, but with a shuffle that no
    * longer scales with the data. Sketches are mergeable, so the shape
    * also shards: per-shard sketches union to the corpus sketch with no
    * loss beyond the sketch's own error.
    *
    * `rsd` is the target relative standard deviation (Spark default
    * 0.05); the estimate is within ~±3·rsd of the exact count with
    * overwhelming probability. No DuckDB oracle — HLL implementations
    * differ across engines by design — so the correctness gate is the
    * spec's bound against the exact count at fixture scale.
    */
  def distinctVocabApprox(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(approx_count_distinct(col("tok"), rsd).as("vocab_approx"))

  /** Bound-checked form of [[distinctVocabApprox]]: one scan computes
    * BOTH the exact per-source vocabulary and the HLL++ estimate, and
    * emits (source, vocab, ok) with ok = 1 iff the estimate is within
    * ±3·rsd of the exact count (a 3σ band — HLL's relative standard
    * deviation is rsd, so excursions past 3σ have ~0.3% probability;
    * small cardinalities are exact via HLL's sparse mode and always
    * pass). The exact countDistinct is the verification harness, not
    * the production path — it re-introduces the O(vocabulary) exchange
    * the sketch exists to avoid; at 100 TB run [[distinctVocabApprox]]
    * and verify on a sampled shard with this head.
    */
  def distinctVocabChecked(docs: DataFrame, rsd: Double = 0.05): DataFrame =
    docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(
        countDistinct(col("tok")).as("vocab"),
        approx_count_distinct(col("tok"), rsd).as("_approx"))
      .select(
        col("source"),
        col("vocab"),
        (abs(col("_approx") - col("vocab")) <= lit(3 * rsd) * col("vocab"))
          .cast("int").as("ok"))

  /** Corpus heavy hitters as a MERGEABLE Misra–Gries summary — the
    * web-scale form of "top tokens by frequency". [[ngramTopK]]'s exact
    * count keys its aggregate on the token, so its exchange carries one
    * row per distinct token per map partition (corpus-sized at 100 TB,
    * Heaps' law); here each map partition folds into ONE ≤`m`-counter
    * [[MisraGries]] buffer and the exchange moves O(m × partitions)
    * rows regardless of vocabulary size — the same
    * sketch-for-exchange trade as [[distinctVocabApprox]], for
    * frequency instead of cardinality. Estimates UNDERCOUNT by at most
    * N/(m+1) (N = total tokens) and every token with true count >
    * N/(m+1) is present — under any partitioning (the summary is
    * mergeable, so per-shard summaries combine losslessly within the
    * same bound). Output: (token, est), the surviving counters.
    *
    * The est values depend on fold order (any valid MG summary does),
    * so the driver-gated head is [[heavyHittersChecked]], whose
    * verdict columns are theorems — deterministic — rather than the
    * raw estimates.
    */
  def heavyHitters(docs: DataFrame, m: Int): DataFrame = {
    val mg = udaf(new MisraGries(m))
    docs
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(mg(col("tok")).as("s"))
      .select(explode(col("s")).as(Seq("token", "est")))
  }

  /** Bound-checked form of [[heavyHitters]], the same
    * exact-side-verifies-sketch shape as [[distinctVocabChecked]]: one
    * token pass feeds BOTH the MG summary and the exact counts, and
    * the output is the exact top-`k` tokens with two verdict columns
    * the oracle asserts:
    *   - `ok_cover` = the token is in the summary OR its true count is
    *     ≤ N/(m+1) (MG's coverage guarantee);
    *   - `ok_err`   = the token is absent OR its estimate is within
    *     [count − N/(m+1), count] (MG's undercount bound).
    * Both are guaranteed-true theorems for ANY fold/merge order, so
    * rows+schema+hash are deterministic even though the underlying
    * summary is not. The exact count is the verification harness, not
    * the production path — at 100 TB run [[heavyHitters]] and verify a
    * sampled shard with this head.
    */
  def heavyHittersChecked(docs: DataFrame, m: Int, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = docs.sparkSession
    // one tokenize pass (OpCaches-tracked) feeds the summary, the exact
    // counts, and the total-token count
    val toks = graft.util.OpCaches.cache(
      docs.select(explode(tokens(col("text"))).as("tok")))
    val mg = udaf(new MisraGries(m))
    val summary = toks.agg(mg(col("tok")).as("s"))
      .select(explode(col("s")).as(Seq("tok", "est")))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val n = toks.count()
    exact.orderBy(col("cnt").desc, col("tok")).limit(k)
      .join(broadcast(summary), Seq("tok"), "left")
      .select(
        col("tok").as("token"),
        col("cnt"),
        // coverage: cnt > N/(m+1)  ⇔  cnt·(m+1) > N  ⇒ must be present
        (col("est").isNotNull || col("cnt") * (m + 1L) <= lit(n))
          .cast("int").as("ok_cover"),
        // undercount bound: present ⇒ est ∈ [cnt − N/(m+1), cnt]
        (col("est").isNull ||
          (col("est") <= col("cnt") &&
            (col("cnt") - col("est")) * (m + 1L) <= lit(n)))
          .cast("int").as("ok_err"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Count–Min sketch of token frequencies (Cormode & Muthukrishnan,
    * J. Algorithms 2005): `depth` hash rows × `width` cells, each cell
    * the count of tokens hashing into it — the mergeable
    * point-frequency-estimate sibling of the [[heavyHitters]] top-k
    * summary (MG answers "which tokens are frequent", CM answers "how
    * frequent is THIS token" for arbitrary later probes). Row hashes
    * are the md5-prefix family (`cm<i>:<tok>`, same discipline as
    * [[hashUniform]]) so the sketch is a pure deterministic function of
    * the corpus and DuckDB re-derives it exactly.
    *
    * Scale shape: ONE tokenize scan; each token emits its `depth`
    * (row, cell) pairs via a single `posexplode` (no per-row array
    * sort, no second scan) into a map-side-combined count over at most
    * `depth·width` cells — the sketch is O(d·w) REGARDLESS of corpus
    * size, partial aggregates merge by cell-wise sum (the CM merge
    * property, locked by spec), and the result broadcasts anywhere.
    * Standard bounds: est ≥ true always; est ≤ true + 2N/width with
    * probability 1 − (1/2)^depth per probe.
    *
    * Output: (row, cell, c) — sparse (empty cells omitted ≡ zero).
    */
  def cmSketch(docs: DataFrame, depth: Int, width: Int): DataFrame =
    cmSketchOfTokens(
      docs.select(explode(tokens(col("text"))).as("tok")), depth, width)

  /** [[cmSketch]] over an already-exploded `tok` column (shared with
    * [[cmChecked]], whose cached token pass feeds sketch AND exact).
    */
  private def cmSketchOfTokens(
      toks: DataFrame, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 16, s"width must be >= 16, got $width")
    toks
      .select(posexplode(cmCells(col("tok"), depth, width))
        .as(Seq("row", "cell")))
      .groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("c"))
  }

  /** The `depth` cell indices of one token, rows 0..depth−1 in order. */
  private def cmCells(tok: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { i =>
      conv(md5(concat(lit(s"cm$i:"), tok)).substr(1, 8), 16, 10)
        .cast("long") % width
    }: _*)

  /** Point-frequency estimates from a [[cmSketch]]: for each probe
    * token, min over the sketch's `depth` rows of its cell count
    * (absent cell ≡ 0). The probe list is driver-side (the ad-hoc
    * "how frequent are THESE tokens" shape); the sketch side arrives
    * as a broadcast — O(d·w) — so estimation is scan-free and never
    * touches the corpus. Output: (tok, est).
    */
  def cmEstimate(
      sketch: DataFrame,
      keys: Seq[String],
      depth: Int,
      width: Int): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    val spark = sketch.sparkSession
    import spark.implicits._
    keys.toDF("tok")
      .select(col("tok"),
        posexplode(cmCells(col("tok"), depth, width)).as(Seq("row", "cell")))
      .join(broadcast(sketch), Seq("row", "cell"), "left")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Bound-checked Count–Min head, the exact-side-verifies-sketch shape
    * of [[heavyHittersChecked]]: one tokenize pass feeds BOTH the
    * sketch and the probes' exact counts, and the output carries two
    * verdict columns the oracle asserts:
    *   - `ok_over`  = est ≥ exact (CM can never undercount — a theorem
    *     for every probe);
    *   - `ok_bound` = est ≤ exact + 2N/width (the expected-error bound;
    *     deterministic here because the sketch is hash-determined).
    * The exact side is the verification harness, not the production
    * path — at 100 TB build [[cmSketch]] once and answer probes with
    * [[cmEstimate]] alone.
    *
    * Output: (tok, exact, est, ok_over, ok_bound), one row per probe.
    */
  def cmChecked(
      docs: DataFrame,
      keys: Seq[String],
      depth: Int,
      width: Int): DataFrame = {
    val toks = graft.util.OpCaches.cache(
      docs.select(explode(tokens(col("text"))).as("tok")))
    val sketch = cmSketchOfTokens(toks, depth, width)
    val n = toks.count()
    val exact = toks
      .filter(col("tok").isInCollection(keys))
      .groupBy(col("tok")).agg(count(lit(1)).as("exact"))
    cmEstimate(sketch, keys, depth, width)
      .join(exact, Seq("tok"), "left")
      .select(
        col("tok"),
        coalesce(col("exact"), lit(0L)).as("exact"),
        col("est"),
        (col("est") >= coalesce(col("exact"), lit(0L)))
          .cast("int").as("ok_over"),
        (col("est") * width <= coalesce(col("exact"), lit(0L)) * width
          + 2L * n).cast("int").as("ok_bound"))
  }

  /** Bigram language-model quality score, the CCNet-style perplexity
    * filter: fit add-one-smoothed bigram counts on the corpus's own
    * `train` split ([[assignSplit]] — id-pure, so the model never sees
    * val/test text) and score EVERY document by its mean negative
    * log-likelihood under that model. Low score = in-distribution
    * fluent text; high score = boilerplate, noise, or out-of-domain —
    * the standard ranking signal for quality-proportional sampling
    * (compose with [[qualitySample]]).
    *
    * Model: p(cur | prev) = (c2(prev,cur) + 1) / (c1(prev) + V) with a
    * per-document `<s>` start symbol; V = distinct continuation count.
    * All model statistics are exact integer aggregates (map-side
    * combined, order-independent), so the probabilities are the SAME
    * doubles in any engine; per-document log-probs fold in POSITION
    * order (the [[bm25TopK]] sorted-fold discipline) and the mean is
    * floor-truncated to 6 decimals — bit-deterministic across runs,
    * partitionings, and engines.
    *
    * Scale shape: one tokenize pass over the train split builds both
    * count tables; scoring is two key-shuffle left joins on token
    * strings. Token frequency is Zipfian, so the `prev` join key is
    * skewed by construction — AQE's skew-join split handles the hot
    * keys (`the`, `a`, ...) without salting because the build side is a
    * per-key aggregate (one row per hot key, replicable). At 100 TB the
    * model tables are vocabulary-sized (far smaller than the corpus)
    * but not broadcastable; the joins stay shuffles and carry
    * (doc_id, pos, prev, cur) — never text.
    *
    * Output: (doc_id, n_tokens, lm_score), one row per document.
    */
  def lmScore(docs: DataFrame): DataFrame =
    lmScoreCapped(docs, LmHotBroadcastMaxRows)

  /** [[lmScore]] with an explicit hot-head broadcast row cap (tests
    * force `0` to exercise the shuffle-join fallback; production uses
    * [[LmHotBroadcastMaxRows]] via the public entry).
    */
  private[graft] def lmScoreCapped(
      docs: DataFrame, hotBroadcastMaxRows: Long): DataFrame = {
    val bigrams = docBigrams(docs)
    // the train-split bigram stream feeds all three model statistics —
    // tokenized once, OpCaches-tracked
    val trainBg = graft.util.OpCaches.cache(
      bigrams
        .where(assignSplit(col("doc_id")) === "train")
        .select(col("prev"), col("cur")))
    val c2 = trainBg.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).cast("double").as("c2"))
    val c1 = trainBg.groupBy(col("prev"))
      .agg(count(lit(1)).cast("double").as("c1"))
    // V as an exact integer scalar: one row to the driver, O(1)
    val v = trainBg.agg(countDistinct(col("cur"))).collect()(0)
      .getLong(0).toDouble
    scoreBigrams(bigrams, c2, c1, v, hotBroadcastMaxRows)
  }

  /** The per-document bigram stream (doc_id, n_tokens, pos, prev, cur)
    * with the `<s>` start symbol — shared by the inline and
    * store-backed LM scorers.
    */
  private def docBigrams(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), tokens(col("text")).as("t"))
    .select(
      col("doc_id"),
      size(col("t")).cast("long").as("n_tokens"),
      explode(transform(col("t"), (x, i) =>
        struct(
          i.as("pos"),
          when(i === 0, lit("<s>"))
            .otherwise(element_at(col("t"), i)).as("prev"),
          x.as("cur")))).as("bg"))
    .select(
      col("doc_id"), col("n_tokens"),
      col("bg.pos").as("pos"), col("bg.prev").as("prev"),
      col("bg.cur").as("cur"))

  /** How many hot `prev` heads the LM scorer splits off the shuffle
    * joins (see [[scoreBigrams]]); exposed for tests.
    */
  private[graft] val LmHotHeads = 64

  /** Row cap on the hot heads' c2 slice BROADCAST: the c1 head slice is
    * ≤ [[LmHotHeads]] rows by construction, but the c2 slice carries
    * the hot keys' SUCCESSOR LISTS, and `the`-class heads can own a
    * vocabulary-scale successor set at web scale — an unconditional
    * broadcast() hint would hit the broadcast/driver limits exactly in
    * the regime the split targets. Same discipline as
    * [[graft.dedup.Dedup.containmentPairs]]'s `maxBroadcastEntries`:
    * count the REAL slice off the cache, broadcast only under the cap,
    * degrade to the plain shuffle join (AQE skew split resumes) above
    * it — scores are bit-identical either way. ~10⁷ (prev, cur, c2)
    * rows ≈ low hundreds of MB, inside default driver/broadcast room.
    */
  private[graft] val LmHotBroadcastMaxRows = 10000000L

  /** Join the bigram stream against the count model and fold per-doc
    * scores.
    *
    * SKEW: token frequency is Zipfian, so the `prev` join key is skewed
    * by construction — at 100 TB the `the`-keyed probe partitions of a
    * plain shuffle join are monsters no static partitioning fixes.
    * Rather than delegating to AQE's runtime skew split (round-11
    * shape), the top-[[LmHotHeads]] `prev` heads by c1 count are split
    * off STATICALLY: the head slices of c1/c2 are tiny (c1: one row per
    * hot key; c2: the hot keys' successor lists — bounded by the head's
    * share of distinct bigrams, a few MB at web scale), so the hot
    * probe rows take BROADCAST joins and never ride a prev-keyed
    * exchange at all; only the long tail — flat by construction once
    * the head is gone — shuffle-joins. Head membership costs one
    * O(vocab) agg + O(K) collect against the already-cached train
    * stream. Plan-locked by PlanShapeSpec (hot branch: broadcast joins
    * only). The split is row-disjoint and match-preserving (the head
    * tables carry ALL model rows for hot keys, tails the rest), and the
    * per-doc fold sorts by position, so scores are bit-identical to the
    * unsplit join under any partitioning.
    */
  private def scoreBigrams(
      bigrams: DataFrame, c2: DataFrame, c1: DataFrame,
      v: Double,
      hotBroadcastMaxRows: Long = LmHotBroadcastMaxRows): DataFrame = {
    // deterministic head: top-K by count, prev as tiebreak
    val hotKeys = c1.orderBy(col("c1").desc, col("prev"))
      .limit(LmHotHeads).select(col("prev"))
      .collect().map(_.getString(0)).toSeq
    def isHot(c: Column): Column = c.isInCollection(hotKeys)
    def plainJoin = bigrams
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
    // Route off an UNCACHED count first (a cheap agg over the already-
    // cached train stream): in the over-cap regime — the regime the cap
    // exists for, >10M successor rows — caching before the check would
    // pay full MEMORY_AND_DISK materialization of exactly the slice the
    // fallback then discards. Only the chosen under-cap branch caches,
    // so the broadcast reads the stored slice instead of re-aggregating.
    val hotC2Slice = c2.where(isHot(col("prev")))
    val scored =
      if (hotKeys.isEmpty) plainJoin
      else if (hotC2Slice.count() > hotBroadcastMaxRows)
        // hot successor lists too large to broadcast
        // ([[LmHotBroadcastMaxRows]]): degrade to the plain shuffle
        // join — AQE's skew split takes the hot keys back over
        plainJoin
      else {
        val hotC2 = graft.util.OpCaches.cache(hotC2Slice)
        val hot = bigrams.where(isHot(col("prev")))
          .join(broadcast(hotC2), Seq("prev", "cur"), "left")
          .join(broadcast(c1.where(isHot(col("prev")))), Seq("prev"), "left")
        val tail = bigrams.where(!isHot(col("prev")))
          .join(c2.where(!isHot(col("prev"))), Seq("prev", "cur"), "left")
          .join(c1.where(!isHot(col("prev"))), Seq("prev"), "left")
        hot.unionByName(tail)
      }
    scored
      .withColumn("logp",
        -log((coalesce(col("c2"), lit(0.0)) + 1.0) /
          (coalesce(col("c1"), lit(0.0)) + lit(v))))
      .groupBy(col("doc_id"), col("n_tokens"))
      // positional left fold, not sum(): double addition is
      // order-sensitive and partial-aggregation order is
      // partitioning-dependent (see bm25TopK)
      .agg(aggregate(
        array_sort(collect_list(struct(col("pos"), col("logp")))),
        lit(0.0),
        (acc, x) => acc + x.getField("logp")).as("raw"))
      .select(
        col("doc_id"), col("n_tokens"),
        (floor(col("raw") / col("n_tokens") * 1e6) / 1e6).as("lm_score"))
  }

  /** Persist the bigram LM for [[lmScoreFromStore]] — the fit-once /
    * score-many shape of perplexity filtering: a daily quality gate
    * re-scores every incoming batch but refits the reference model
    * rarely (and wholesale — a count model over a fixed train split has
    * no incremental append story, unlike the log-structured stores, so
    * this store is a plain immutable snapshot: refit = rewrite).
    *
    * Layout at `path`: `c2/` (prev, cur, c2), `c1/` (prev, c1), `meta/`
    * one row (v, train_bigrams) of exact integer-derived stats. One
    * tokenize pass over the train split builds all three.
    */
  def writeLmModel(docs: DataFrame, path: String): Unit = {
    val trainBg = graft.util.OpCaches.cache(
      docBigrams(docs)
        .where(assignSplit(col("doc_id")) === "train")
        .select(col("prev"), col("cur")))
    trainBg.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).cast("double").as("c2"))
      .write.mode("overwrite").parquet(s"$path/c2")
    trainBg.groupBy(col("prev"))
      .agg(count(lit(1)).cast("double").as("c1"))
      .write.mode("overwrite").parquet(s"$path/c1")
    val spark = docs.sparkSession
    trainBg.agg(
        countDistinct(col("cur")).as("v"),
        count(lit(1)).as("train_bigrams"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    graft.util.OpCaches.releaseAll(spark)
  }

  /** Score documents against a PERSISTED bigram LM ([[writeLmModel]]):
    * bit-identical to [[lmScore]] when the store was fit on the same
    * corpus (the counts are exact integers and the fold discipline is
    * shared), but the scoring pass never re-reads or re-tokenizes the
    * train split — the model joins are parquet scans of (prev, cur)
    * count tables, pruned to the three columns each side needs.
    */
  def lmScoreFromStore(
      docs: DataFrame,
      path: String): DataFrame = {
    val spark = docs.sparkSession
    val v = spark.read.parquet(s"$path/meta")
      .select(col("v")).head().getLong(0).toDouble
    scoreBigrams(
      docBigrams(docs),
      spark.read.parquet(s"$path/c2"),
      spark.read.parquet(s"$path/c1"), v)
  }

  /** Hashed TF-IDF featurization (the hashing trick): each document
    * becomes a sparse weight vector over `nBuckets` term-hash buckets —
    * the classical text-embedding generator (retrieval scoring,
    * lightweight classifiers, clustering input for [[graft.sim.Similarity.knnJoin]])
    * when no learned encoder is in the loop. Buckets come from the
    * md5-derived hash ([[splitBucket]]'s discipline, not Spark's
    * engine-private murmur), so the featurization is reproducible in
    * ANY engine — a training pipeline can re-derive the same features
    * in its serving stack.
    *
    * Weights: w = tf · (ln((N+1)/(df+1)) + 1) (the smoothed-idf
    * convention), L2-normalized per document. N, tf, df are exact
    * integer aggregates; the per-document norm folds w² in BUCKET
    * order (the [[bm25TopK]] sorted-fold discipline), so the output is
    * bit-deterministic cross-engine.
    *
    * Scale shape: one tokenize pass → (doc_id, bucket) counts with
    * map-side combine; df is an O(nBuckets) aggregate joined back as a
    * broadcast (nBuckets is a constant, never vocabulary-sized — the
    * point of the hashing trick); the normalize step is one more
    * doc-key exchange of (doc_id, bucket, w) triples, never text.
    *
    * Output: (doc_id, bucket, w) sparse triples, weights
    * floor-truncated to 6 decimals.
    */
  def tfidf(docs: DataFrame, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    // tf is cached: df derives from it and w joins against it — without
    // this the df branch re-runs the whole tokenize pass (a second full
    // corpus scan, plan-verified); OpCaches-tracked
    val tf = graft.util.OpCaches.cache(bucketTf(docs, nBuckets))
    val n = docs.count()
    val dfreq = tf.groupBy(col("bucket"))
      .agg(count(lit(1)).cast("double").as("df"))
    tfidfScore(tf, smoothedIdf(dfreq, n), n)
  }

  /** Per-document term-hash-bucket counts — the shared tokenize pass of
    * the inline and store-backed TF-IDF paths. Buckets come from the
    * md5-derived hash (engine-portable, see [[tfidf]]).
    */
  private def bucketTf(docs: DataFrame, nBuckets: Int): DataFrame = docs
    .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    .select(col("doc_id"),
      (conv(md5(col("tok")).substr(1, 8), 16, 10).cast("long")
        % nBuckets).as("bucket"))
    .groupBy(col("doc_id"), col("bucket"))
    .agg(count(lit(1)).cast("double").as("tf"))

  /** idf = ln((N+1)/(df+1)) + 1 over a (bucket, df) frame — derived at
    * use time from the EXACT integer df counts (never persisted as a
    * double), so inline and store-backed scoring share one formula.
    */
  private def smoothedIdf(dfreq: DataFrame, n: Long): DataFrame =
    dfreq.select(col("bucket"),
      (log((lit(n.toDouble) + 1.0) / (col("df") + 1.0)) + 1.0).as("idf"))

  /** The weight+normalize half of TF-IDF, shared by [[tfidf]] and
    * [[tfidfFromStore]]: w = tf · idf, L2-normalized per document with
    * the bucket-ordered fold ([[bm25TopK]]'s sorted-fold discipline).
    * The idf join is a broadcast LEFT join: a batch bucket the fit
    * corpus never saw (possible only on the store path) takes the df=0
    * smoothed idf instead of dropping the term.
    */
  private def tfidfScore(tf: DataFrame, idf: DataFrame, n: Long): DataFrame = {
    val idf0 = log(lit(n.toDouble) + 1.0) + 1.0 // smoothed idf at df = 0
    // raw weights feed both the norm fold and the output join;
    // OpCaches-tracked
    val w = graft.util.OpCaches.cache(
      tf.join(broadcast(idf), Seq("bucket"), "left")
        .select(col("doc_id"), col("bucket"),
          (col("tf") * coalesce(col("idf"), idf0)).as("w")))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(aggregate(
        array_sort(collect_list(struct(col("bucket"), col("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w") * x.getField("w"))).as("nrm"))
    w.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"),
        (floor(col("w") / col("nrm") * 1e6) / 1e6).as("w"))
  }

  /** Persist the TF-IDF document-frequency model for
    * [[tfidfFromStore]] — the fit-once/featurize-many shape
    * ([[writeLmModel]]'s discipline): a daily batch must be featurized
    * under YESTERDAY'S df statistics or its features drift from the
    * serving index with every refit. Like the LM store, df is a count
    * model over a fixed fit corpus with no incremental append story, so
    * the store is a plain immutable snapshot: refit = rewrite.
    *
    * Layout at `path`: `df/` (bucket, df) — at most `nBuckets` rows of
    * exact integer counts — and `meta/` one row (n_docs, n_buckets).
    * One tokenize pass over the fit corpus builds both.
    */
  def writeTfidfModel(
      docs: DataFrame, path: String, nBuckets: Int = 1024): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    bucketTf(docs, nBuckets)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("df"))
      .write.mode("overwrite").parquet(s"$path/df")
    docs.agg(count(lit(1)).as("n_docs"))
      .withColumn("n_buckets", lit(nBuckets))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Featurize documents against a PERSISTED TF-IDF model
    * ([[writeTfidfModel]]): bit-identical to [[tfidf]] when the store
    * was fit on the same corpus (df and N are exact integers; idf is
    * derived at read with the shared [[smoothedIdf]] formula; the fold
    * discipline is shared), but the featurize pass never re-tokenizes
    * the fit corpus — the model join is an O(nBuckets) broadcast of a
    * pruned (bucket, df) parquet scan. Batch buckets unseen at fit time
    * take the df = 0 smoothed idf.
    */
  def tfidfFromStore(docs: DataFrame, path: String): DataFrame = {
    val spark = docs.sparkSession
    val meta = spark.read.parquet(s"$path/meta")
      .select(col("n_docs"), col("n_buckets")).head()
    val n = meta.getLong(0)
    val nBuckets = meta.getInt(1)
    val dfreq = spark.read.parquet(s"$path/df")
      .select(col("bucket"), col("df").cast("double").as("df"))
    val tf = graft.util.OpCaches.cache(bucketTf(docs, nBuckets))
    tfidfScore(tf, smoothedIdf(dfreq, n), n)
  }

  /** DSIR importance score (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS'23): rank raw-corpus
    * documents by how much they look like a TARGET distribution (a
    * high-quality reference set, a domain corpus) under hashed n-gram
    * features — the data-SELECTION step between dedup/quality-gate and
    * training. Each raw document's importance weight is the bag-of-
    * features log-likelihood ratio
    *
    *   score(d) = (1/|d|) Σ_{bigram g ∈ d} ln p̂_target(b(g)) − ln p̂_raw(b(g))
    *
    * over `nBuckets` hashed-bigram buckets (the paper's hashed n-gram
    * feature space; bigrams via [[graft.expr.PositionalShingleKeys]] —
    * the same md5-derived engine-portable arithmetic as the shingle
    * family, folded mod nBuckets). Bucket distributions are add-one
    * smoothed: p̂(b) = (cnt(b)+1)/(total+nBuckets), so unseen buckets
    * are finite on both sides. The length normalization (1/|d|) keeps
    * the score a per-token rate rather than a document-length proxy —
    * resampling then selects by score (e.g. [[qualitySample]]'s shape).
    *
    * Scale shape: one tokenize+bigram pass over each corpus (the raw
    * stream is cached — it feeds both the raw bucket counts and the
    * per-document fold); bucket counts are O(nBuckets) aggregates with
    * map-side combine; the score join is an O(nBuckets) BROADCAST (the
    * point of the hashing trick — the model is constant-size however
    * large the corpora grow); the per-document fold sorts by position
    * (the [[bm25TopK]] discipline) so scores are bit-deterministic
    * under any partitioning. Raw totals come to the driver as two
    * exact-integer scalars, like [[lmScore]]'s V.
    *
    * Output: (doc_id, n_bigrams, dsir_score) for every raw document
    * with ≥ 1 bigram, score floor-truncated to 6 decimals.
    */
  def dsirScore(
      raw: DataFrame, target: DataFrame, nBuckets: Int = 4096): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    def bigramBuckets(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"),
        explode(graft.expr.PositionalShingleKeys(tokens(col("text")), 2))
          .as("k"))
      .select(col("doc_id"), col("k.pos").as("pos"),
        ((col("k.u") * graft.dedup.Dedup.MinHashP + col("k.v"))
          % nBuckets).as("bucket"))
    val rawBg = graft.util.OpCaches.cache(bigramBuckets(raw))
    val targetBg = bigramBuckets(target)
    val rawCnt = rawBg.groupBy(col("bucket"))
      .agg(count(lit(1)).as("rc"))
    val targetCnt = targetBg.groupBy(col("bucket"))
      .agg(count(lit(1)).as("tc"))
    // totals as exact integer scalars (one row each to the driver)
    val rawTotal = rawBg.agg(count(lit(1))).collect()(0).getLong(0)
    val targetTotal = targetBg.agg(count(lit(1))).collect()(0).getLong(0)
    // per-bucket log ratio: raw counts carry every bucket the raw docs
    // can probe (the probe side IS the raw corpus), target counts join
    // in as 0 when absent; ≤ nBuckets rows ⇒ broadcast
    val model = rawCnt
      .join(targetCnt, Seq("bucket"), "left")
      .select(col("bucket"),
        (log((coalesce(col("tc"), lit(0L)) + lit(1.0)) /
            lit((targetTotal + nBuckets).toDouble)) -
          log((col("rc") + lit(1.0)) /
            lit((rawTotal + nBuckets).toDouble))).as("lr"))
    rawBg
      .join(broadcast(model), "bucket")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        aggregate(
          array_sort(collect_list(struct(col("pos"), col("lr")))),
          lit(0.0),
          (acc, x) => acc + x.getField("lr")).as("raw_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("raw_sum") / col("n_bigrams") * 1e6) / 1e6)
          .as("dsir_score"))
  }

  /** DSIR importance RESAMPLING — the selection step [[dsirScore]]
    * feeds (Xie et al. NeurIPS'23 §2: score, then sample without
    * replacement with probability ∝ exp(score)). Sampling-without-
    * replacement ∝ exp(s_i) is exactly Gumbel-top-k (Vieira 2014 /
    * Kool et al. ICML'19): draw g_i ~ Gumbel(0), keep the top-k by
    * s_i + g_i. Made REPRODUCIBLE with the [[hashUniform]] discipline
    * the pipeline's other draws use (`qualitySample`, `sourceMix`):
    * g_i = −ln(−ln(u_i)) with u_i the id-pure hash draw, so a re-run,
    * a different partitioning, or a different engine keeps exactly the
    * same documents. The key is floor-truncated to 6 decimals BEFORE
    * ranking (doc_id tiebreak), so the boundary of the selected set is
    * bit-deterministic across engines rather than hanging on libm's
    * last ulp — the same reason `dsir_score` itself is truncated.
    *
    * Scale shape: [[dsirScore]]'s one-pass shape, plus one O(1) count
    * to the driver for k = ⌈keepFraction·n⌉ and a TakeOrdered top-k —
    * never a global sort. The scored frame is cached: it feeds both
    * the count and the ranking.
    *
    * Output: (doc_id, dsir_score, g_key) for the ⌈keepFraction·n⌉
    * selected documents.
    */
  def dsirSample(
      raw: DataFrame, target: DataFrame,
      keepFraction: Double, nBuckets: Int = 4096): DataFrame = {
    require(keepFraction > 0.0 && keepFraction <= 1.0,
      s"keepFraction must be in (0,1], got $keepFraction")
    val scored = graft.util.OpCaches.cache(dsirScore(raw, target, nBuckets))
    val n = scored.count()
    val k = math.ceil(keepFraction * n).toInt
    scored
      .withColumn("g_key",
        floor((col("dsir_score") -
          log(-log(hashUniform(col("doc_id"), "dsir")))) * 1e6) / 1e6)
      .orderBy(col("g_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("dsir_score"), col("g_key"))
  }

  /** Positional phrase search: per-document occurrence count of an exact
    * consecutive-token phrase, top-k documents by hit count. The lexical
    * sibling of [[bm25TopK]] for queries where term ADJACENCY matters
    * ("new york" ≠ "york new") — the classic positional-index query of
    * IR engines (Manning et al., IIR §2.4).
    *
    * Deliberately NOT a positional-postings self-join: a posting-list
    * formulation shuffles (term, doc_id, pos) triples and joins them
    * `phrase.length − 1` times on `pos + i`. Here the token array is
    * checked IN PLACE with native higher-order functions — a `filter`
    * over the candidate start positions conjoining `element_at` probes —
    * so the whole match is one codegen'd map-only pass over the corpus;
    * the only exchange is the k-row TakeOrdered. At 100 TB that is the
    * difference between a corpus-sized shuffle and none.
    *
    * Output: (doc_id, n_hits) for matching docs, hit-count descending,
    * doc_id tiebreak, limit k.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    require(k > 0, "k must be positive")
    val m = phrase.length
    // candidate starts 0 .. size-m (0-based); sequence() with start >
    // stop generates a DESCENDING ramp in Spark, so the short-doc case
    // must short-circuit to an empty array rather than rely on it
    val starts = when(size(col("t")) >= m,
      sequence(lit(0), size(col("t")) - m))
      .otherwise(array().cast("array<int>"))
    val matchAt = (i: Column) =>
      phrase.zipWithIndex.map { case (w, j) =>
        // element_at is 1-based; i + j + 1 ≤ size by the starts guard
        element_at(col("t"), i + j + 1) === lit(w)
      }.reduce(_ && _)
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"),
        size(filter(starts, matchAt)).cast("long").as("n_hits"))
      .where(col("n_hits") > 0)
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  /** Linear text-classifier scoring — the fastText shape (Joulin et al.
    * EACL'17) that production pipelines use as the learned quality gate
    * (CCNet §4.3, LLaMA's Wikipedia-reference classifier): tokens hash
    * into `nBuckets` bag-of-words buckets, the bucket weights dot with
    * the document, the mean-pooled margin squashes through a sigmoid.
    *
    * The weight vector here is hash-DERIVED (each bucket's weight is a
    * deterministic function of its id) because no trained model ships
    * with a library — the operator's value is its SHAPE: the model is an
    * O(nBuckets) array literal riding the closure into every task
    * exactly like a broadcast (swap in trained floats and nothing else
    * changes), scoring is ONE tokenize scan with the per-document fold
    * in array order (the [[bm25TopK]] bit-determinism discipline), and
    * there is NO shuffle at all — the aggregate happens inside the
    * per-row `aggregate` lambda, not a groupBy. At 100 TB this is the
    * cheapest possible operator class: map-only, model O(kB).
    *
    * Output: (doc_id, n_tokens, cls_score) with cls_score ∈ (0, 1)
    * floor-truncated to 6 decimals.
    */
  def classifierScore(docs: DataFrame, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    // the "trained model": weight(b) = (H("w:b") mod 2001 − 1000)/1000 ∈
    // [−1, 1], H the engine-portable md5-prefix hash — derived ONCE on
    // the driver with exact integer arithmetic, shipped as an 8·nBuckets
    // byte array literal
    val weights = Array.tabulate(nBuckets) { b =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"w:$b".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        d.take(4).map(x => f"$x%02x").mkString, 16)
      (h % 2001 - 1000).toDouble / 1000.0
    }
    classifierScoreWith(docs, weights)
  }

  /** Score documents under an EXPLICIT per-bucket weight vector — the
    * shared scoring body of the classifier family ([[classifierScore]]'s
    * placeholder weights, [[classifierFit]]'s trained weights, and
    * [[classifierScoreFromStore]]'s persisted ones all land here). The
    * model is an O(nBuckets) array literal riding the closure into every
    * task; scoring is ONE tokenize scan with the per-document fold in
    * array order — map-only, no shuffle.
    */
  def classifierScoreWith(docs: DataFrame, weights: Array[Double]): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val nBuckets = weights.length
    val wlit = lit(weights)
    val weightOf = (tok: Column) =>
      element_at(wlit,
        (conv(md5(tok).substr(1, 8), 16, 10).cast("long") % nBuckets)
          .cast("int") + 1)
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        aggregate(col("t"), lit(0.0), (acc, tok) => acc + weightOf(tok))
          .as("raw"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(lit(1.0) / (lit(1.0) + exp(-(col("raw") / col("n_tokens"))))
          * 1e6) / 1e6).as("cls_score"))
  }

  /** Per-bucket labeled token counts — the sufficient statistics the
    * classifier fit trains on: (bucket, cp, cn) where cp/cn are EXACT
    * token-occurrence counts in the positive/negative class. One
    * tokenize scan + one ≤nBuckets-row aggregation; the counts (not the
    * derived float weights) are what the model store persists, the
    * integers-in-store discipline shared with the TF-IDF model.
    */
  def classifierCounts(
      docs: DataFrame, positive: Column, nBuckets: Int = 1024): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    docs
      .select(positive.cast("int").as("pos"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("pos"),
        (conv(md5(col("tok")).substr(1, 8), 16, 10).cast("long") % nBuckets)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("pos")).cast("long").as("cp"),
        sum(lit(1) - col("pos")).cast("long").as("cn"))
  }

  /** Closed-form classifier TRAINING — the step [[classifierScore]]'s
    * placeholder weights stand in for (CCNet §4.3 fits its quality gate
    * on labeled wiki-vs-crawl data). The fit is the Rocchio/centroid
    * solution over the hashed bag-of-words features:
    *
    *   w(b) = cp(b)/tp − cn(b)/tn
    *
    * the difference between the bucket's occurrence RATE in the positive
    * class and in the negative class — the exact minimizer of the
    * class-centroid distance objective, and deterministic BY ARITHMETIC:
    * every input is an exact integer count and each weight is two
    * correctly-rounded IEEE divisions and one subtraction (no libm), so
    * any engine derives bit-identical weights with no truncation step.
    *
    * Scale shape: one tokenize scan → one ≤nBuckets-row aggregation →
    * an O(nBuckets) totals head; the model never grows with the corpus.
    * Output: (bucket, w) for OBSERVED buckets (unseen buckets are 0 by
    * construction — both rates are 0).
    */
  def classifierFit(
      docs: DataFrame, positive: Column, nBuckets: Int = 1024): DataFrame = {
    val counts = graft.util.OpCaches.cache(
      classifierCounts(docs, positive, nBuckets))
    val t = counts.agg(sum(col("cp")), sum(col("cn"))).head()
    require(!t.isNullAt(0) && t.getLong(0) > 0 && t.getLong(1) > 0,
      "classifierFit needs at least one token in each class")
    val (tp, tn) = (t.getLong(0), t.getLong(1))
    counts.select(col("bucket"),
      (col("cp") * 1.0 / tp - col("cn") * 1.0 / tn).as("w"))
  }

  /** The fitted weights as a dense O(nBuckets) driver-side array
    * (missing buckets 0.0) — the model literal [[classifierScoreWith]]
    * ships to every task.
    */
  def classifierFitWeights(
      docs: DataFrame, positive: Column, nBuckets: Int = 1024): Array[Double] = {
    val w = new Array[Double](nBuckets)
    classifierFit(docs, positive, nBuckets).collect().foreach { r =>
      w(r.getLong(0).toInt) = r.getDouble(1)
    }
    w
  }

  /** Persist the classifier model: the EXACT integer sufficient
    * statistics (bucket, cp, cn) plus totals — never the derived float
    * weights, so a reader re-derives bit-identical weights with the
    * shared [[classifierFit]] formula (the TF-IDF model-store
    * discipline).
    */
  def writeClassifierModel(
      docs: DataFrame, positive: Column, path: String,
      nBuckets: Int = 1024): Unit = {
    val counts = graft.util.OpCaches.cache(
      classifierCounts(docs, positive, nBuckets))
    counts.write.mode("overwrite").parquet(s"$path/counts")
    // coalesce: SUM over zero rows is NULL — an empty-corpus store must
    // carry tp=tn=0 so the reader's empty-class require fires loudly
    // instead of a null-row access deep in the meta read
    counts.agg(
        coalesce(sum(col("cp")), lit(0L)).cast("long").as("tp"),
        coalesce(sum(col("cn")), lit(0L)).cast("long").as("tn"))
      .withColumn("n_buckets", lit(nBuckets))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Score documents under a PERSISTED classifier model
    * ([[writeClassifierModel]]): weights are re-derived from the stored
    * integer counts (an O(nBuckets) collect), so the result is
    * bit-identical to scoring under an inline [[classifierFit]] on the
    * fit corpus — fit once, score any batch, the
    * fit-once/featurize-many shape.
    */
  def classifierScoreFromStore(docs: DataFrame, path: String): DataFrame = {
    val spark = docs.sparkSession
    val meta = spark.read.parquet(s"$path/meta")
      .select(col("tp"), col("tn"), col("n_buckets")).head()
    // null-safe: a pre-round-18 store written from an empty corpus
    // carries NULL totals (SUM over zero rows) — read them as 0 so the
    // empty-class require below is the error, not a null-row access
    val tp = if (meta.isNullAt(0)) 0L else meta.getLong(0)
    val tn = if (meta.isNullAt(1)) 0L else meta.getLong(1)
    val nBuckets = meta.getInt(2)
    require(tp > 0 && tn > 0,
      s"stored classifier model at $path has an empty class (tp=$tp tn=$tn)")
    val w = new Array[Double](nBuckets)
    spark.read.parquet(s"$path/counts").collect().foreach { r =>
      val b = r.getLong(r.fieldIndex("bucket")).toInt
      require(b >= 0 && b < nBuckets,
        s"corrupt classifier store at $path: counts row has bucket $b " +
          s"outside the meta-declared n_buckets=$nBuckets " +
          "(mixed or partially-overwritten store?)")
      w(b) = r.getLong(r.fieldIndex("cp")) * 1.0 / tp -
        r.getLong(r.fieldIndex("cn")) * 1.0 / tn
    }
    classifierScoreWith(docs, w)
  }

  /** CCNet-style perplexity terciles (Wenzek et al. LREC'20 §4.3): rank
    * every document by its [[lmScore]] (low = fluent, in-distribution)
    * and split the corpus into equal-count `head` / `middle` / `tail`
    * buckets — the standard coarse quality partition that downstream
    * mixes sample from (head kept, middle down-weighted, tail dropped).
    *
    * Rank-based, not threshold-based, ON PURPOSE: a percentile threshold
    * compares doubles at an interpolated boundary (engine last-ulp
    * territory), while an NTILE over (lm_score, doc_id) is pure integer
    * arithmetic once the order is fixed. The global rank uses the
    * [[graft.kmeans.Ops.splitContiguous]] discipline — range-partition
    * on the sort key, per-partition counts to the driver (one tiny
    * aggregate), global rank = partition offset + LOCAL row_number — so
    * no `Window.orderBy` with an empty partition spec ever drags the
    * corpus through one task. NTILE remainder semantics (first `n mod 3`
    * buckets take the extra row) are replicated exactly.
    *
    * Output: (ppl_bucket, n_docs, sum_tokens, min_score, max_score),
    * one row per non-empty bucket.
    */
  def pplBuckets(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    // stage barrier, not a plain cache (r20; the pipelineSurvivors
    // discipline): the range partitioning is sample-based
    // (nondeterministic across jobs) and feeds both the count collect
    // and the ranked plan — a lazy checkpoint BOTH pins it (the cache's
    // old job) AND plans the second consumer against a leaf instead of
    // re-analyzing the whole lmScore tree (two shuffle joins over the
    // cached train-bigram stream; ~0.3 s of Catalyst per extra pass,
    // guide §7.3). The counts collect below is the materializing action.
    val ranged = graft.util.Checkpoints.checkpointTracked(
      lmScore(docs)
        .repartitionByRange(col("lm_score"), col("doc_id"))
        .withColumn("_pidx", spark_partition_id()),
      eager = false)
    val counts = ranged.groupBy(col("_pidx")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    if (counts.isEmpty)
      return spark.emptyDataFrame.select(
        lit("head").as("ppl_bucket"), lit(0L).as("n_docs"),
        lit(0L).as("sum_tokens"), lit(0.0).as("min_score"),
        lit(0.0).as("max_score"))
    val total = counts.map(_._2).sum
    val q = total / 3
    val rem = total % 3
    var acc = 0L
    val offsets = counts.map { case (p, c) => val o = (p, acc); acc += c; o }
    val offsetCol = element_at(
      map(offsets.flatMap { case (p, o) =>
        Seq(lit(p), lit(o)) }.toIndexedSeq: _*),
      col("_pidx"))
    val w = Window.partitionBy(col("_pidx"))
      .orderBy(col("lm_score"), col("doc_id"))
    // NTILE(3) from the 1-based global rank r: the first `rem` buckets
    // hold q+1 rows each. Column./ is DOUBLE division — the explicit
    // floor keeps this integer arithmetic (exact: ranks ≪ 2^53)
    val r = row_number().over(w).cast("long") + offsetCol
    val bucket = when(r <= rem * (q + 1),
      floor((r - 1) / lit((q + 1).toDouble)).cast("long"))
      .otherwise(lit(rem) +
        floor((r - 1 - rem * (q + 1)) / lit(math.max(q, 1L).toDouble))
          .cast("long"))
    ranged
      .withColumn("b", bucket)
      .groupBy(col("b"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("lm_score")).as("min_score"),
        max(col("lm_score")).as("max_score"))
      .select(
        when(col("b") === 0, "head")
          .when(col("b") === 1, "middle")
          .otherwise("tail").as("ppl_bucket"),
        col("n_docs"), col("sum_tokens"),
        col("min_score"), col("max_score"))
  }

  /** Per-source quality calibration: each document's [[qualityScore]]
    * decile WITHIN its source (NTILE(nBuckets) over (q, doc_id) per
    * source) — the standard pre-mixing normalization: raw quality scores
    * are not comparable across sources (a median web page and a median
    * reference page score very differently), so per-source mixing rates
    * are expressed against each source's OWN distribution.
    *
    * The [[pplBuckets]] offsets discipline generalized to grouped
    * ranking: range-partition on (source, q, doc_id), collect per
    * (partition, source) counts (≤ partitions × sources tiny rows — the
    * group keys of a pre-aggregated map-side combine, NOT data), and the
    * per-source global rank is the (partition, source) offset plus a
    * `Window.partitionBy(_pidx, source)` row_number. No per-source
    * single-task sort ever happens — the naive
    * `Window.partitionBy(source).orderBy(q)` drags each source's entire
    * corpus (billions of rows at 100 TB for a web-scale source) through
    * ONE task; here every task ranks only its own slice. NTILE remainder
    * semantics (first `total mod n` buckets take one extra row) are
    * replicated exactly in integer arithmetic.
    *
    * Output: (doc_id, source, q, cal_decile) with cal_decile 1-based.
    */
  def qualityCalibration(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = docs.sparkSession
    val scored = docs.select(
      col("doc_id"), col("source"),
      (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q"))
    // cached: the range partitioning is sample-based (nondeterministic
    // across jobs) and feeds both the count collect and the ranked plan
    val ranged = graft.util.OpCaches.cache(
      scored
        .repartitionByRange(col("source"), col("q"), col("doc_id"))
        .withColumn("_pidx", spark_partition_id()))
    val counts = ranged
      .groupBy(col("_pidx"), col("source")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    if (counts.isEmpty)
      return spark.emptyDataFrame.select(
        lit(0L).as("doc_id"), lit("").as("source"),
        lit(0.0).as("q"), lit(0L).as("cal_decile"))
    // per-source cumulative offsets keyed by "pidx:source"; totals per
    // source — both tiny driver-side literals (sources × partitions)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val totals = scala.collection.mutable.Map.empty[String, Long]
    counts.foreach { case (p, s, c) =>
      val acc = totals.getOrElse(s, 0L)
      offsets += (s"$p:$s" -> acc)
      totals(s) = acc + c
    }
    val offsetCol = element_at(
      map(offsets.toSeq.flatMap { case (k, o) =>
        Seq(lit(k), lit(o)) }.toIndexedSeq: _*),
      concat(col("_pidx").cast("string"), lit(":"), col("source")))
    val totalCol = element_at(
      map(totals.toSeq.flatMap { case (s, t) =>
        Seq(lit(s), lit(t)) }.toIndexedSeq: _*),
      col("source"))
    val w = Window.partitionBy(col("_pidx"), col("source"))
      .orderBy(col("q"), col("doc_id"))
    val r = row_number().over(w).cast("long") + offsetCol
    // NTILE(n) from the 1-based per-source rank: qsize = total / n,
    // rem = total % n; the first rem buckets hold qsize+1 rows. Column./
    // is DOUBLE division — floor keeps it exact (ranks ≪ 2^53); for
    // total < n, qsize = 0 and every rank lands in the rem branch,
    // degenerating to one row per bucket — NTILE's exact semantics.
    val qsize = floor(totalCol / lit(nBuckets.toDouble)).cast("long")
    val rem = totalCol % nBuckets
    val bucket = when(r <= rem * (qsize + 1L),
      floor((r - 1L) / (qsize + 1L).cast("double")).cast("long"))
      .otherwise(rem +
        floor((r - 1L - rem * (qsize + 1L)) /
          greatest(qsize, lit(1L)).cast("double")).cast("long"))
    ranged
      .select(
        col("doc_id"), col("source"), col("q"),
        (bucket + 1L).as("cal_decile"))
  }

  /** Per-source document cap: keep at most `cap` documents per source,
    * best [[qualityScore]] first (doc_id ascending as the deterministic
    * tiebreak) — the RefinedWeb/C4-style domain cap that stops any
    * single domain from dominating the mixture, applied here at source
    * granularity (at web scale `source` is the registered domain).
    *
    * Ranking discipline: the [[qualityCalibration]] offsets pattern —
    * range-partition on (source, q DESC, doc_id), collect per
    * (partition, source) counts (group keys, not data), and compute the
    * per-source global rank as the partition offset plus a
    * `Window.partitionBy(_pidx, source)` row_number — a web-scale
    * source never drags its corpus through one task. On top of that,
    * the cap adds the [[tokenBudgetSelect]] prefix prune: a
    * (partition, source) slice whose offset already ≥ `cap` cannot
    * contribute a kept row, so those partitions' rows are filtered out
    * BEFORE the ranking window ever sorts them — with a web-scale
    * source and a small cap, all but the first slice of that source
    * skips the window entirely.
    *
    * Output: (doc_id, source, q, rnk) for kept docs, rnk 1-based per
    * source.
    */
  def sourceCap(docs: DataFrame, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    perSourceRankCap(
      docs.select(
        col("doc_id"), col("source"),
        (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q")),
      valueCol = "q", cap = cap, descending = true)
  }

  /** RefinedWeb-style per-DOMAIN cap: top-`cap` docs per registrable
    * domain by quality. The domain is DERIVED on the scan — canonical
    * host of the doc's URL ([[UrlOps.canonicalizeUrl]] → [[UrlOps.urlHost]])
    * reduced to eTLD+1 under the mini-PSL ([[UrlOps.registrableDomain]]),
    * a pure map-side projection — then the [[sourceCap]] ranking engine
    * runs with the domain as the group key: per-(range-partition,
    * domain) offsets + prefix prune + a (_pidx, domain) window, never a
    * per-domain single-task sort. At 100 TB a hot domain (the reason
    * this cap exists) is exactly the key that must not serialize
    * through one task.
    *
    * Output: (doc_id, domain, q, rnk) for the kept docs.
    */
  def domainCap(docs: DataFrame, urlCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    perSourceRankCap(
      docs.select(
        col("doc_id"),
        UrlOps.registrableDomain(
          UrlOps.urlHost(UrlOps.canonicalizeUrl(col(urlCol)))).as("domain"),
        (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q")),
      valueCol = "q", cap = cap, descending = true, groupCol = "domain")
  }

  /** Deterministic exact-k uniform sample per source (sampling WITHOUT
    * replacement): rank each source's documents by the id-pure
    * [[hashUniform]] draw and keep the k smallest — the per-stratum
    * eval-subset / inspection-sample step. Where [[qualitySample]] is
    * rate-based (output size binomial) and [[sourceMix]] targets
    * SHARES, this pins an exact per-source COUNT, reproducible across
    * runs, partitionings, and engines. Same ranking discipline as
    * [[sourceCap]] (offsets + pre-window prune), same 100 TB shape.
    *
    * Output: (doc_id, source, u, rnk) for the k kept docs per source.
    */
  def stratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    perSourceRankCap(
      docs.select(
        col("doc_id"), col("source"),
        hashUniform(col("doc_id"), "strat").as("u")),
      valueCol = "u", cap = k, descending = false)
  }

  /** Shared engine of [[sourceCap]] / [[stratifiedSample]]: the global
    * per-source rank along (`valueCol` asc|desc, doc_id asc), computed
    * with the [[qualityCalibration]] offsets discipline (range
    * partition + per-(partition, source) offsets + a (_pidx, source)
    * window — no per-source single-task sort) plus the
    * [[tokenBudgetSelect]] prefix prune: a (partition, source) slice
    * whose offset already ≥ `cap` cannot contribute a kept row, so its
    * rows are filtered out BELOW the window and never sorted. Returns
    * rows with rank <= cap as (doc_id, source, <valueCol>, rnk).
    */
  private def perSourceRankCap(
      scored: DataFrame, valueCol: String, cap: Int,
      descending: Boolean, groupCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    val ord = if (descending) col(valueCol).desc else col(valueCol).asc
    // cached: the range partitioning is sample-based (nondeterministic
    // across jobs) and feeds both the count collect and the ranked plan
    val ranged = graft.util.OpCaches.cache(
      scored
        .repartitionByRange(col(groupCol), ord, col("doc_id"))
        .withColumn("_pidx", spark_partition_id()))
    val counts = ranged
      .groupBy(col("_pidx"), col(groupCol)).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1))
    if (counts.isEmpty)
      return spark.emptyDataFrame.select(
        lit(0L).as("doc_id"), lit("").as(groupCol),
        lit(0.0).as(valueCol), lit(0L).as("rnk"))
    // per-source cumulative offsets keyed by "pidx:source" — kept ONLY
    // where offset < cap (the prefix prune: any later slice of that
    // source starts past the cap, so element_at misses → null → dropped)
    val offsets = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val acc = scala.collection.mutable.Map.empty[String, Long]
    counts.foreach { case (p, s, c) =>
      val off = acc.getOrElse(s, 0L)
      if (off < cap) offsets += (s"$p:$s" -> off)
      acc(s) = off + c
    }
    val offsetCol = element_at(
      map(offsets.toSeq.flatMap { case (k, o) =>
        Seq(lit(k), lit(o)) }.toIndexedSeq: _*),
      concat(col("_pidx").cast("string"), lit(":"), col(groupCol)))
    val w = Window.partitionBy(col("_pidx"), col(groupCol))
      .orderBy(ord, col("doc_id"))
    ranged
      .withColumn("_off", offsetCol)
      .where(col("_off").isNotNull)
      .withColumn("rnk", row_number().over(w).cast("long") + col("_off"))
      .where(col("rnk") <= cap)
      .select(col("doc_id"), col(groupCol), col(valueCol), col("rnk"))
  }

  /** Full per-document text-analysis projection over a `documents`-shaped
    * frame (doc_id, text, ...).
    */
  def analyze(docs: DataFrame): DataFrame =
    docs.select(
      (Seq(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        langId(col("text")).as("lang_pred"),
        // truncate, don't round: the quality formula produces exact decimal
        // fractions that land ON the .5 boundary of the 6th digit, where
        // Spark (binary HALF_UP) and DuckDB (decimal-rendered round)
        // disagree; floor(x*1e6)/1e6 is bit-deterministic in both
        (floor(qualityScore(col("text")) * 1e6) / 1e6).as("quality"),
        fingerprint(col("text")).as("fp")) ): _*)

  /** Per-source corpus DATA CARD — the one-query release report: volume
    * (docs, tokens), exact-duplicate rate, language-label agreement
    * (declared `lang` vs [[langId]] prediction), and the quality
    * distribution (p50/min/max). One map-only analysis projection into
    * ONE aggregation.
    *
    * Determinism across engines is by construction: every aggregate is
    * order-independent — counts, long sums, count-distinct, min/max over
    * the truncated score, and the exact interpolated percentile (a
    * function of the sorted values). No double SUM/AVG appears anywhere:
    * a floating mean's value depends on partial-aggregation order, so
    * rates are integer-counted and divided once at the end.
    *
    * Scale: count_distinct(fp) is the one exchange that carries keys
    * (fingerprints, never text); exact `percentile` buffers each
    * source's scores — swap `percentile_approx` past the point a single
    * source's doc count stresses executor memory
    * (the a5_percentiles_sketch contrast).
    */
  def corpusReport(docs: DataFrame): DataFrame = {
    val perDoc = docs.select(
      col("source"),
      col("lang"),
      tokenCount(col("text")).as("n_toks"),
      langId(col("text")).as("lang_pred"),
      (floor(qualityScore(col("text")) * 1e6) / 1e6).as("q"),
      fingerprint(col("text")).as("fp"))
    perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        countDistinct(col("fp")).as("n_unique"),
        sum(when(col("lang_pred") === col("lang"), 1L).otherwise(0L))
          .as("n_lang_match"),
        // nearest-rank median: the ⌈n/2⌉-th smallest truncated score is
        // an exact datum (the prototypeOutliers cut discipline) — no
        // cross-engine interpolation arithmetic; the per-group buffer is
        // the same memory class `percentile` carried before
        element_at(sort_array(collect_list(col("q"))),
          ceil(lit(0.5) * count(lit(1))).cast("int")).as("q_p50"),
        min(col("q")).as("q_min"),
        max(col("q")).as("q_max"))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("n_unique"),
        round((col("n_docs") - col("n_unique")) / col("n_docs"), 6)
          .as("dup_rate"),
        round(col("n_lang_match") / col("n_docs"), 6).as("lang_match_rate"),
        col("q_p50"), col("q_min"), col("q_max"))
  }

  // ---- BPE vocabulary training (Sennrich et al. ACL'16) ----------------

  /** The distinct-word dictionary BPE trains on: one corpus pass groups
    * normalized whitespace words, keeping (w, syms, cnt) where `syms` is
    * the word split into characters (`regexp_extract_all(w, '.')` — the
    * one char-split spelling with identical semantics in Java and RE2;
    * words are whitespace-split so '.' never misses a byte). This is the
    * paper's dictionary trick: every later merge iteration touches only
    * DISTINCT words weighted by count, never the corpus again — at 100 TB
    * the dictionary is orders of magnitude smaller than the token stream,
    * and it is the ONLY thing the iteration loop caches.
    */
  def bpeWordDict(docs: DataFrame, eow: Boolean = false): DataFrame = {
    val chars = regexp_extract_all(col("w"), lit("."), lit(0))
    // `eow` appends the Sennrich ACL'16 §3.2 end-of-word marker `</w>`
    // as a final symbol, so merges can tell word-FINAL pairs from
    // word-internal ones (e.g. "b</w>" vs "b·c") — the paper's
    // restorable-segmentation detail the bare char split lacks. It is
    // just another symbol to the merge loop and the oracle CTEs.
    val syms = if (eow) concat(chars, array(lit(BpeEow))) else chars
    docs.select(explode(split(normalize(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), syms.as("syms"), col("cnt"))
  }

  /** The end-of-word marker [[bpeWordDict]] appends under `eow`. */
  val BpeEow = "</w>"

  /** Apply ONE merge (l, r) to a symbol array, greedy leftmost
    * non-overlapping (the BPE application rule): fold left, replacing the
    * accumulator's last element with l||r whenever it is `l` and the
    * incoming symbol is `r`. A just-merged l||r can never equal `l` again
    * (r is non-empty), so overlapping matches resolve leftmost-first —
    * "aaa" under (a,a) becomes [aa, a], never [a, aa]. `try_element_at`
    * keeps the empty-accumulator probe NULL-safe under ANSI mode.
    */
  def bpeMergeStep(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(try_element_at(acc, lit(-1)) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Fit a BPE merge table on the corpus and return BOTH the merge list
    * (step, lhs, rhs, cnt — cnt the weighted pair count that won the
    * step) and the final merged dictionary (w, syms, cnt). Stops early
    * when no adjacent pair remains (every word fused to one token).
    *
    * DETERMINISTIC: pair counts are exact integer sums over the word
    * dictionary; each step's winner is the (count DESC, lhs ASC, rhs ASC)
    * head — a TakeOrdered(1), never a global sort — so ties break
    * lexicographically in both engines.
    *
    * Scale shape (the [[graft.kmeans.OpsN.initKMeansParallel]] driver-loop
    * discipline): the corpus-sized work is the ONE [[bpeWordDict]]
    * tokenize+count pass; each of the K iterations then runs ONE
    * dictionary-sized job — the adjacent-pair count (positions exploded
    * from the dict, one partial+final aggregation, 1-row collect).
    *
    * r19 driver-cost rework (measured: only 2.1 s of the key's 8.2 s
    * wall was job execution — the rest was Catalyst re-analyzing an
    * ever-deeper merge chain, plus one cache-pinning count() job per
    * step):
    *   - each step's dictionary is a LAZY `localCheckpoint` — a
    *     `LogicalRDD` LEAF, so step k's planning sees (leaf + one merge
    *     projection + the pair-count aggregate), never k nested
    *     [[bpeMergeStep]] layers (guide §7.3: very large plans make
    *     planning itself the bottleneck; materializing intermediates
    *     truncates them);
    *   - the pair-count collect IS the job that materializes the new
    *     checkpoint (its aggregate scans every partition), so the old
    *     per-step count() job is gone: K+1 jobs for K merges, down
    *     from 2K+1 (only the LAST step, whose winner nobody needs,
    *     still pays a bare count() to pin its blocks).
    * Superseded checkpoints release eagerly (the
    * [[graft.dedup.Dedup.dupGroups]] discipline), and EVERY step's
    * releaser is also OpCaches-registered at creation so a failure
    * mid-loop can't orphan the live step's blocks (idempotent thunks;
    * the harness sweep is the failure-path cleanup and releases the
    * returned dict). Local checkpoints trade executor-loss recompute
    * for the flat plan — on a multi-node 100 TB run set a checkpoint
    * dir on the context ([[graft.util.Checkpoints]]),
    * exactly as in the e2e pipeline (SparkEntry's pipelineSurvivors
    * note).
    */
  def bpeFitWithDict(
      docs: DataFrame, merges: Int,
      eow: Boolean = false): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(merges >= 1, s"merges must be >= 1, got $merges")
    val spark = docs.sparkSession
    import spark.implicits._
    // the winning adjacent pair of `d` — a full scan of `d` (the
    // aggregate computes every input partition), so running it on a
    // freshly lazy-checkpointed dictionary both materializes the
    // checkpoint blocks and returns the next step's winner in one job
    def topPair(d: DataFrame): Array[(String, String, Long)] = d
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), col("syms"),
        explode(sequence(lit(1), size(col("syms")) - 1)).as("i"))
      .select(
        element_at(col("syms"), col("i")).as("l"),
        element_at(col("syms"), col("i") + 1).as("r"),
        col("cnt"))
      .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("c"))
      .orderBy(desc("c"), asc("l"), asc("r")).limit(1)
      .as[(String, String, Long)].collect()
    // every step's releaser is ALSO OpCaches-tracked the moment the
    // checkpoint exists (thunks are idempotent): a job failure mid-loop
    // otherwise orphans the live step's checkpoint blocks — invisible to
    // both clearCache() and releaseAll — for the session lifetime
    // (round-20 ADVICE). The in-loop release below stays: it bounds live
    // storage at ~2 steps; the registry entry is the failure-path sweep.
    def ckptTracked(df: DataFrame): (DataFrame, () => Unit) = {
      val (c, release) = graft.util.Checkpoints.checkpoint(df, eager = false)
      graft.util.OpCaches.track(spark, release)
      (c, release)
    }
    var (dict, releaseDict) = ckptTracked(bpeWordDict(docs, eow))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1L
    // materializes the initial dict checkpoint AND yields step 1's winner
    var top = topPair(dict)
    while (step <= merges && top.nonEmpty) {
      val (l, r, c) = top.head
      out += ((step, l, r, c))
      val (next, releaseNext) = ckptTracked(dict.select(
        col("w"), bpeMergeStep(col("syms"), l, r).as("syms"), col("cnt")))
      // one job: materialize `next` + (except after the final merge,
      // where no further winner is needed) the NEXT step's pair count
      if (step < merges) top = topPair(next)
      else { next.count(); top = Array.empty }
      releaseDict() // `next` is materialized; the old step is unreachable
      dict = next
      releaseDict = releaseNext
      step += 1
    }
    // the returned dict's checkpoint blocks outlive this call (callers
    // write it to the store / apply it) — released by the harness sweep
    // via the registration ckptTracked already made
    (out.toSeq, dict)
  }

  /** The merge table alone: (step, lhs, rhs, cnt). */
  def bpeFit(docs: DataFrame, merges: Int, eow: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeFitWithDict(docs, merges, eow)._1.toDF("step", "lhs", "rhs", "cnt")
  }

  // ---- persisted BPE fit (fit once, featurize many) ---------------------

  /** Bump when the FIT SEMANTICS change (normalization, char split,
    * winner tiebreak, merge rule…): a persisted fit from an older
    * semantics must never silently serve a newer reader.
    */
  private val BpeStoreVersion = 1

  /** Cheap corpus identity for store validation: (row count, doc_id
    * sum) off a column-pruned scan. Not cryptographic — it guards
    * against the real staleness modes (different SF dir contents,
    * regenerated fixtures, truncated corpus), not adversarial input.
    */
  private def bpeFingerprint(docs: DataFrame): (Long, Long) = {
    val r = docs.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Fit on `docs` and persist the model — merge table, final merged
    * dictionary, and a meta row (merges, eow, fit version, corpus
    * fingerprint) — as a snapshot-style store (overwrite-only, the
    * TF-IDF/classifier model-store discipline; no segments, no
    * tombstones). Returns the merge table read back FROM the store, so
    * the training key and any later [[bpeModelOrFit]] reader serve
    * byte-identical parquet rows.
    */
  def bpeFitStore(
      docs: DataFrame, merges: Int, path: String,
      eow: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (n, idSum) = bpeFingerprint(docs)
    val (ms, dict) = bpeFitWithDict(docs, merges, eow)
    ms.toDF("step", "lhs", "rhs", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    dict.write.mode("overwrite").parquet(s"$path/dict")
    Seq((merges, eow, BpeStoreVersion, n, idSum))
      .toDF("merges", "eow", "version", "n_docs", "id_sum")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    dict.unpersist(blocking = false)
    spark.read.parquet(s"$path/merges")
  }

  /** The fitted model for `docs`, fit at most once: if `path` holds a
    * fit whose meta matches (same merges, eow, fit version, corpus
    * fingerprint) it is READ — lineage is a parquet scan, the K-step
    * training loop never re-runs — otherwise [[bpeFitStore]] fits and
    * persists it first. This is what keeps the apply/stats/pack
    * consumers from each re-paying the training loop the `tx_bpe_fit`
    * key already paid (fit-once/featurize-many).
    * Returns (merge table, final merged dictionary).
    */
  def bpeModelOrFit(
      docs: DataFrame, merges: Int, path: String,
      eow: Boolean = false): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (n, idSum) = bpeFingerprint(docs)
    val fresh = fs.exists(metaPath) && {
      val m = spark.read.parquet(s"$path/meta").head()
      m.getInt(m.fieldIndex("merges")) == merges &&
        m.getBoolean(m.fieldIndex("eow")) == eow &&
        m.getInt(m.fieldIndex("version")) == BpeStoreVersion &&
        m.getLong(m.fieldIndex("n_docs")) == n &&
        m.getLong(m.fieldIndex("id_sum")) == idSum
    }
    if (!fresh) bpeFitStore(docs, merges, path, eow)
    (spark.read.parquet(s"$path/merges"), spark.read.parquet(s"$path/dict"))
  }

  /** Per-document token counts under the FITTED vocabulary: fit the merge
    * table, then count each document's post-merge tokens. The apply step
    * is a DICTIONARY JOIN, never a per-row re-derivation: a corpus word's
    * post-merge token count is `size(syms)` in the fitted dictionary, so
    * per-doc counts are one exploded-word join against the (small) dict
    * plus one sum — the same fit-once/featurize-many shape as the TF-IDF
    * store. The join key is the word; AQE broadcasts the dict side when
    * it fits (it is |vocab|-sized, not corpus-sized), and the shuffle
    * fallback is bit-identical when it does not — the counted-cap
    * discipline without a hand-rolled route.
    *
    * Output: (doc_id, bpe_fit_tokens); documents with no words are absent
    * (no tokens to count), matching the oracle's inner join.
    */
  def bpeApplyCounts(docs: DataFrame, merges: Int): DataFrame =
    bpeApplyCountsWith(docs, bpeFitWithDict(docs, merges)._2)

  /** [[bpeApplyCounts]] under an ALREADY-FITTED dictionary (inline or
    * read from a [[bpeFitStore]] store) — the apply leg alone.
    */
  def bpeApplyCountsWith(docs: DataFrame, dict: DataFrame): DataFrame = {
    val wordToks = dict.select(col("w"), size(col("syms")).cast("long").as("wt"))
    docs.select(col("doc_id"),
        explode(split(normalize(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(wordToks, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("wt")).as("bpe_fit_tokens"))
  }

  /** Tokenizer-evaluation card per source under the FITTED vocabulary —
    * the acceptance step after a BPE fit: FERTILITY (post-merge tokens
    * per whitespace word; 1.0 = every word fused, higher = more
    * splitting) and COMPRESSION (word characters per post-merge token),
    * the two numbers a pipeline inspects before adopting a vocab (high
    * fertility on a language = that language pays more sequence length
    * per word). Same dictionary-join shape as [[bpeApplyCounts]] —
    * integer sums per source, each rate ONE exact IEEE division at the
    * end (no floating accumulation), so any engine derives identical
    * doubles.
    *
    * Output: (source, n_words, n_bpe_tokens, n_chars, fertility,
    * chars_per_token).
    */
  def bpeStats(docs: DataFrame, merges: Int): DataFrame =
    bpeStatsWith(docs, bpeFitWithDict(docs, merges)._2)

  /** [[bpeStats]] under an ALREADY-FITTED dictionary. */
  def bpeStatsWith(docs: DataFrame, dict: DataFrame): DataFrame = {
    val wordToks = dict.select(col("w"),
      size(col("syms")).cast("long").as("wt"),
      length(col("w")).cast("long").as("wc"))
    docs.select(col("source"),
        explode(split(normalize(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(wordToks, Seq("w"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("wt")).as("n_bpe_tokens"),
        sum(col("wc")).as("n_chars"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        col("n_chars"),
        (col("n_bpe_tokens") * 1.0 / col("n_words")).as("fertility"),
        (col("n_chars") * 1.0 / col("n_bpe_tokens")).as("chars_per_token"))
  }
}
