package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.kmeans.{Ops, OpsN, SparkTestSession}

/** Physical-plan shape assertions — the properties that keep the engine
  * viable at 100 TB (SURVEY.md §4.2): scans prune columns and push filters,
  * the centroid side of the assignment join broadcasts, aggregations are
  * partial+final hash aggregates, and the hot paths stay inside
  * whole-stage codegen.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan

  /** Plan string INCLUDING cached subtrees: a cached frame renders as an
    * opaque InMemoryTableScan node, so `executedPlan.toString` alone
    * silently excludes the cached child plan from shape assertions —
    * exactly the join-heavy stages an OpCaches-wrapped pipeline hides.
    * Walks InMemoryTableScanExec nodes (recursively: a cached plan can
    * itself scan another cache) and appends each relation's cachedPlan.
    */
  private def deepPlanString(plan: SparkPlan): String = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val cached = plan.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    plan.toString + cached.map(deepPlanString).mkString("\n")
  }

  test("parquet scan prunes to the projected columns (ReadSchema)") {
    val df = Ops.pointsFromLineitem(Graft.table(spark, sf, "lineitem"))
    val scan = executed(df).toString
    assert(scan.contains("l_orderkey") && scan.contains("l_extendedprice"))
    // a pruned scan must NOT read unrelated wide columns
    assert(!scan.contains("l_comment"), "scan reads l_comment — no pruning")
  }

  test("filters push down to the parquet scan (PushedFilters)") {
    val df = Graft.table(spark, sf, "lineitem").filter(col("l_orderkey") > 100)
      .select("l_orderkey")
    val plan = executed(df).toString
    assert(
      plan.contains("PushedFilters: [") && plan.contains("GreaterThan(l_orderkey"),
      s"filter not pushed:\n${plan.take(800)}")
  }

  test("assignCrossJoin broadcasts the centroid side") {
    val p = Ops.pointsFromLineitem(Graft.table(spark, sf, "lineitem"))
    val plan = executed(Ops.assignCrossJoin(p, Ops.initFirstK(p, 4))).toString
    assert(plan.contains("Broadcast"), s"no broadcast in:\n${plan.take(800)}")
  }

  test("shuffle-free assign: no exchange, fully codegen'd projection") {
    val p = Ops.pointsFromLineitem(Graft.table(spark, sf, "lineitem"))
    val centroids = Ops.collectCentroids(Ops.initFirstK(p, 4))
    val plan = executed(Ops.assign(p, centroids)).toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n${plan.take(800)}")
    // the K-way argmin is one nearest_centroid node over array(x, y)
    assert("nearest_centroid".r.findAllIn(plan).size === 1, plan.take(1200))
    // it keeps every Project inside whole-stage codegen ("*(n)"
    // prefixes); an un-starred Project would mean an interpreted
    // fallback in the hot path
    assert(plan.contains("*("), s"no codegen span in:\n${plan.take(800)}")
    assert(
      plan.linesIterator.count(_.contains("Project")) ===
        plan.linesIterator.count(l => l.contains("*(") && l.contains("Project")),
      s"interpreted Project present:\n${plan.take(1200)}")
  }

  test("bucketed tables join with no shuffle exchange") {
    import graft.storage.Bucketing
    val p = Ops.pointsFromLineitem(Graft.table(spark, sf, "lineitem"))
    val assigned = Ops.assign(p, Ops.collectCentroids(Ops.initFirstK(p, 4)))
    Bucketing.writeBucketed(
      assigned.select(col("cid"), col("x")), "graft_bkt_a", "cid", 4)
    Bucketing.writeBucketed(
      assigned.select(col("cid"), col("y")), "graft_bkt_b", "cid", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force a sort-merge join so a missing bucket layout would show as a
      // shuffle exchange (a broadcast join would hide it)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.coLocatedJoin(spark, "graft_bkt_a", "graft_bkt_b", "cid")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join shuffled:\n${plan.take(1000)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bkt_a")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_b")
    }
  }

  test("saltedEquiJoin equals the plain join (skew mitigation is transparent)") {
    import graft.storage.Bucketing
    import spark.implicits._
    // skewed big side: one hot key
    val big = (Seq.fill(500)((1, "hot")) ++ Seq((2, "cold"), (3, "cool")))
      .toDF("k", "payload")
    val small = Seq((1, "a"), (2, "b"), (4, "d")).toDF("k", "dim")
    val plain = big.join(small, Seq("k"))
      .select($"k", $"payload", $"dim").as[(Int, String, String)]
      .collect().sorted
    val salted = Bucketing.saltedEquiJoin(big, small, "k", factor = 8)
      .select($"k", $"payload", $"dim").as[(Int, String, String)]
      .collect().sorted
    assert(salted.toSeq === plain.toSeq)
  }

  test("asofJoin plan: one exchange, no join operator (union+window)") {
    import java.sql.Timestamp
    import spark.implicits._
    val l = Seq((1L, 10L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("k", "lid", "ts")
    val r = Seq((1L, Timestamp.valueOf("2024-01-01 09:00:00"), 7L))
      .toDF("k", "vts", "v")
    val plan = executed(graft.joins.Joins.asofJoin(l, r, "k", "ts", "vts", "v"))
      .toString
    // the rewrite's whole point: a hot key can never fan out |L|x|R|
    assert(!plan.contains("Join"), s"join operator present:\n${plan.take(1000)}")
    assert(
      plan.linesIterator.count(_.contains("Exchange")) === 1,
      s"expected exactly one exchange:\n${plan.take(1000)}")
    assert(plan.contains("Window"), s"no window operator:\n${plan.take(600)}")
  }

  test("ivfTopK computes the corpus norm below the probe join") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val corpus = (1L to 64L).map(i => (i, Array(i * 1.0, i * 2.0, 3.0, 1.0)))
      .toDF("id", "vec")
    val queries = (1L to 4L).map(i => (i * 100, Array(i * 1.0, 1.0, 2.0, 0.5)))
      .toDF("id", "vec")
    val df = graft.sim.Similarity.ivfTopK(queries, corpus, k = 3, nlist = 4, nprobe = 2)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected a probe join in the ivfTopK plan")
    // `cn` must be produced BY a join input (once per corpus row) — a
    // withColumn above the join would cost O(d) per candidate pair and
    // leave the join children without a cn attribute. Checking child
    // OUTPUT (not for a Project node) keeps the assertion robust when the
    // optimizer constant-folds a local corpus into a LocalRelation.
    assert(
      joins.exists(_.children.exists(_.output.exists(_.name == "cn"))),
      "corpus norm 'cn' is not computed below the probe join")
  }

  test("qualityFilter: one documents scan, zero exchange, one HOF eval") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = Graft.table(spark, sf, "documents")
    val df = graft.text.TextOps.qualityFilter(docs,
      maxTopTokRatio = 0.2, minDistinctRatio = 0.3, minTokens = 20L)
    val plan = executed(df)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length === 1,
      s"expected exactly one documents scan, got ${scans.length}:\n$plan")
    assert(!plan.toString.contains("Exchange"),
      s"quality verdict must be a per-row expression, no shuffle:\n$plan")
    // the verdict aggregate must appear ONCE in the Filter condition —
    // a stats-struct column referenced per condition would let predicate
    // pushdown inline (and re-evaluate) the sorted-run pass 3x per row.
    // (Count inside the FilterExec condition, not the plan string: the
    // scan line re-prints the expression in its DataFilters metadata.)
    val filters = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.length === 1, s"expected one Filter node:\n$plan")
    assert(
      "aggregate\\(".r.findAllIn(filters.head.condition.toString).size === 1,
      s"sorted-run aggregate evaluated more than once:\n${filters.head.condition}")
    assert(df.count() > 0)
  }

  test("ngramTopK tokenizes once: the explode input is a projected " +
      "attribute, never an inline split") {
    // HOFs evaluate their lambda per element, so an inline
    // tokens(col("text")) inside shingles re-splits the document per
    // n-gram — the O(tokens²) constant that made the n-gram heads the
    // suite's most expensive queries (ProbeNgram: 4.2 s → 0.3 s). The
    // lock: no Generate (explode) node may carry a split() inside its
    // generator expression — the tokenize must sit in a projection
    // BELOW the Generate.
    for (df <- Seq(
        graft.text.TextOps.ngramTopK(
          Graft.table(spark, sf, "documents"), n = 2, k = 5),
        graft.text.TextOps.ngramTopKPruned(
          Graft.table(spark, sf, "documents"), n = 2, k = 5, minCount = 2),
        graft.dedup.Dedup.docShingles(
          Graft.table(spark, sf, "documents"), n = 3))) {
      // pre-AQE physical plan: AdaptiveSparkPlanExec hides its tree
      // from collect() until execution, and the Generate's input shape
      // is decided before AQE
      val gens = df.queryExecution.sparkPlan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }
      assert(gens.nonEmpty,
        s"expected a Generate node:\n${df.queryExecution.sparkPlan}")
      for (g <- gens)
        assert(!g.generator.toString.contains("split("),
          s"explode input must be a projected token array, not an " +
            s"inline split:\n${g.generator}")
    }
  }

  test("assignN plans the K-way argmin as one nearest_centroid node") {
    val p = OpsN.pointsFromEmbeddings(spark.read.parquet(s"$sf/embeddings.parquet"))
    val plan = executed(OpsN.assignN(p, OpsN.collectCentroidsN(OpsN.initFirstKN(p, 8)))).toString
    assert("nearest_centroid".r.findAllIn(plan).size === 1, plan.take(1200))
  }

  test("mean update is a partial+final hash aggregate (map-side combine)") {
    val p = Ops.pointsFromLineitem(Graft.table(spark, sf, "lineitem"))
    val centroids = Ops.collectCentroids(Ops.initFirstK(p, 4))
    val plan = executed(Ops.update(Ops.assign(p, centroids))).toString
    assert(plan.contains("HashAggregate"))
    // partial then final: two HashAggregate nodes around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("packSequences: one hash exchange on shard, no global (range) sort") {
    val docs = Graft.table(spark, sf, "documents")
    val plan = executed(
      graft.text.TextOps.packSequences(docs, budget = 512L, shards = 8)).toString
    // per-shard windows need exactly one hash repartition; a range
    // exchange would mean the corpus serializes through a global sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"expected one hash exchange:\n${plan.take(1200)}")
    assert(!plan.contains("rangepartitioning"),
      s"global sort present:\n${plan.take(1200)}")
  }

  test("sourceMix joins the corpus to a broadcast rate table") {
    val docs = Graft.table(spark, sf, "documents")
    val plan = executed(graft.text.TextOps.sourceMix(docs,
      Map("src0" -> 0.5, "src1" -> 0.5))).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast join in:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join present:\n${plan.take(1200)}")
  }

  test("incrementalNearDedupFromStore never reads the corpus text " +
      "(store scans prune to signature columns)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.dedup.Dedup
    val docs = Graft.table(spark, sf, "documents")
    val store = "target/test_sigstore"
    Dedup.writeSignatureStore(docs.filter(col("source") =!= "src0"),
      n = 3, numHashes = 12, bands = 4, path = store)
    val df = Dedup.incrementalNearDedupFromStore(
      docs.filter(col("source") === "src0"), store,
      n = 3, numHashes = 12, bands = 4, threshold = 0.5)
    // pre-AQE physical plan: AdaptiveSparkPlanExec hides its tree from
    // collect() until execution; scan pruning is decided before AQE
    val scans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    graft.util.OpCaches.releaseAll(spark)
    val (storeScans, docScans) = scans.partition(
      _.relation.location.rootPaths.exists(_.toString.contains("test_sigstore")))
    assert(storeScans.nonEmpty, "corpus side must come from the store")
    // the whole point of the store: the corpus side carries NO text column
    assert(storeScans.forall(!_.schema.fieldNames.contains("text")),
      s"store scan reads text: ${storeScans.map(_.schema.fieldNames.toSeq)}")
    assert(storeScans.forall(
      _.schema.fieldNames.toSet.subsetOf(Set("doc_id", "keys", "sig", "buckets"))))
    // every documents scan is the batch side (filter pushed), so the only
    // text read on the incremental run is O(batch)
    assert(docScans.nonEmpty)
    assert(docScans.forall(s => s.toString.contains("EqualTo(source,src0)") &&
      !s.toString.contains("Not(EqualTo(source,src0))")),
      "a documents scan without the batch filter would re-read the corpus")
  }

  test("ivfTopKFromStore reads the index store, not the corpus embeddings " +
      "(norms read, not recomputed)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.kmeans.OpsN
    import graft.sim.Similarity
    val all = OpsN.pointsFromEmbeddings(Graft.table(spark, sf, "embeddings"))
      .select(col("pid").as("id"), col("features").as("vec"))
    val store = "target/test_ivfstore"
    Similarity.writeIvfIndex(all, nlist = 4, path = store)
    val df = Similarity.ivfTopKFromStore(
      all.filter(col("id") < 10), store, k = 5, nprobe = 2)
    val scans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    val (storeScans, embScans) = scans.partition(
      _.relation.location.rootPaths.exists(_.toString.contains("test_ivfstore")))
    assert(storeScans.nonEmpty, "corpus side must come from the index store")
    // the store already holds the norm: the cells scan reads it as a
    // column instead of re-deriving it from cv per query run
    assert(storeScans.exists(_.schema.fieldNames.contains("cn")),
      s"store scan misses the precomputed norm: ${storeScans.map(_.schema.fieldNames.toSeq)}")
    // every embeddings scan is the QUERY side (pid<10 pushed to parquet) —
    // an unfiltered embeddings scan would mean the corpus is re-read
    assert(embScans.nonEmpty)
    assert(embScans.forall(_.toString.contains("LessThan(vec_id,10)")),
      "an embeddings scan without the query filter re-reads the corpus")
    // the probe list is one nearest_cells node carrying the quantizer, not
    // a tree with one vector literal per cell
    import org.apache.spark.sql.catalyst.expressions.Literal
    val exprs = df.queryExecution.sparkPlan.collect { case p => p.expressions }.flatten
    assert(exprs.map(_.collect { case n: graft.expr.NearestCells => n }.size).sum === 1)
    assert(!exprs.exists(_.exists {
      case l: Literal => l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
      case _ => false
    }), "a vector literal in the probe plan")
  }

  test("ivfTopKFromStorePq probes the PQ code tier (pqcode bytes, no cv) " +
      "and re-ranks from the exact tier; the corpus is never re-read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.kmeans.OpsN
    import graft.sim.Similarity
    val all = OpsN.pointsFromEmbeddings(Graft.table(spark, sf, "embeddings"))
      .select(col("pid").as("id"), col("features").as("vec"))
    val store = "target/test_ivfpqstore"
    Similarity.writeIvfIndexPq(all, nlist = 4, path = store, m = 8)
    val df = Similarity.ivfTopKFromStorePq(
      all.filter(col("id") < 10), store, k = 5, nprobe = 2)
    val scans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    val (pqScans, rest) = scans.partition(
      _.relation.location.rootPaths.exists(_.toString.contains("cells_pq")))
    val (exactScans, embScans) = rest.partition(
      _.relation.location.rootPaths.exists(_.toString.contains("test_ivfpqstore")))
    // the probe scan reads CODES, not vectors: pqcode + cn, never cv —
    // reading cv from the PQ tier would void the whole compression story
    assert(pqScans.nonEmpty, "approx side must scan the PQ tier")
    assert(pqScans.forall(s => s.schema.fieldNames.contains("pqcode") &&
      !s.schema.fieldNames.contains("cv")),
      s"PQ scan shape wrong: ${pqScans.map(_.schema.fieldNames.toSeq)}")
    // the exact tier serves the re-rank only: cv + cn
    assert(exactScans.nonEmpty, "re-rank must read the exact tier")
    assert(exactScans.forall(_.schema.fieldNames.contains("cv")))
    // every embeddings scan is the QUERY side with the filter pushed
    assert(embScans.nonEmpty)
    assert(embScans.forall(_.toString.contains("LessThan(vec_id,10)")),
      "an embeddings scan without the query filter re-reads the corpus")
  }

  test("bm25TopKFromStore reads postings + terms partitions, never the " +
      "corpus text; the bucket filter prunes partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.text.TextOps
    val docs = Graft.table(spark, sf, "documents")
    val store = "target/test_bm25store"
    TextOps.writeBm25Index(docs, store)
    val df = TextOps.bm25TopKFromStore(
      spark, Seq("customer", "vector", "stream"), store, k = 10)
    val scans = df.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
    graft.util.OpCaches.releaseAll(spark)
    // query time touches ONLY the store: no documents.parquet scan at all
    assert(scans.nonEmpty)
    assert(scans.forall(
      _.relation.location.rootPaths.exists(_.toString.contains("test_bm25store"))),
      s"non-store scan at query time: ${scans.map(_.relation.location.rootPaths.mkString)}")
    assert(scans.forall(!_.schema.fieldNames.contains("text")))
    // the term-hash-bucket partition filter reaches every store scan, so
    // a query reads its terms' buckets, not the whole index
    assert(scans.forall(_.toString.contains("tbucket")),
      "store scans without a tbucket partition filter read the full index")
  }

  test("semDedup: within-cell equality join only — no cartesian or " +
      "nested-loop pair generation") {
    import graft.kmeans.OpsN
    val vecs = OpsN.pointsFromEmbeddings(Graft.table(spark, sf, "embeddings"))
      .select(col("pid").as("id"), col("features").as("vec"))
    val df = graft.sim.Similarity.semDedup(vecs, nlist = 4, threshold = 0.45)
    val plan = executed(df).toString
    graft.util.OpCaches.releaseAll(spark)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs path in semDedup plan:\n${plan.take(1200)}")
  }

  test("shuffleShards: one hash exchange on shard, no global (range) sort") {
    val docs = Graft.table(spark, sf, "documents")
    val plan = executed(
      graft.text.TextOps.shuffleShards(docs, shards = 8)).toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"expected one hash exchange:\n${plan.take(1200)}")
    assert(!plan.contains("rangepartitioning"),
      s"global sort present:\n${plan.take(1200)}")
  }

  test("bm25TopK: broadcast idf join, TakeOrdered top-k (no global sort)") {
    val docs = Graft.table(spark, sf, "documents")
    val df = graft.text.TextOps.bm25TopK(docs, Seq("customer", "vector"), k = 10)
    val plan = executed(df).toString
    graft.util.OpCaches.releaseAll(spark)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k is not TakeOrdered:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"idf table not broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("splitLeakageLsh plan has no shingle self-join (banded buckets only)") {
    val docs = Graft.table(spark, sf, "documents")
    val plan = executed(graft.text.TextOps.splitLeakageLsh(docs,
      n = 3, numHashes = 12, bands = 4, threshold = 0.5)).toString
    graft.util.OpCaches.releaseAll(spark)
    // the exact audit joins the exploded shingle index on `shash`; the
    // corpus-scale variant must never build that join — candidates come
    // from (band, bucket) equality
    assert(!plan.contains("shash"), s"shingle self-join present:\n${plan.take(1200)}")
    assert(plan.contains("band"), s"no banded join in:\n${plan.take(800)}")
  }

  test("containmentPairs probes the corpus via a broadcast of the bench index") {
    val docs = Graft.table(spark, sf, "documents")
    val df = graft.dedup.Dedup.containmentPairs(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      n = 3, tau = 0.5)
    val plan = executed(df).toString
    graft.util.OpCaches.releaseAll(spark)
    // the probe join must be broadcast (bench side), never a sort-merge
    // join — a SortMergeJoin here would shuffle the corpus' exploded
    // shingles, the thing the operator's 100 TB shape exists to avoid
    assert(plan.contains("BroadcastHashJoin"),
      s"no broadcast probe join in:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join present:\n${plan.take(1200)}")
  }

  test("containmentPairs degrades to a shuffle probe join past the " +
      "broadcast bound, with identical results") {
    import graft.dedup.Dedup
    val docs = Graft.table(spark, sf, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("bench_id"), round(col("containment"), 9))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val broadcasted = rows(Dedup.containmentPairs(corpus, bench, n = 3, tau = 0.5))
    graft.util.OpCaches.releaseAll(spark)
    // past the bound the operator must not FORCE a broadcast: with the
    // planner's own auto-broadcast off (a multi-GB index would be over
    // its threshold too), the probe join falls back to sort-merge — a
    // lingering broadcast() hint would force BHJ regardless of threshold
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fallbackDf = Dedup.containmentPairs(corpus, bench, n = 3, tau = 0.5,
        maxBroadcastEntries = 0L)
      assert(fallbackDf.queryExecution.sparkPlan.toString.contains("SortMergeJoin"),
        "broadcast bound ignored: no shuffle-join fallback in the static plan")
      val fallback = rows(fallbackDf)
      graft.util.OpCaches.releaseAll(spark)
      assert(fallback === broadcasted)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("containmentPairsBloom: bloom probe filters the corpus BELOW the " +
      "verify-join exchange (scale regime, broadcast off)") {
    import graft.dedup.Dedup
    val docs = Graft.table(spark, sf, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // broadcast off = the multi-GB-benchmark regime the bloom variant
      // exists for: the verify join becomes a shuffle join, and the win
      // is that only bloom SURVIVORS ride that exchange. AQE off so the
      // prepared plan's Exchange nodes are walkable (sparkPlan predates
      // EnsureRequirements; an adaptive executedPlan hides its children
      // until execution).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Dedup.containmentPairsBloom(corpus, bench, n = 3, tau = 0.5,
        bloomBits = 1 << 18, numHashes = 5)
      val plan = df.queryExecution.executedPlan
      graft.util.OpCaches.releaseAll(spark)
      assert(plan.toString.contains("SortMergeJoin"),
        s"no shuffle verify join in scale regime:\n${plan.toString.take(1200)}")
      // the bloom membership test (shiftright bit probes over the word
      // array) must sit UNDER an exchange — evaluated map-side on the
      // scan stage, so shuffled corpus shingles are survivors only; a
      // post-shuffle bloom filter would have lost the entire property
      import org.apache.spark.sql.execution.FilterExec
      import org.apache.spark.sql.execution.exchange.Exchange
      def isBloomFilter(p: org.apache.spark.sql.execution.SparkPlan) =
        p match {
          case f: FilterExec => f.condition.toString.contains("shiftright")
          case _ => false
        }
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, "expected shuffle exchanges in scale regime")
      assert(exchanges.exists(_.collect {
          case f if isBloomFilter(f) => f
        }.nonEmpty),
        s"bloom probe not below any exchange:\n${plan.toString.take(2000)}")
      // and it must not ALSO run above the exchanges (double evaluation /
      // post-shuffle placement): walk from the root, stopping at each
      // first Exchange — any bloom filter met on the way is above every
      // exchange on its path (a direct collect; the old count-subtraction
      // double-counted filters under NESTED exchanges and could
      // over-subtract an actually-above-exchange filter into a pass)
      def bloomAboveExchange(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case _: Exchange => Nil
        case f if isBloomFilter(f) =>
          f +: f.children.flatMap(bloomAboveExchange)
        case other => other.children.flatMap(bloomAboveExchange)
      }
      assert(bloomAboveExchange(plan).isEmpty,
        "bloom probe evaluated above an exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("lmScore: the hot prev heads take broadcast joins only — no " +
      "shuffle exchange anywhere on the hot probe branch") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.text.TextOps
    val plan = TextOps.lmScore(Graft.table(spark, sf, "documents"))
      .queryExecution.sparkPlan
    graft.util.OpCaches.releaseAll(spark)
    // the hot branch is the c1-head BHJ stacked on the c2-head BHJ; its
    // probe (streamed) spine must reach the raw bigram stream without
    // crossing any shuffle exchange — the whole point of the split is
    // that `the`-keyed rows never ride a prev-keyed exchange (the model
    // AGGREGATES on the build sides keep their exchanges; only the
    // probe spine must be exchange-free)
    def streamed(b: BroadcastHashJoinExec): SparkPlan =
      b.buildSide match {
        case BuildRight => b.left
        case BuildLeft  => b.right
      }
    def probeHasShuffle(p: SparkPlan): Boolean = p match {
      case b: BroadcastHashJoinExec => probeHasShuffle(streamed(b))
      case _: ShuffleExchangeExec   => true
      case other => other.children.exists(probeHasShuffle)
    }
    val bhjs = plan.collect { case b: BroadcastHashJoinExec => b }
    val hotTop = bhjs.filter(b =>
      streamed(b).collectFirst { case x: BroadcastHashJoinExec => x }.nonEmpty)
    assert(hotTop.nonEmpty,
      s"hot-branch double broadcast join missing:\n${plan.toString.take(1500)}")
    hotTop.foreach(b => assert(!probeHasShuffle(b),
      s"shuffle exchange on the hot probe branch:\n${b.toString.take(1500)}"))
  }

  test("phraseSearch: map-only scan — the only exchange is the k-row " +
      "TakeOrdered, never a positional-postings shuffle") {
    import graft.text.TextOps
    val plan = executed(TextOps.phraseSearch(
      Graft.table(spark, sf, "documents"), Seq("fast", "table"), 10))
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k not a TakeOrdered:\n${s.take(800)}")
    // TakeOrdered does its own limit-exchange; below it there must be NO
    // Exchange (no explode, no join, no aggregation shuffle)
    assert(!s.contains("Exchange"),
      s"unexpected shuffle in the phrase scan:\n${s.take(1000)}")
    assert(!s.contains("Generate"),
      s"positional explode present — should match in place:\n${s.take(1000)}")
  }

  test("classifierScore: zero exchanges of any kind — pure map-side " +
      "projection with the weight array inlined") {
    import graft.text.TextOps
    val s = executed(
      TextOps.classifierScore(Graft.table(spark, sf, "documents"))).toString
    assert(!s.contains("Exchange"),
      s"classifier scoring shuffled:\n${s.take(1000)}")
    assert(!s.contains("Generate") && !s.contains("Join"),
      s"classifier scoring exploded or joined:\n${s.take(1000)}")
  }

  test("pplBuckets: ranking windows are per-range-partition (partitionBy " +
      "_pidx), never a single-task global Window.orderBy") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import graft.text.TextOps
    // the rank window rides ABOVE the OpCaches boundary, so assert on the
    // optimized LOGICAL plan (an executed-plan collect would stop at the
    // InMemoryTableScan and miss nothing — but also prove nothing)
    val plan = TextOps.pplBuckets(Graft.table(spark, sf, "documents"))
      .queryExecution.optimizedPlan
    graft.util.OpCaches.releaseAll(spark)
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected a window for the per-partition rank")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"empty-partition-spec window (single-task global sort):\n${w.toString.take(600)}"))
  }

  test("canonicalDocs: the keeper argmax is a partial+final aggregate " +
      "pair and no exchange ever carries the text column") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.dedup.Dedup
    import spark.implicits._
    val docs = Graft.table(spark, sf, "documents")
    val groups = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "gid")
    // sparkPlan, not executedPlan: the AQE wrapper hides its inner tree
    // from collect() until execution
    val plan = Dedup.canonicalDocs(docs, groups).queryExecution.sparkPlan
    // quality is projected map-side: every shuffle moves (id, gid, q)
    // triples, never the text column
    plan.collect { case e: ShuffleExchangeExec => e }.foreach(e =>
      assert(!e.output.exists(_.name == "text"),
        s"exchange carries text:\n${e.toString.take(600)}"))
    // max_by is a DeclarativeAggregate: partial aggregation must reduce
    // each map task's groups before the gid exchange (the struct-typed
    // ordering buffer rules out HashAggregate — SortAggregate is fine,
    // the property under lock is the Partial mode, not the exec)
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    assert(aggs.exists(_.aggregateExpressions.exists(ae =>
        ae.mode.toString.contains("Partial") &&
          ae.aggregateFunction.prettyName == "max_by")),
      s"no partial max_by aggregate:\n${plan.toString.take(1200)}")
  }

  test("qualityCalibration: ranking windows are per-(range-partition, " +
      "source), never a single-task-per-source Window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import graft.text.TextOps
    val plan = TextOps.qualityCalibration(Graft.table(spark, sf, "documents"))
      .queryExecution.optimizedPlan
    graft.util.OpCaches.releaseAll(spark)
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected a window for the per-partition rank")
    // a (source)-only partition spec would drag a web-scale source
    // through one task; the spec must carry the range-partition index too
    windows.foreach(w => assert(
      w.partitionSpec.exists(_.references.exists(_.name == "_pidx")),
      s"window not keyed by the range-partition index:\n${w.toString.take(600)}"))
  }

  test("sourceCap: ranking windows are per-(range-partition, source) and " +
      "the cap prune filters BELOW the window (pruned slices never sort)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Window => LWindow}
    import graft.text.TextOps
    val plan = TextOps.sourceCap(Graft.table(spark, sf, "documents"), cap = 7)
      .queryExecution.optimizedPlan
    graft.util.OpCaches.releaseAll(spark)
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected a window for the per-partition rank")
    windows.foreach(w => assert(
      w.partitionSpec.exists(_.references.exists(_.name == "_pidx")),
      s"window not keyed by the range-partition index:\n${w.toString.take(600)}"))
    // the offset-miss (IS NOT NULL) prune must sit under the window, so
    // past-the-cap slices are dropped before the window's sort runs
    // (the optimizer inlines the single-use _off alias, so match the
    // collapsed isnotnull(element_at(<offset map>, ...)) condition)
    windows.foreach(w => assert(
      w.child.collectFirst {
        case f: LFilter if f.condition.toString.contains("isnotnull") &&
          f.condition.toString.contains("element_at") => f
      }.isDefined,
      s"cap prune not below the window:\n${plan.toString.take(1200)}"))
  }

  test("tx_extract_html is map-only: zero exchanges — the extraction " +
      "rides the scan") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = SparkEntry.queries("tx_extract_html")(spark, sf)
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"exchange in a per-row extraction plan:\n${plan.toString.take(1200)}")
  }

  test("dd_url_dedup: the canonicalization is map-side — exactly ONE " +
      "exchange (the group-by's own), partial+final hash aggregate") {
    val plan = executed(SparkEntry.queries("dd_url_dedup")(spark, sf)).toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1,
      s"expected exactly the group-by exchange:\n${plan.take(1200)}")
    // map-side combine: partial + final aggregates around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation:\n${plan.take(1200)}")
    assert(!plan.contains("rangepartitioning"),
      s"global sort in a dedup plan:\n${plan.take(1200)}")
  }

  test("domainCap: ranking windows are per-(range-partition, domain) and " +
      "the cap prune filters BELOW the window (sourceCap's engine, " +
      "domain-keyed)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Window => LWindow}
    val plan = SparkEntry.queries("tx_domain_cap")(spark, sf)
      .queryExecution.optimizedPlan
    graft.util.OpCaches.releaseAll(spark)
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "expected a window for the per-partition rank")
    // a (domain)-only partition spec would drag a hot domain — the very
    // key the cap exists for — through one task
    windows.foreach(w => assert(
      w.partitionSpec.exists(_.references.exists(_.name == "_pidx")),
      s"window not keyed by the range-partition index:\n${w.toString.take(600)}"))
    windows.foreach(w => assert(
      w.child.collectFirst {
        case f: LFilter if f.condition.toString.contains("isnotnull") &&
          f.condition.toString.contains("element_at") => f
      }.isDefined,
      s"cap prune not below the window:\n${plan.toString.take(1200)}"))
  }

  test("intervalJoin: the keyless range join runs as a bucket EQUI join " +
      "— never a cartesian or a broadcast nested loop") {
    val plan = executed(
      SparkEntry.queries("j4_interval_join")(spark, sf)).toString
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      s"range join fell back to an all-pairs plan:\n${plan.take(1000)}")
    assert(plan.contains("Join") && plan.contains("_b"),
      s"no bucket equi-join in:\n${plan.take(1000)}")
  }

  test("paragraphDedup reassembly: no split() inside any lambda in the " +
      "OPTIMIZED plan (split is the HOF argument, evaluated once per row)") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    import graft.dedup.Dedup
    // assert on the OPTIMIZED plan: CollapseProject re-inlines single-use
    // non-cheap aliases, so a pre-optimization projection proves nothing —
    // the r10 `_paras` alias passed an analyzed-plan eyeball and still
    // re-ran split() per kept paragraph after optimization
    val plan = Dedup.paragraphDedup(Graft.table(spark, sf, "documents"))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions)
    val lambdas = exprs.flatMap(_.collect { case lf: LambdaFunction => lf })
    assert(lambdas.nonEmpty, "expected a higher-order-function lambda in the plan")
    val splitsInLambdas = lambdas.flatMap(_.collect { case sp: StringSplit => sp })
    assert(splitsInLambdas.isEmpty,
      s"split() evaluated inside a lambda — O(paragraphs^2) per doc:\n$plan")
    // the split must still exist somewhere (HOF argument position)
    val splits = exprs.flatMap(_.collect { case sp: StringSplit => sp })
    assert(splits.nonEmpty, s"no split() in the reassembly plan at all:\n$plan")
  }

  test("projectVectors: map-only — zero exchanges, plane matrix riding " +
      "the plan as literals (no join, no broadcast, codegen'd folds)") {
    import graft.kmeans.OpsN
    import graft.sim.Similarity
    val vecs = OpsN.pointsFromEmbeddings(Graft.table(spark, sf, "embeddings"))
      .select(col("pid").as("id"), col("features").as("vec"))
    val s = executed(Similarity.projectVectors(vecs, dIn = 64, dOut = 16))
      .toString
    assert(!s.contains("Exchange"), s"projection shuffled:\n${s.take(1000)}")
    assert(!s.contains("Join") && !s.contains("Broadcast"),
      s"plane matrix not inlined — join/broadcast present:\n${s.take(1000)}")
    assert(s.contains("*("), s"no codegen span in:\n${s.take(800)}")
  }

  test("classifierScoreWith (trained weights): still zero exchanges — " +
      "the fitted model rides as a literal exactly like the placeholder") {
    import graft.text.TextOps
    val docs = Graft.table(spark, sf, "documents")
    val w = TextOps.classifierFitWeights(
      docs, col("source") === "src0", nBuckets = 64)
    graft.util.OpCaches.releaseAll(spark)
    val s = executed(TextOps.classifierScoreWith(docs, w)).toString
    assert(!s.contains("Exchange"),
      s"trained scoring shuffled:\n${s.take(1000)}")
    assert(!s.contains("Join"),
      s"trained scoring joined — weights not inlined:\n${s.take(1000)}")
  }

  test("bpeApplyCounts: the corpus side is a dictionary JOIN — no " +
      "single-task exchange, no nested-loop/cartesian fallback") {
    import graft.text.TextOps
    val df = TextOps.bpeApplyCounts(
      Graft.table(spark, sf, "documents"), merges = 2)
    val s = executed(df).toString
    graft.util.OpCaches.releaseAll(spark)
    assert(s.contains("Join"),
      s"no dictionary join — per-row re-derivation?:\n${s.take(1000)}")
    assert(!s.contains("Exchange SinglePartition") &&
      !s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoop"),
      s"degenerate join/exchange in apply plan:\n${s.take(1200)}")
  }

  test("tokenBudgetMixEpochs: the cumsum window is hash-partitioned by " +
      "source (never a global single-task sort) and the epoch fan-out " +
      "explodes the scored projection, not the text") {
    import graft.text.TextOps
    val df = TextOps.tokenBudgetMixEpochs(
      Graft.table(spark, sf, "documents"),
      Map("src0" -> 0.5, "src1" -> 0.5), Map("src0" -> 3, "src1" -> 3),
      4000L)
    val s = executed(df).toString
    graft.util.OpCaches.releaseAll(spark)
    assert(s.contains("hashpartitioning(source"),
      s"window not per-source hash-partitioned:\n${s.take(1000)}")
    assert(!s.contains("Exchange SinglePartition"),
      s"single-task exchange present:\n${s.take(1000)}")
    // the explode's Generate must not carry the text column — only the
    // scored projection fans out by epoch
    val gen = s.linesIterator.filter(_.contains("Generate")).mkString("\n")
    assert(gen.nonEmpty && !gen.contains("text"),
      s"epoch explode carries text:\n$gen")
  }

  test("packSequencesSplit: one shard hash exchange, no global sort, and " +
      "the chunk fan-out is a Generate over the windowed projection " +
      "(never the text column)") {
    val docs = Graft.table(spark, sf, "documents")
    val s = executed(graft.text.TextOps.packSequencesSplit(
      docs, budget = 512L, shards = 8)).toString
    assert("Exchange hashpartitioning".r.findAllIn(s).size === 1,
      s"expected one hash exchange:\n${s.take(1200)}")
    assert(!s.contains("rangepartitioning"),
      s"global sort present:\n${s.take(1200)}")
    val gen = s.linesIterator.filter(_.contains("Generate")).mkString("\n")
    assert(gen.nonEmpty && !gen.contains("text"),
      s"chunk explode missing or carries text:\n$gen")
  }

  test("packSequencesBpe: counts come from the fitted-dict JOIN (no " +
      "per-row merge re-derivation), one shard hash exchange, no global sort") {
    import graft.text.TextOps
    val docs = Graft.table(spark, sf, "documents")
    // the store-read dict — the tx_seq_pack_bpe key's shape: its plan is
    // a parquet scan, so any merge lambda left in THIS plan would be a
    // per-row re-derivation over the corpus
    val (_, dict) = TextOps.bpeModelOrFit(
      docs, merges = 2, "target/graft_stores/bpe_lock_spec")
    val s = executed(
      TextOps.packSequencesBpe(docs, dict, budget = 512L, shards = 8)).toString
    graft.util.OpCaches.releaseAll(spark)
    assert(s.contains("Join"),
      s"no dictionary join — per-row re-derivation?:\n${s.take(1000)}")
    // the merge fold (aggregate-HOF over syms) must never appear in the
    // apply plan: words join the PRE-MERGED dict, they are not re-merged
    assert(!s.contains("aggregate(") && !s.contains("lambda"),
      s"per-row merge lambda in the pack plan:\n${s.take(1200)}")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoop") && !s.contains("rangepartitioning"),
      s"degenerate join or global sort:\n${s.take(1200)}")
  }

  test("st_classifier_serve is STATELESS map-only serving: zero state " +
      "operators in the streaming progress, every input row scored") {
    import graft.text.TextOps
    val docs = Graft.table(spark, sf, "documents")
    val store = "target/graft_stores/classifier_lock_spec"
    TextOps.writeClassifierModel(docs, col("source") === "src0", store)
    var prog: org.apache.spark.sql.streaming.StreamingQueryProgress = null
    val out = graft.streaming.StreamOps.runStreamingClassifierScore(
      Graft.tableStream(spark, sf, "documents"), store,
      "classifier_lock_sink", q => prog = q.lastProgress)
    val n = out.count()
    graft.util.OpCaches.releaseAll(spark)
    assert(prog != null && prog.stateOperators.isEmpty,
      s"stateful operator in a stateless serve:\n$prog")
    assert(n === docs.count(), "not every input row was scored")
  }

  test("st_stream_join sizes its state stores from statePartitions, not " +
      "the batch shuffle default: the join's state operator reports 8 " +
      "shuffle partitions") {
    val views = Graft.eventsStream(spark, sf)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("vts"))
    val clicks = Graft.eventsStream(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    var prog: org.apache.spark.sql.streaming.StreamingQueryProgress = null
    graft.streaming.StreamOps.runStreamStreamTimeBoundJoin(
      views, clicks, "v_user", "c_user", "vts", "cts",
      window = "30 minutes", lateness = "1 hour",
      sinkName = "stream_join_lock_sink",
      statePartitions = Some(8), inspect = q => prog = q.lastProgress)
    graft.util.OpCaches.releaseAll(spark)
    assert(prog != null && prog.stateOperators.nonEmpty,
      "stream-stream join reported no state operator")
    val parts = prog.stateOperators.map(_.numShufflePartitions).toSet
    assert(parts === Set(8L),
      s"state operator partitions $parts != the sized 8 — the batch " +
        "one-per-core default leaked into streaming state")
  }

  test("the e2e survivor chain composes without degenerate joins or a " +
      "global sort: narrowing is key-only semi/anti joins") {
    // truncate = false: the keys checkpoint the survivor frame (lineage
    // truncation — downstream plans scan checkpoint blocks), so the
    // narrowing joins are only visible on the RAW chain. deepPlanString,
    // not toString: the chain caches kept2/kept3 (OpCaches), and the
    // quality-gate/dedup/near-dedup lineage lives INSIDE those
    // InMemoryRelations — a flat toString would omit the join-heavy
    // stages from the assertions.
    val s = deepPlanString(executed(
      graft.SparkEntry.pipelineSurvivors(spark, sf, truncate = false)))
    graft.util.OpCaches.releaseAll(spark)
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoop"),
      s"degenerate join in the pipeline plan:\n${s.take(1500)}")
    // the one serialization smell a composed pipeline can develop: a
    // window or aggregation collapsed onto a single partition (the cap
    // stage's rangepartitioning is its DOCUMENTED offsets engine — a
    // distributed sort, locked per-(partition, source) in its own test —
    // so range exchanges are expected here, SinglePartition is not)
    assert(!s.contains("Exchange SinglePartition"),
      s"single-partition exchange in the pipeline plan:\n${s.take(1500)}")
    assert(s.contains("LeftSemi") && s.contains("LeftAnti"),
      s"expected key-only semi/anti narrowing joins:\n${s.take(1500)}")
  }

  /** The jobs `body` starts on this thread and the deep plan strings of
    * the SQL executions it runs, read by listeners once a marker
    * execution after it has reached both.
    */
  private def jobsAndPlans(body: => Unit): (Int, Seq[String]) = {
    import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import scala.jdk.CollectionConverters._
    val group = "plan-shape-jobs"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val plans = new ConcurrentLinkedQueue[String]()
    @volatile var jobMarker = false
    @volatile var planMarker = false
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.jobGroup.id") match {
          case `group` => jobs.add(e.jobId)
          case "plan-shape-marker" => jobMarker = true
          case _ =>
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val s = deepPlanString(qe.executedPlan)
        if (s.contains("plan_shape_marker")) planMarker = true
        else if (!planMarker) plans.add(s)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup("plan-shape-marker", "marker")
      try spark.range(1).select(lit(1).as("plan_shape_marker")).collect()
      finally spark.sparkContext.clearJobGroup()
      eventually(timeout(30.seconds))(assert(jobMarker && planMarker))
      (jobs.size, plans.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  test("tx_pipeline_e2e shingles once, caches only the cap's range " +
      "partitioning, and runs a pinned number of jobs") {
    def run(): Unit = {
      graft.SparkEntry.queries("tx_pipeline_e2e")(spark, sf).collect()
      graft.util.OpCaches.releaseAll(spark)
    }
    run() // the cold run reads footers and compiles what the warm one reuses
    val (jobs, plans) = jobsAndPlans(run())
    // one shingle-key projection (an alias of its own) for near-dedup and
    // the leak audit together
    val shingleAliases = plans.flatMap(p =>
      "(?i)shinglekeys\\(.*? AS (\\w+#\\d+)".r.findAllMatchIn(p).map(_.group(1)))
      .distinct
    info(s"warm run: $jobs jobs, ${plans.size} executions, " +
      s"shingle-key projections ${shingleAliases.mkString(", ")}")
    assert(shingleAliases.size === 1,
      s"shingle keys projected ${shingleAliases.size} times")
    // the checkpointed chain caches nothing of its own; the cap's range
    // partitioning (its `_pidx` column) is pinned on purpose
    val cached = plans.flatMap(_.linesIterator.filter(_.contains("InMemoryRelation")))
    assert(cached.nonEmpty && cached.forall(_.contains("_pidx#")),
      s"a cache other than the cap's range partitioning:\n${cached.mkString("\n")}")
    // measured on this fixture in the shared test session (4 threads, 4
    // shuffle partitions)
    assert(jobs === 28, "tx_pipeline_e2e warm-run jobs")
  }

  test("tx_pipeline_e2e packs off the CHECKPOINTED survivor frame: the " +
      "pack plan scans truncated lineage, one shard exchange, no global " +
      "sort") {
    val s = deepPlanString(executed(
      graft.SparkEntry.queries("tx_pipeline_e2e")(spark, sf)))
    graft.util.OpCaches.releaseAll(spark)
    // lineage truncated: re-planning the dedup/leakage tree per action
    // costs seconds (BASELINE.md r17); the pack must consume the
    // checkpoint scan, not the raw chain
    assert(s.contains("ExistingRDD") || s.contains("Scan ExistingRDD"),
      s"pack does not scan the checkpointed survivors:\n${s.take(1500)}")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoop") && !s.contains("rangepartitioning"),
      s"degenerate join or global sort in the pack plan:\n${s.take(1500)}")
  }

  test("tx_pipeline_e2e_bpe packs under the fitted dict via a hash-keyed " +
      "w-join (no per-row merge re-derivation) off the checkpointed " +
      "survivors") {
    val s = deepPlanString(executed(
      graft.SparkEntry.queries("tx_pipeline_e2e_bpe")(spark, sf)))
    graft.util.OpCaches.releaseAll(spark)
    // the fitted dict is O(distinct words); bpeApplyCountsWith
    // DELIBERATELY leaves the strategy to AQE (an unconditional
    // broadcast() hint would OOM the driver on a 100 TB corpus's
    // vocabulary, and the shuffled fallback is documented
    // bit-identical) — but on THIS fixture the dict is a few KB and
    // AQE broadcasts it, so the lock accepts only the HASH-keyed
    // strategies (broadcast / shuffled-hash). A SortMergeJoin here
    // would mean AQE stopped broadcasting the small dict on the bench
    // fixture — the planning regression this lock exists to catch;
    // the 100 TB sort-merge fallback stays documented (and
    // result-certified via the shared oracle), it just must not be
    // the plan the BENCH fixture runs. What the plan must NEVER
    // contain is a per-row merge re-derivation — the aggregate-HOF
    // assertion beneath pins that.
    assert(s.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("[w#")),
      s"no hash-keyed fitted-dict (w-key) join in the pack plan:\n${s.take(2000)}")
    // words join the PRE-MERGED dict: a merge fold (aggregate-HOF) in
    // the pack plan would mean a per-row re-derivation over the corpus
    assert(!s.contains("aggregate("),
      s"per-row merge fold in the pack plan:\n${s.take(1500)}")
    assert(s.contains("ExistingRDD"),
      s"pack does not scan the checkpointed survivors:\n${s.take(1500)}")
    assert(!s.contains("CartesianProduct") &&
      !s.contains("BroadcastNestedLoop"),
      s"degenerate join in the pack plan:\n${s.take(1500)}")
    assert(!s.contains("Exchange SinglePartition"),
      s"single-partition exchange in the pack plan:\n${s.take(1500)}")
  }
}
