package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.operators.{Analytics, Dedup, Similarity, TextAnalysis}

/** Physical-plan shape assertions — the properties the 100 TB design
  * depends on (filter/column pushdown into the scan, broadcast of
  * small sides, equi-joins instead of cross products). Catching a
  * plan regression here is much cheaper than catching it in a bench.
  */
class PlanSpec extends SparkSuite {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("pricing summary pushes the shipdate filter and prunes to 7 columns") {
    val plan = formatted(Analytics.pricingSummary(spark, sfDir))
    assert(plan.contains("PushedFilters:") &&
           plan.contains("LessThanOrEqual(l_shipdate"), plan)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"),
      s"scan reads more columns than the query needs: $readSchema")
  }

  test("topk aggregator reduces map-side BEFORE the shuffle (the skew rescue)") {
    // A window partition must be colocated — AQE cannot split a hot
    // supplier. The aggregator form's partial buffers run on every
    // input partition before the exchange, so a skewed key's work
    // splits map-side: the plan must show a partial ObjectHashAggregate
    // (or SortAggregate) BELOW the exchange, and the window form must
    // show its full-key sort above one.
    val agg = formatted(Analytics.topkPerSupplierAgg(spark, sfDir))
    assert(agg.contains("[partial_topkbyprice"), s"no partial aggregate in:\n$agg")
    // partial runs below the exchange: in the numbered tree the
    // aggregate node feeding the Exchange carries the partial function.
    // Depth = indent of the connector ("+-" or ":-"); guard both
    // lookups so a plan-shape change fails loudly, not vacuously.
    def depths(tree: Seq[String], token: String): Seq[Int] =
      tree.filter(_.contains(token))
        .map(l => math.max(l.indexOf("+-"), l.indexOf(":-")))
        .filter(_ >= 0)
    val tree = agg.linesIterator.takeWhile(l => !l.trim.startsWith("(1)")).toSeq
    val exchangeDepths = depths(tree, "Exchange (")
    val aggDepths = depths(tree, "ObjectHashAggregate (")
    assert(exchangeDepths.nonEmpty && aggDepths.nonEmpty,
      s"plan tree missing Exchange/ObjectHashAggregate nodes:\n${tree.mkString("\n")}")
    assert(aggDepths.exists(_ > exchangeDepths.min),
      s"no aggregate below the exchange in:\n${tree.mkString("\n")}")
    assert(!agg.contains("Window ("), "the aggregator form must not sort per key")
    val win = formatted(Analytics.topkPerSupplier(spark, sfDir))
    assert(win.contains("Window"), win)
  }

  test("chunking is a pure narrow map — its only exchange is the output sort") {
    val plan = formatted(graft.operators.CorpusOps.docChunks(spark, sfDir))
    assert(!plan.contains("Join"), plan)
    val exchanges = plan.linesIterator.count(_.contains("Exchange ("))
    assert(exchanges <= 1, s"chunking must not shuffle before the output sort:\n$plan")
  }

  test("a Lloyd round has no join and no broadcast; the kmeans result reads no corpus") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the centroid table is built on the driver from the fitted model
    val result = Similarity.kmeansCentroids(spark, sfDir).queryExecution.sparkPlan
    assert(result.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]), result)
    // a round routes the packed corpus against the model's literals: a
    // projection, so neither a join nor a BroadcastExchange job
    val fit = Similarity.kmeansFitFrom(Tables.embeddings(spark, sfDir), k = 8, iters = 1)
    val round = physical(Similarity.lloydRound(fit.vqp, fit.model))
    assert(round.collect { case j: BaseJoinExec => j }.isEmpty, round)
    assert(round.collect { case b: BroadcastExchangeExec => b }.isEmpty, round)
    Caches.release(spark, fit.vqIds)
  }

  test("media->ANN composition generates IVF candidates without a join") {
    val plan = formatted(graft.operators.Similarity.mediaIvfKnn(spark, sfDir))
    // each vector looks its cell up in the literal probe map: no join,
    // so no cross product either
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("simhash near-dup candidates come from a band equi-join — never a cross product") {
    val plan = formatted(graft.operators.Dedup.simhashNearDup(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("substring dedup: gram-hash equi-joins only, never doc-pair products") {
    // the duplicated-gram membership join and the per-doc totals join
    // must both be hash equi-joins; a gram shared by k docs contributes
    // k rows, so nothing in the plan may go quadratic
    val plan = formatted(graft.operators.Dedup.substringDedup(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
    // the strip adds the canonical-occurrence agg + one more gh join —
    // still nothing pairwise
    val strip = formatted(graft.operators.Dedup.substringStrip(spark, sfDir))
    assert(!strip.contains("CartesianProduct") && !strip.contains("BroadcastNestedLoop"), strip)
  }

  test("substring sweep: four sweep points, still no doc-pair products") {
    // each gram-size pass keeps the family's shape — gram-hash
    // equi-joins only; the corpus-token total is the single allowed
    // 1-row broadcast (a nested-loop join over one row is fine, a
    // cartesian over corpus rows is not)
    val plan = formatted(graft.operators.Dedup.substringSweep(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("substring hotspots: top-N is a TakeOrdered, text joins are equi-joins") {
    val plan = formatted(graft.operators.Dedup.substringHotspots(spark, sfDir))
    // phase 1's top-N must not materialize a global sort of the gram
    // vocabulary; phase 2's representative/text joins are hash joins
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("brand volume broadcasts the dimension side") {
    val plan = formatted(Analytics.brandVolume(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("winnowing windows are doc-partitioned — never a single-reducer window") {
    val plan = Dedup.winnowStats(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // every windowspecdefinition must carry the doc_id partition key;
    // an empty partition spec would funnel the corpus through one task
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty)
    assert(specs.forall(_.contains("doc_id")), specs.mkString("\n"))
  }

  test("Q19 disjunction is pushed into the part scan as an Or filter") {
    val plan = formatted(Analytics.disjunctiveRevenue(spark, sfDir))
    // the part-only (brand AND size) disjunction must reach the scan —
    // the Q19 planner exercise: row groups prune before the join
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(l => l.contains("Or(") && l.contains("p_brand")),
      s"part-side Or not pushed:\n${pushed.mkString("\n")}")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("order priority join degrades to a shuffle join when neither side is broadcastable") {
    // at sf0.001 orders fits under the broadcast threshold (broadcasting
    // it is the RIGHT plan); disable broadcast to verify the shape the
    // query takes when both sides are fact-sized
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = formatted(Analytics.orderPriorityCount(spark, sfDir))
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally spark.conf.set(key, old)
  }

  test("top revenue orders ends in TakeOrdered (no global sort materialization)") {
    val plan = formatted(Analytics.topRevenueOrders(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("minhash candidate generation is an equi-join on the band hash — never a cross product") {
    val plan = formatted(Dedup.nearDupMinhash(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("LSH knn joins on the bucket id — never a cross product") {
    val plan = formatted(Similarity.knnLsh(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bigram LM scoring joins on the bigram key — the only BNLs are 1-row broadcasts") {
    // model derivation crossJoins the 1-row V aggregate (intended);
    // the corpus-sized scoring join must be the (prev, cur) hash join
    val plan = formatted(TextAnalysis.bigramPerplexity(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("cohort retention joins are user/cohort-keyed — never a cross product") {
    val plan = formatted(Analytics.cohortRetention(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("NB scoring fans out over the broadcast class head, model join stays hashed") {
    // the langs-sized class head broadcasts (BNL against 5 rows is the
    // intended fan-out); the vocab-sized model join must never cartesian
    val plan = formatted(TextAnalysis.nbHoldout(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("market-basket pairs come from the per-order equi-join — never all-parts") {
    // the 1-row order-count broadcast is the only BNL-shaped node
    val plan = formatted(Analytics.marketBasket(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("BM25 prunes the posting explode to query terms before any exchange") {
    val plan = formatted(TextAnalysis.bm25TopK(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    // the term filter must sit under the tf aggregate's exchange: the
    // filtered posting list, not the whole corpus explode, shuffles
    assert(plan.contains("word IN") || plan.contains("word#"), plan)
  }

  test("unigram token counts: vocabulary equi-join + doc rollup — no cartesian") {
    // the trainer state never joins the corpus until the final
    // explode->equi-join->rollup; nothing may cross-product and the
    // corpus explode must hash-join the vocabulary-sized seg table
    val plan = formatted(graft.operators.TextAnalysis.unigramTokenCounts(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("tokenizer compare: one corpus explode, two vocab equi-joins — no cartesian") {
    val plan = formatted(graft.operators.TextAnalysis.tokenizerCompare(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
  }

  test("rrf fusion: cell equi-joins + bounded-shortlist fusion — no cartesian") {
    // each retriever is the knnIvf shape (literal-model cell assign,
    // literal probe-map lookup, no join); the only nested loop is the
    // one-row denominator aggregate's broadcast
    val plan = formatted(Similarity.rrfFusion(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("JL sweep scores through a hash join on the reduced coordinate — no cartesian") {
    // brute truth deliberately broadcasts the 10-query side as a BNL
    // (the knnBruteForce shape); the reduced-space scoring itself must
    // be the j-keyed BroadcastHashJoin, and nothing may cross-product
    val plan = formatted(Similarity.knnJlSweep(spark, sfDir))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("JL projection joins the broadcast sign grid and stays codegen'd") {
    // r12 driver-only 5.5× inflation: the old 48-aggregate groupBy
    // inlined 48 LCG+CASE chains into one giant generated method that
    // plausibly crossed HotSpot's JIT size limit. The fix is the
    // data-independent sign grid as a broadcast literal table — the
    // plan must show (a) NO pmod/LCG arithmetic in the aggregate (the
    // grid is pre-evaluated driver-side) and (b) the projection
    // aggregate inside a whole-stage-codegen region ([codegen id :)
    // so the hot path is a compiled tiny sum, never interpreted.
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.embeddings(spark, sfDir)
      .repartition(n, col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("vq"))
    import spark.implicits._
    val sgrid = broadcast(
      (for { j <- 0 until 48; p <- 0 until 64 } yield {
        val w = ((j * 64L + p) * 1103515245L + 12345L) % 65536L - 32768L
        (p.toLong, j.toLong, if (w >= 0L) 1L else -1L)
      }).toDF("pos", "j", "s"))
    val reduced = rows.join(sgrid, Seq("pos"))
      .groupBy("vec_id", "j").agg(sum(col("vq") * col("s")).as("r"))
    // AQE's pre-run plan string carries no codegen stars — disable it
    // so the static plan shows the spans (the pricing-summary pattern)
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val plan = reduced.queryExecution.executedPlan.toString
      assert(!plan.contains("1103515245"), s"LCG leaked into the plan:\n$plan")
      val aggLines = plan.linesIterator.filter(_.contains("HashAggregate")).toSeq
      assert(aggLines.nonEmpty && aggLines.forall(_.contains("*(")),
        s"projection aggregate fell out of codegen:\n$plan")
    } finally spark.conf.set(key, saved)
  }

  test("aHash near-dup candidates come from the band equi-join — never a cross product") {
    val plan = formatted(graft.operators.Multimodal.ahashNearDup(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("embedding near-dup self-join is bucket-keyed — never a cross product") {
    val plan = formatted(Similarity.embeddingNearDup(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("vocab coverage's cumulative window reads only the salted bounded head") {
    // The per-lang cumulative window is the operator's single-reducer
    // hazard; phase 1 must bound its input: a salted shard rank
    // (xxhash64 % SaltBuckets) filtered to headK, then the per-lang
    // re-rank filtered to headK again — both filters sit below the
    // cumulative window, so no full vocabulary ever reaches one reducer.
    val counts = graft.operators.TextAnalysis.tokenCounts(spark, sfDir)
    val plan = formatted(graft.operators.TextAnalysis.vocabHeadRanked(counts, 1024))
    assert(plan.contains("xxhash64"), s"salted shard pass missing:\n$plan")
    assert(plan.contains("<= 1024"), s"head bound missing:\n$plan")
    // tree nodes render as "+- Window (15)"; the detail sections below
    // render as "(15) Window" — count only the tree
    val windows = plan.linesIterator.count(_.contains("- Window ("))
    assert(windows == 2, s"expected shard rank + lang re-rank windows, got $windows:\n$plan")
  }

  test("dedup survivor anti-join degrades to a shuffle join when the dup set cannot broadcast") {
    // The non-root (duplicate) doc set grows with the corpus, so the
    // anti-join must carry NO hard broadcast() hint: a hint-forced
    // broadcast of a corpus-fraction-sized set is a guaranteed OOM at
    // 100 TB with no graceful fallback. Forcing the threshold off
    // simulates "build side too large" — the plan must degrade to a
    // shuffled anti-join instead of insisting on a broadcast.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val plan = formatted(Dedup.dedupSurvivors(spark, sfDir))
      assert(!plan.contains("BroadcastHashJoin"),
        s"anti-join still broadcasts with the threshold off (hard hint?):\n$plan")
      assert((plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")) &&
             plan.contains("LeftAnti"), plan)
    } finally spark.conf.set(key, old)
    // ...and with default confs AQE still measures the tiny dup set at
    // runtime and picks the broadcast — dropping the hint costs nothing
    // at small scale
    val df = Dedup.dedupSurvivors(spark, sfDir)
    df.collect()
    val adaptive = df.queryExecution.executedPlan.toString()
    assert(adaptive.contains("AdaptiveSparkPlan isFinalPlan=true"), adaptive.take(2000))
    assert(adaptive.contains("BroadcastHashJoin") && adaptive.contains("LeftAnti"),
      s"AQE did not recover the small-side broadcast:\n${adaptive.take(4000)}")
  }

  test("minhash error audit joins only on derived keys — never a cross product") {
    val plan = formatted(Dedup.minhashErrorAudit(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("KMV extracts the k-th smallest through the salted shard rank, no global funnel") {
    val plan = formatted(Dedup.kmvDistinctShingles(spark, sfDir))
    assert(!plan.contains("SinglePartition"),
      s"single-reducer funnel in the KMV plan:\n$plan")
    val windows = plan.linesIterator.count(_.contains("- Window ("))
    assert(windows == 2, s"expected shard + lang rank windows, got $windows:\n$plan")
  }

  test("bench-side contamination audit probes via broadcast — corpus never cross-joins") {
    val plan = formatted(graft.operators.CorpusOps.contaminationByBench(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("curation funnel and delete cascade never cross-join") {
    for (df <- Seq(graft.operators.CorpusOps.curationFunnel(spark, sfDir),
                   Dedup.deleteCascade(spark, sfDir))) {
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"), plan)
      // the only nested-loop join allowed is the bounded broadcast
      // (funnel: the 1-row raw-count cross join); count TREE nodes
      // ("+- BroadcastNestedLoopJoin ..."), not the detail sections
      // ("(87) BroadcastNestedLoopJoin") that repeat each node
      val bnl = plan.linesIterator.count(_.contains("- BroadcastNestedLoopJoin"))
      assert(bnl <= 1, s"unexpected nested-loop joins ($bnl):\n$plan")
    }
  }

  test("PQ search joins on (subspace, code) keys — never a cross product") {
    val plan = formatted(Similarity.pqRecall(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("z-order audit ranks all three layouts with partition-local windows only") {
    // every layout's global rank is withGlobalRank (per-partition-id
    // window over the range exchange) — a Window over anything but
    // the _pid hash exchange would be the naive ROW_NUMBER() OVER
    // (ORDER BY ...) single-reducer funnel that cannot rank 100 TB.
    // (The three 64-row final aggregates legitimately use
    // SinglePartition; only the rank windows are pinned here.)
    val plan = formatted(graft.operators.Analytics.zorderSkipping(spark, sfDir))
    val windows = plan.linesIterator.count(_.contains("- Window ("))
    assert(windows == 3, s"expected one partition-local rank window per layout, got $windows:\n$plan")
    val pidExchanges = "hashpartitioning\\(_pid".r.findAllIn(plan).length
    assert(pidExchanges >= 3, s"per-partition rank exchanges missing ($pidExchanges):\n$plan")
  }

  test("residual IVF-PQ prunes via routed-cell equi-joins — never a cross product") {
    // candidates come from the probes⋈routing equi-join and score
    // through (query, cell, subspace, code) keys — a cross product or
    // nested-loop anywhere would mean the prune degenerated to
    // corpus-wide pairing
    val plan = formatted(Similarity.ivfPqResidualRecall(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("quality deciles never run a single-reducer global window") {
    // the global rank comes from withGlobalRank: a per-PARTITION-id
    // window over the range-partitioned (checkpointed) frame plus
    // partition-count offsets — the plan must show the _pid-keyed
    // window exchange and NO SinglePartition exchange (the signature
    // of a naive ROW_NUMBER() OVER (ORDER BY ...) global window)
    val plan = formatted(graft.operators.CorpusOps.qualityDeciles(spark, sfDir))
    assert(plan.contains("hashpartitioning(_pid"), s"per-partition rank window missing:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"global-window funnel found in the decile plan:\n$plan")
    val windows = plan.linesIterator.count(_.contains("- Window ("))
    assert(windows == 1, s"expected exactly the partition-local rank window, got $windows:\n$plan")
  }

  test("sessionize runs both windows and the aggregation on ONE shuffle") {
    val plan = formatted(Analytics.sessionize(spark, sfDir))
    // one hashpartitioning exchange shared by lag-window, running-sum
    // window, and the aggregation; the only other exchange is the
    // rangepartitioning of the oracle-determinism orderBy
    val hashShuffles = plan.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashShuffles == 1, s"expected exactly one hash exchange, got $hashShuffles:\n$plan")
  }

  /** The physical plan of an unexecuted frame, exchanges included, as
    * adaptive execution starts from it. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  test("IVF knn: no cross product, per-vector window, distinct or broadcast") {
    def shape(df: DataFrame): (Boolean, Boolean, Boolean, Boolean) = {
      val plan = physical(df)
      (plan.exists(_.isInstanceOf[CartesianProductExec]),
        plan.exists {
          case w: WindowExec => w.partitionSpec.exists(_.references.exists(_.name == "vec_id"))
          case _ => false
        },
        plan.exists {
          case a: HashAggregateExec => a.aggregateExpressions.isEmpty
          case _ => false
        },
        !plan.exists(_.isInstanceOf[BroadcastExchangeExec]))
    }
    val plan = formatted(Similarity.knnIvf(spark, sfDir))
    val (cartesian, vecWindow, distinct, noBroadcast) = shape(Similarity.knnIvf(spark, sfDir))
    assert(!cartesian, plan)
    assert(!vecWindow, s"per-vector rank window in:\n$plan")
    assert(!distinct, s"distinct aggregate in:\n$plan")
    assert(noBroadcast, s"a broadcast exchange (one more job) in:\n$plan")
    // the checks see the replaced row_number form's window, distinct and broadcasts
    assert(shape(ReplacedForms.knnIvf(spark, sfDir, 5, 10, 16, 2)) == ((false, true, true, false)))
  }

  test("normalizeUnion scans events once") {
    def scans(df: DataFrame) = physical(df).collect { case f: FileSourceScanExec => f }.size
    assert(scans(graft.operators.RefPipeline.normalizeUnion(spark, sfDir)) == 1)
    assert(scans(ReplacedForms.normalizeUnion(spark, sfDir)) == 3)
  }

  test("arithmetic banding has no join operator at all") {
    val plan = formatted(Analytics.valueBandArithmetic(spark, sfDir))
    assert(!plan.contains("Join"), plan)
  }

  test("decontamination probes via a broadcast semi-join — the corpus never shuffles for it") {
    val plan = formatted(graft.operators.CorpusOps.decontaminate(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("stratified sample prunes the scan to the selected columns (no text read)") {
    val plan = formatted(graft.operators.CorpusOps.stratifiedSample(spark, sfDir))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("text"),
      s"sampling filter reads the document body it never needs: $readSchema")
  }

  test("schema-drift union concatenates partitions with zero shuffle") {
    val plan = formatted(Analytics.schemaDriftUnion(spark, sfDir))
    val hashShuffles = plan.linesIterator.count(_.contains("Arguments: hashpartitioning"))
    assert(hashShuffles == 0,
      s"union must not shuffle (only the final orderBy range-partitions):\n$plan")
    assert(plan.contains("Union"), plan)
  }

  test("custom expressions participate in Catalyst constant folding") {
    // PolyHash/DotProduct are plain Expressions, so foldable literal
    // inputs must be collapsed by the optimizer to a Literal — the
    // query never evaluates the hash at runtime. This is the payoff of
    // extending Catalyst natively instead of via opaque UDFs (which
    // never fold).
    graft.functions.PolyHash.register(spark)
    val optimized = spark.sql(s"SELECT ${graft.functions.PolyHash.Name}('abc') AS h")
      .queryExecution.optimizedPlan.toString()
    assert(!optimized.contains("graft_polyhash"),
      s"literal hash call must fold away:\n$optimized")
    assert(optimized.contains(graft.functions.PolyHash.hash("abc").toString),
      s"folded literal value expected in plan:\n$optimized")
  }

  test("AQE coalesces the small shuffle at runtime (adaptive re-plan active)") {
    // run an aggregation whose 4 configured shuffle partitions are
    // overkill for 5 groups — after execution, the adaptive plan must
    // show an AQEShuffleRead (coalesced) over the exchange, proving
    // runtime re-planning is ON for every query in this suite
    val df = Analytics.orderPriorityCount(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan.take(2000))
    assert(plan.contains("AQEShuffleRead"), s"no runtime shuffle coalesce:\n${plan.take(2000)}")
  }

  test("AQE splits the skewed join partition at runtime (OptimizeSkewedJoin)") {
    // thresholds scaled to the test corpus: the 9:1 hot partition
    // (~180k fact rows on one key) must exceed both the absolute
    // threshold and 5x the median partition, and the advisory size
    // forces a multi-way split — the same rescue fires at 100 TB with
    // the default 256 MB threshold
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    val saved = tuned.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = Analytics.skewedJoinAgg(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("AdaptiveSparkPlan isFinalPlan=true"), plan.take(2000))
      assert(plan.toLowerCase.contains("skew"),
        s"runtime plan must show the skew-split join/read:\n${plan.take(4000)}")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("runtime bloom filter prunes the fact scan when the dim cannot broadcast") {
    // scale-adjusted thresholds: broadcast off forces the shuffle join
    // (the 100 TB shape where both sides exceed the broadcast limit),
    // and the application-side floor drops to 0 so the demo fact table
    // qualifies — with the default 10 GB floor the same injection
    // happens untouched at cluster scale
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = tuned.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      tuned.foreach { case (k, v) => spark.conf.set(k, v) }
      val plan = formatted(Analytics.runtimeFilteredRevenue(spark, sfDir))
      // the injected filter renders as might_contain(Subquery ...) on
      // the fact side's pre-shuffle Filter node
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"demo preconditions broken — join must be the shuffle form:\n$plan")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
    // with default confs the dim broadcasts and no filter is needed —
    // injection must NOT fire (it would be pure overhead)
    val default = formatted(Analytics.runtimeFilteredRevenue(spark, sfDir))
    assert(default.contains("BroadcastHashJoin") &&
           !default.contains("might_contain"), default)
  }

  test("chunk dedup shuffles fingerprints — neither text nor token arrays cross") {
    val plan = formatted(graft.operators.CorpusOps.chunkDedup(spark, sfDir))
    val exchanges = plan.split("\\n(?=\\(\\d+\\) )")
      .filter(s => s.startsWith("(") && s.contains("Exchange") &&
        s.contains("hashpartitioning"))
    assert(exchanges.nonEmpty, s"expected shuffles in:\n$plan")
    exchanges.foreach { e =>
      val inputLine = e.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!inputLine.contains("text#") && !inputLine.contains("toks#"),
        s"document payload crosses a chunk-dedup shuffle: $inputLine")
    }
  }

  test("hot aggregation paths run fully inside whole-stage codegen (incl. PolyHash)") {
    // simple-mode explain stars (`*(n)`) every whole-stage-codegen
    // node; an unstarred compute node means a codegen break — the
    // silent 10x the prompt warns about. Checked on the canonical
    // scan->agg and on a PolyHash-filtered scan, since the custom
    // expression must participate via doGenCode, not fall back.
    def computeLines(plan: String): Seq[String] = plan.linesIterator
      .filter(l => Seq("HashAggregate", "Project", "Filter").exists(l.contains))
      .filterNot(_.contains("PushedFilters")).toSeq
    // AQE inserts codegen per query stage at runtime and its pre-run
    // plan string carries no stars — disable it here so the static
    // plan shows the codegen spans directly
    val key = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      val agg = Analytics.pricingSummary(spark, sfDir).queryExecution.executedPlan.toString
      val aggLines = computeLines(agg)
      assert(aggLines.nonEmpty && aggLines.forall(_.contains("*(")),
        s"codegen break in pricing summary:\n$agg")
      val ph = graft.operators.CorpusOps.stratifiedSample(spark, sfDir)
        .queryExecution.executedPlan.toString
      val phLines = computeLines(ph)
      assert(phLines.nonEmpty && phLines.forall(_.contains("*(")),
        s"PolyHash breaks whole-stage codegen:\n$ph")
    } finally spark.conf.set(key, saved)
  }

  test("hopping window fans out via Expand below the aggregate — partials carry, not events") {
    val plan = formatted(Analytics.hoppingEventCounts(spark, sfDir))
    assert(plan.contains("Expand"), s"no Expand fan-out in:\n$plan")
    // partial_ prefix specifically: the final-mode aggregate also
    // prints its function list, so a looser match could not detect a
    // missing map-side combine
    assert(plan.contains("partial_count"),
      s"no partial aggregation below the shuffle:\n$plan")
  }

  test("full-outer reconciliation reuses the aggregates' partitioning — no third hash exchange") {
    val plan = formatted(Analytics.userFunnelReconciliation(spark, sfDir))
    // full-outer cannot broadcast; it must be the sort-merge form
    assert(plan.contains("SortMergeJoin") && plan.contains("FullOuter"), plan)
    // both sides aggregate on user_id and the join key is user_id, so
    // the only hash exchanges are the two feeding the aggregates — the
    // join itself must not re-shuffle (the final orderBy adds one
    // rangepartitioning exchange, which is allowed)
    val hashExchanges = plan.split("\\n(?=\\(\\d+\\) )")
      .count(s => s.startsWith("(") && s.contains("Exchange") &&
        s.contains("hashpartitioning"))
    assert(hashExchanges == 2,
      s"expected exactly 2 hash exchanges (one per aggregate), got $hashExchanges:\n$plan")
  }

  test("LATERAL limit-1 decorrelates to a map-side WindowGroupLimit + equi-join") {
    val plan = Analytics.lateralTopOrder(spark, sfDir).queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the correlated per-customer subquery must become set-based: a
    // rank-1 window whose group-limit prunes BEFORE the shuffle,
    // joined back on the key — never a per-row nested loop
    assert(plan.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      plan)
  }

  test("NOT IN plans the null-aware hash anti join — not the nested-loop fallback") {
    val qe = Analytics.customersNoBigOrders(spark, sfDir).queryExecution
    val plan = qe.explainString(ExplainMode.fromString("simple"))
    // the single-column NOT IN rewrite: BroadcastHashJoin LeftAnti with
    // the trailing isNullAwareAntiJoin=true flag (three-valued NOT IN
    // semantics preserved in hash form); the naive plan is a quadratic
    // BroadcastNestedLoopJoin and must not appear
    assert(plan.contains("LeftAnti, BuildRight, true"),
      s"no null-aware hash anti join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("gap-fill aggregates the fact table BEFORE any spine join") {
    val plan = formatted(Analytics.hourlyGapFill(spark, sfDir))
    // the left-outer spine join must consume the aggregated hourly
    // counts, never raw events: every join input is post-aggregate
    val tree = plan.linesIterator.takeWhile(l => !l.trim.startsWith("(1)")).toSeq
    val joinDepths = tree.filter(_.contains("Join"))
      .map(l => math.max(l.indexOf("+-"), l.indexOf(":-"))).filter(_ >= 0)
    val aggDepths = tree.filter(_.contains("HashAggregate"))
      .map(l => math.max(l.indexOf("+-"), l.indexOf(":-"))).filter(_ >= 0)
    assert(joinDepths.nonEmpty && aggDepths.nonEmpty, plan)
    assert(aggDepths.exists(_ > joinDepths.max),
      s"fact aggregation must sit below the joins:\n${tree.mkString("\n")}")
  }

  test("frame dedup shuffles fingerprints — frame bytes never cross an exchange") {
    val plan = formatted(graft.operators.Multimodal.frameDedup(spark, sfDir))
    val exchanges = plan.split("\\n(?=\\(\\d+\\) )")
      .filter(s => s.startsWith("(") && s.contains("Exchange") &&
        s.contains("hashpartitioning"))
    assert(exchanges.nonEmpty, s"expected shuffles in:\n$plan")
    exchanges.foreach { e =>
      val inputLine = e.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!inputLine.contains("frame#") && !inputLine.contains("payload#") &&
             !inputLine.contains("text#"),
        s"frame/payload bytes cross a frame-dedup shuffle: $inputLine")
    }
  }

  test("exact dedup shuffles 16-byte hashes, not document bodies") {
    val plan = formatted(Dedup.exactDedup(spark, sfDir))
    // the md5 grouping key must be computed map-side (partial agg below
    // the exchange), so the shuffle input carries the hash, not text
    val sections = plan.split("\\n(?=\\(\\d+\\) )")
    val exchange = sections.find(s => s.startsWith("(") && s.contains("Exchange") &&
      s.contains("hashpartitioning")).getOrElse(fail(s"no shuffle exchange in:\n$plan"))
    assert(exchange.contains("_groupingexpression"),
      s"shuffle not keyed on the precomputed hash:\n$exchange")
    val inputLine = exchange.linesIterator.find(_.startsWith("Input")).getOrElse("")
    assert(!inputLine.contains("text#"), s"document text crosses the shuffle: $inputLine")
  }

  /** Shuffle-exchange sections of a formatted plan. */
  private def shuffleSections(plan: String): Seq[String] =
    plan.split("\\n(?=\\(\\d+\\) )").toSeq
      .filter(s => s.startsWith("(") && s.contains("Exchange") &&
        s.contains("hashpartitioning"))

  test("semantic decontam broadcasts the bench index; exploded micro rows never shuffle") {
    val plan = formatted(Similarity.semanticDecontam(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"bench probe not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"probe fell back to a shuffled join:\n$plan")
    // the only pre-explode shuffle carries whole vectors (one row per
    // vector); the 64x-exploded (pos, vq) form must aggregate partial
    // map-side and never cross an exchange
    shuffleSections(plan).foreach { ex =>
      val input = ex.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("vq#") && !input.contains("bq#"),
        s"exploded micro rows cross a shuffle: $input")
    }
  }

  test("hard negatives broadcast the query side; exploded micro rows never shuffle") {
    val plan = formatted(Similarity.hardNegatives(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"query side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"probe fell back to a shuffled join:\n$plan")
    shuffleSections(plan).foreach { ex =>
      val input = ex.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("vq#") && !input.contains("qq#"),
        s"exploded micro rows cross a shuffle: $input")
    }
  }

  test("langid scoring joins the broadcast profile — the trigram stream never shuffles for it") {
    val plan = formatted(graft.operators.TextAnalysis.langIdNgram(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"profile not broadcast:\n$plan")
    // the only text-carrying exchanges are the one-row-per-doc
    // pre-explode repartitions (the family idiom); the exploded
    // trigram rows reach exchanges only as partial aggregates
    // (profile counts, per-doc hit counts) — never with the document
    // text still attached
    shuffleSections(plan).foreach { ex =>
      val input = ex.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!(input.contains("tok#") && input.contains("text#")),
        s"exploded trigram rows cross a shuffle with text attached: $input")
    }
  }

  test("beta joins per-symbol returns against the BROADCAST calendar-bounded market") {
    val plan = formatted(graft.operators.Finance.beta(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"market table not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("link prediction and local clustering pair only through equi-joins") {
    Seq(graft.operators.Graphs.linkPrediction(spark, sfDir),
        graft.operators.Graphs.localClustering(spark, sfDir)).foreach { df =>
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"), plan)
      // the only nested-loop joins allowed are 1-row broadcasts
      // (TakeOrdered re-rank) — the pair generation must be hashed
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
             plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("waiting suppliers decorrelates to ONE lineitem-orders join, no subquery re-scans") {
    val plan = formatted(graft.operators.Analytics.waitingSuppliers(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoop"), plan)
    // one scan each: the correlated-EXISTS form would re-scan lineitem
    // per subquery; the aggregate rewrite reads it once (plus the
    // localCheckpoint materialization)
    val liScans = plan.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"lineitem scanned $liScans times:\n$plan")
  }

  test("MACD / EWMA-vol: lag projection keeps one window block per layer, one exchange") {
    // window-node budgets pin the ONE-array-frame-per-layer shape: a
    // regression to per-offset lag columns would re-introduce 40
    // frames per layer (each its own pass over the partition buffer —
    // the r14 x_trix finding) and blow these counts immediately.
    // macd: price array + signal array; ewma-vol: ret lag + rsq array;
    // trix: three smoothing arrays + the final e3 lag.
    Seq(graft.operators.Finance.macd(spark, sfDir) -> 2,
        graft.operators.Finance.trix(spark, sfDir) -> 4,
        graft.operators.Finance.ewmaVolatility(spark, sfDir) -> 2).foreach {
      case (df, maxWindows) =>
        val plan = formatted(df)
        val windows = plan.linesIterator.count(_.trim.matches("\\(\\d+\\) Window.*"))
        assert(windows <= maxWindows, s"$windows window nodes (lag fan-out regressed):\n$plan")
        val hashEx = plan.linesIterator.count(_.contains("Arguments: hashpartitioning"))
        assert(hashEx == 1, s"$hashEx hash exchanges:\n$plan")
    }
  }

  test("TPC-H wave: dims broadcast, no cartesians, no nested-loop fallbacks") {
    // the 1-row stats/max broadcasts (Q15/Q22) are the only
    // nested-loop joins allowed; everything else must hash
    Seq(Analytics.returnedItemCustomers(spark, sfDir),
        Analytics.minCostSupplier(spark, sfDir),
        Analytics.smallQtyBrandRevenue(spark, sfDir),
        Analytics.nationMarketShare(spark, sfDir),
        Analytics.promoRevenueShare(spark, sfDir)).foreach { df =>
      val plan = formatted(df)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("BroadcastHashJoin"), s"no broadcast dim join in:\n$plan")
    }
  }

  test("bloom audit probes join the BROADCAST bounded bit set") {
    val plan = formatted(Analytics.bloomAudit(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"bit set not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("range indicators share one (symbol) or (symbol, day) exchange layer") {
    // ATR: bars aggregate + day window; aroon/ulcer: one symbol
    // exchange feeding windows — never an extra repartition
    Seq(graft.operators.Finance.atr(spark, sfDir) -> 3,
        graft.operators.Finance.aroon(spark, sfDir) -> 1,
        graft.operators.Finance.ulcerIndex(spark, sfDir) -> 2).foreach {
      case (df, maxHashEx) =>
        val plan = formatted(df)
        val hashEx = plan.linesIterator.count(_.contains("Arguments: hashpartitioning"))
        assert(hashEx <= maxHashEx, s"$hashEx hash exchanges:\n$plan")
        assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("sequential-purchase graph (HITS) pairs only through equi-joins") {
    val plan = formatted(graft.operators.Graphs.seqEdges(spark, sfDir))
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoop"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
           plan.contains("BroadcastHashJoin"), plan)
  }

  test("lexical profile: corpus work is the (lang, token) aggregate, doc counts broadcast") {
    val plan = formatted(graft.operators.TextAnalysis.lexicalProfile(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"doc counts not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
