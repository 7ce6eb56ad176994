package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators over `documents` — the selection half of
  * an LLM training-data pipeline (the scoring half is
  * [[TextAnalysis]], the dedup half [[Dedup]]): deterministic
  * stratified sampling, rule-based quality filtering, and benchmark
  * decontamination. All narrow column expressions plus bounded
  * aggregations; formulas are frozen here and replicated exactly in
  * the DuckDB oracle.
  */
object CorpusOps {

  /** Word n-gram size for decontamination (real pipelines use 8-13;
    * 4 fits this corpus's short synthetic docs while keeping the
    * pipeline shape identical).
    */
  val DecontamGramN = 4

  /** Exact DISTRIBUTED global rank over `sortCols` (assumed a unique
    * key): range-partition on the sort key, rank WITHIN each partition,
    * then add per-partition offsets. The offsets come from one
    * partition-count aggregate collected to the driver — bounded by
    * the PARTITION count (a config scalar), never by the data, the
    * same driver-bounded move as [[TextAnalysis.vocabCoverage]]'s
    * language collect. No single-reducer global window ever runs: the
    * per-partition rank window partitions on the physical partition
    * id, so every reducer sorts only its own range slice. This is the
    * scalable form of `ROW_NUMBER() OVER (ORDER BY ...)` — the naive
    * form funnels the whole table through ONE reducer at 100 TB.
    *
    * The range-partitioned frame is localCheckpointed BEFORE the
    * counts collect: the offsets and the rank join must see the SAME
    * physical partitioning (range boundaries come from sampling;
    * re-evaluating the exchange for each consumer could resample).
    */
  private[graft] def withGlobalRank(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
                                    rankCol: String): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parted = df.repartitionByRange(n, sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val counts = parted.groupBy("_pid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2).init)
    val total = counts.map(_._2).sum
    val offsetDf = spark.createDataFrame(offsets.toSeq).toDF("_pid", "_off")
    val w = Window.partitionBy("_pid").orderBy(sortCols: _*)
    val ranked = parted
      .withColumn("_lr", row_number().over(w))
      // partition-count-sized: broadcast is bounded by config, like
      // the centroid tables
      .join(broadcast(offsetDf), "_pid")
      .withColumn(rankCol, (col("_off") + col("_lr")).cast("bigint"))
      .drop("_pid", "_off", "_lr")
    (ranked, total)
  }

  /** Quality-decile curriculum bins: rank every document by its
    * [[TextAnalysis.textStats]] quality score (ties broken by doc_id —
    * a unique total order, so the binning is engine-exact) and split
    * the ranking into `k` equal bins, reporting each bin's size,
    * quality range, mean quality, and token mass. This is the
    * curriculum-learning audit: band 1 is what "train on the best
    * decile first" actually selects, and the per-decile token mass is
    * what it costs.
    *
    * The bin id is integer arithmetic on the global rank
    * (`(rn-1)*k div N + 1`) rather than NTILE — the same formula
    * evaluated in the oracle, so bin boundaries cannot drift between
    * engines' NTILE remainder conventions.
    *
    * Scale shape: the global rank comes from [[withGlobalRank]]
    * (range-partition + per-partition rank + partition-count offsets)
    * — no single-reducer window anywhere (plan-asserted); the decile
    * rollup is a k-row hash aggregate.
    */
  def qualityDeciles(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val stats = TextAnalysis.textStats(spark, dir)
      .select("doc_id", "quality", "n_tokens")
    val (ranked, total) = withGlobalRank(stats,
      Seq(col("quality").desc, col("doc_id")), "rn")
    ranked
      .withColumn("decile", expr(s"((rn - 1) * $k) div ${total}") + 1)
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
           min(col("quality")).as("min_quality"),
           max(col("quality")).as("max_quality"),
           (sum(col("quality").cast("decimal(18,6)")).cast("double") /
             count(lit(1))).as("avg_quality"),
           sum(col("n_tokens")).as("total_tokens"))
      .orderBy("decile")
  }

  /** Deterministic hash-based stratified sampling: keep a document iff
    * polyhash(doc_id) mod 100 falls under its stratum's rate —
    * downsample the dominant language, keep rare strata dense (the
    * standard rebalancing move for training mixes). Hash-gating (vs
    * `sample()`) is reproducible across engines, runs, and partition
    * layouts, and is a pure narrow filter: at 100 TB it composes with
    * column pruning into the scan and never shuffles.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash.register(spark)
    val bucket = pmod(
      call_function(graft.functions.PolyHash.Name, col("doc_id").cast("string")),
      lit(100))
    val rate = when(col("lang") === "en", lit(10)).otherwise(lit(50))
    Tables.documents(spark, dir)
      .filter(bucket < rate)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Per-source quota cap — the anti-domination move web-scale
    * curation applies per DOMAIN (no single site may contribute more
    * than N documents): rank each source's documents by a
    * deterministic hash of their id and keep the first `cap`. Ranking
    * by hash (not doc_id) makes the kept set a uniform per-source
    * sample, reproducible across runs and partition layouts — the
    * same property [[stratifiedSample]] gets from hash gating.
    *
    * Scale shape: one shuffle on the source key feeds a rank window.
    * A mega-domain is the skew axis; the rescue is a two-phase cap —
    * hash-gate to ~cap×fudge first (a narrow filter, as in
    * [[stratifiedSample]]) so the per-domain sort ranks a bounded
    * candidate set, then rank exactly. The corpus here never needs
    * phase one, so the single-window form IS the exact semantics the
    * two-phase version must preserve.
    */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        call_function(graft.functions.PolyHash.Name,
          col("doc_id").cast("string")).as("h"))
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= cap)
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")
  }

  /** Deterministic training-order assignment — the "global shuffle"
    * that precedes training-data serialization: every document gets a
    * (shard, position) address by hash order. Hash-partitioning into
    * shards + an independent within-shard sort IS the scalable global
    * shuffle: no total order is ever materialized (a global sort would
    * funnel 100 TB through one range partitioner), yet the resulting
    * order is reproducible bit-for-bit from the seed-free content ids
    * alone, so a re-run (or a resumed run) serializes the identical
    * epoch order.
    */
  def trainingOrder(spark: SparkSession, dir: String, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        call_function(graft.functions.PolyHash.Name,
          col("doc_id").cast("string")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("bigint"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Training-shard balance audit over [[trainingOrder]]'s hash-shard
    * assignment: per shard, the document count, token mass, and load
    * factors relative to perfect balance (1.0 = exactly corpus/shards).
    * Hash sharding balances DOCUMENT counts by construction, but token
    * mass follows the length distribution — the factor a serialization
    * planner actually cares about (a shard 1.3x heavier in tokens
    * finishes an epoch 1.3x later). One corpus scan into a
    * shards-sized aggregate; the totals attach as frameless windows
    * over the shards-sized table.
    */
  def shardSkew(spark: SparkSession, dir: String, shards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    val w = Window.partitionBy()
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"),
        pmod(call_function(graft.functions.PolyHash.Name,
          col("doc_id").cast("string")), lit(shards.toLong)).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .withColumn("doc_load",
        round(col("n_docs").cast("double") * shards /
              sum(col("n_docs")).over(w), 6))
      .withColumn("tok_load",
        round(col("total_tokens").cast("double") * shards /
              sum(col("total_tokens")).over(w), 6))
      .select("shard", "n_docs", "total_tokens", "doc_load", "tok_load")
      .orderBy("shard")
  }

  /** Epoch-mixture upsampling — the complement of [[stratifiedSample]]
    * (which DOWNsamples the dominant stratum): rare-language documents
    * replicate `n_repeats` times into the training stream, the
    * standard rebalancing move when the target mix needs MORE of a
    * stratum than the corpus has. Replication is an explode over a
    * `sequence` (a Generate — pure narrow fan-out, no shuffle until
    * the tiny rollup), so at 100 TB the copies stream straight to the
    * serializer without materializing. The rollup reports the
    * effective (post-replication) token mix per language with its
    * share of the epoch.
    */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    val rep = when(col("lang") === "en", lit(1)).otherwise(lit(3))
    val copies = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"),
        rep.as("n_repeats"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        explode(sequence(lit(1), col("n_repeats"))).as("copy_id"))
    val byLang = copies.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           count(lit(1)).as("n_copies"),
           sum(col("n_tok")).as("effective_tokens"))
      .localCheckpoint() // two consumers: the total and the share rows
    val total = byLang.agg(sum(col("effective_tokens")).as("epoch_tokens"))
    byLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_copies"), col("effective_tokens"),
        round(col("effective_tokens").cast("double") / col("epoch_tokens"), 6)
          .as("mix_share"))
      .orderBy("lang")
  }

  /** The Gopher-style quality gate over a `text` column: token-count
    * bounds, mean word length (single-space-joined corpus: chars minus
    * separators over tokens), stopword ratio, type-token ratio. ONE
    * definition shared by [[qualityFilter]] and [[curationPipeline]] —
    * the thresholds are mirrored in both oracles, so a tweak here must
    * change both SQL strings too.
    */
  def qualityKeep: org.apache.spark.sql.Column = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isInCollection(TextAnalysis.Stopwords)))
    val meanLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
    val ttr = size(array_distinct(toks)).cast("double") / nTok
    nTok.between(20, 1000) &&
      meanLen >= 2.0 && meanLen <= 12.0 &&
      nStop.cast("double") / nTok >= 0.03 &&
      ttr >= 0.2
  }

  /** Gopher-style rule filter rollup: per (lang, source) stratum, how
    * many documents survive [[qualityKeep]]. One narrow projection +
    * one tiny aggregate — the shape of a 100 TB quality-gate pass (the
    * kept set itself is the same filter applied row-wise).
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val keep = qualityKeep.cast("bigint")
    Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
           sum(keep).as("n_kept"),
           round(sum(keep).cast("double") / count(lit(1)), 6).as("keep_rate"))
      .orderBy("lang", "source")
  }

  /** End-to-end curation pass — the composed pipeline a training-data
    * run executes: quality gate ([[qualityKeep]], applied row-wise) →
    * exact dedup (content-hash, smallest doc_id survives, as
    * [[Dedup.exactDedup]]) → per-(lang, source) yield rollup. One
    * narrow filter + one 16-byte-key dedup shuffle + one tiny agg; at
    * 100 TB every stage streams — nothing is collected or widened.
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(qualityKeep)
      .groupBy(col("lang"), col("source"), md5(encode(col("text"), "UTF-8")).as("ch"))
      .agg(min(col("doc_id")).as("keep_id"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_unique_docs"), min(col("keep_id")).as("first_keep"))
      .orderBy("lang", "source")

  /** The whole-corpus curation funnel: one row per stage of the
    * canonical pass — raw → quality gate → exact-unique (min-doc_id
    * per content hash among quality passers) → near-dup root (only
    * each MinHash component's canonical representative survives) →
    * decontaminated — with the document count and retained fraction
    * at each stage. This is the yield table a curation run reports
    * first: it prices every stage's cut against the raw corpus.
    * Stage predicates are the SAME definitions the standalone
    * queries use ([[qualityKeep]], [[Dedup.exactDedup]]'s survivor
    * rule, [[Dedup.labelPropagation]] non-roots, [[decontaminate]]'s
    * contaminated set) — one definition each, no drift.
    *
    * Scale shape: ONE corpus scan yields the raw and quality counts
    * (a count of a filter is a conditional count — the five separate
    * union branches each re-scanned the corpus or re-derived the md5
    * keep-set); one content-hash aggregate builds the exact-unique
    * survivor set; stages 4 and 5 are flag left-joins of that
    * survivor set against the non-root / contaminated doc sets (both
    * one-row-per-doc by construction — labelPropagation emits one
    * label row per doc, decontaminate one rollup row per doc — so the
    * flag joins cannot multiply), folded into ONE conditional-count
    * aggregate. The 5-row table pivots out of the combined one-row
    * result with a single generate — no unioned re-scans.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // the two heavy pipelines feeding stages 4 and 5 are INDEPENDENT
    // (MinHash pair graph + label propagation vs the decontamination
    // gram pass) — overlap their materializations (optimization guide
    // §2.6); each pipeline's own plan/checkpoint discipline is
    // unchanged, only the driver stops serializing them
    val (nonRoots, contaminated) = graft.Par.run2(
      Dedup.labelPropagation(
          Dedup.nearDupMinhash(spark, dir).select("doc_a", "doc_b"))
        .filter(col("doc_id") =!= col("lbl")).select("doc_id"),
      decontaminate(spark, dir).select("doc_id"))
    val n12 = docs.agg(count(lit(1)).as("n_raw"),
      count(when(qualityKeep, 1)).as("n_quality"))
    val s3 = docs.filter(qualityKeep)
      .groupBy(md5(encode(col("text"), "UTF-8")).as("ch"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val n345 = s3
      .join(nonRoots.withColumn("nr", lit(true)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("ct", lit(true)), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        count(when(col("nr").isNull, 1)).as("n_root"),
        count(when(col("nr").isNull && col("ct").isNull, 1)).as("n_decon"))
    def st(id: Long, name: String, c: String) =
      struct(lit(id).as("stage_id"), lit(name).as("stage"),
        col(c).as("n_docs"))
    n12.crossJoin(broadcast(n345))
      .select(col("n_raw"), explode(array(
        st(1L, "raw", "n_raw"),
        st(2L, "quality", "n_quality"),
        st(3L, "exact_unique", "n_exact"),
        st(4L, "neardup_root", "n_root"),
        st(5L, "decontaminated", "n_decon"))).as("s"))
      .select(col("s.stage_id"), col("s.stage"), col("s.n_docs"),
        round(col("s.n_docs").cast("double") / col("n_raw"), 6).as("retained"))
      .orderBy("stage_id")
  }

  /** Smoothed TF-IDF top-k terms per language label: tf counts every
    * occurrence within the language, df counts distinct documents
    * corpus-wide, idf = ln((N+1)/(df+1)). The corpus size attaches as
    * a broadcast one-row cross join (never a driver-side collect), and
    * the rounded score + token tie-break keep the per-language rank
    * stable across engines. Scale shape: token rows shuffle once for
    * tf, once (deduped) for df; the top-k is a bounded window per
    * language.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rows = Tables.documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .localCheckpoint() // eager materialization + plan truncation — feeds tf and df below
    val tf = rows.groupBy("lang", "tok").agg(count(lit(1)).as("tf"))
    val dft = rows.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dft, "tok").crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("tok"))
    scored
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("lang", "rk", "tok", "tf", "df", "score")
      .orderBy("lang", "rk")
  }

  /** Fixed-size token-window chunking with overlap — the step that
    * turns variable-length documents into training-window pieces
    * (chunk of [[ChunkTokens]] tokens every [[ChunkStride]], so
    * consecutive chunks overlap by chunk-stride tokens; the final
    * chunk may be short; every doc yields at least one chunk). Output
    * is (doc_id, chunk_idx, n_chunk_tokens, chunk_fp) — the
    * fingerprint stands in for the chunk payload so chunk-level dedup
    * composes directly ([[Dedup.exactDedup]] on chunk_fp).
    *
    * Scale shape: tokens materialize once per doc, chunk indices
    * explode via `sequence` (a Generate), the slice/join/hash are
    * codegen'd column expressions — a pure narrow map, no shuffle; at
    * 100 TB this runs at scan speed alongside the quality gate.
    */
  val ChunkTokens = 64
  val ChunkStride = 48

  def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunkRows(spark, dir).orderBy("doc_id", "chunk_idx")

  /** The chunk table without the output sort — the composition seam
    * for chunk-level consumers ([[chunkDedup]]) whose own shuffles
    * would make a pre-sort wasted work.
    */
  private def chunkRows(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash.register(spark)
    val toks = split(col("text"), " ")
    val nChunks = greatest(
      ceil((size(toks) - ChunkTokens).cast("double") / ChunkStride).cast("bigint"),
      lit(0L)) + 1L
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("toks"),
        size(toks).cast("bigint").as("n_tok"),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        least(lit(ChunkTokens.toLong),
          col("n_tok") - col("chunk_idx") * ChunkStride).as("n_chunk_tokens"),
        call_function(graft.functions.PolyHash.Name,
          concat_ws(" ", slice(col("toks"),
            (col("chunk_idx") * ChunkStride + 1).cast("int"),
            lit(ChunkTokens)))).as("chunk_fp"))
  }

  /** Chunk-level exact dedup — the loop [[docChunks]]' `chunk_fp` was
    * built to close: a chunk occurrence is a DUPLICATE unless it is
    * the first (smallest (doc_id, chunk_idx)) bearer of its
    * fingerprint, and the per-document duplicate-chunk ratio is the
    * fine-grained reuse signal document-level dedup misses (a doc
    * that copies half its paragraphs from elsewhere passes every
    * whole-doc pass but lights up here).
    *
    * Scale shape: first-occurrence detection is a rank window
    * partitioned by the 8-byte fingerprint — one shuffle carrying
    * (doc_id, chunk_idx, fp) triples, never chunk text; the per-doc
    * rollup is a second hash aggregate. Both keys are high-cardinality
    * and skew-free by construction (fp is a hash; docs have bounded
    * chunk counts).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("chunk_fp").orderBy("doc_id", "chunk_idx")
    chunkRows(spark, dir)
      .withColumn("is_dup", (row_number().over(w) > 1).cast("bigint"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
           sum(col("is_dup")).as("n_dup_chunks"),
           round(sum(col("is_dup")).cast("double") / count(lit(1)), 6)
             .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Greedy sequence packing audit: documents concatenate in doc_id
    * order into one token stream per language, cut into training
    * sequences of [[SeqLen]] tokens; a document belongs to the
    * sequence its first token lands in. Per (lang, seq) rollup:
    * how many docs start there, how many tokens they contribute, and
    * how many straddle the sequence boundary — the packing-efficiency
    * numbers a concat-and-chunk data prep reports.
    *
    * [[SeqLen]] is a power of two so the offset-to-sequence division
    * is exact in any engine. Scale shape: one cumulative-sum window
    * per language stream + a tiny rollup; at 100 TB the per-language
    * ordering would be range-partitioned (the window is per-stream,
    * never global).
    */
  val SeqLen = 256

  def docPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("bigint").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tok) div $SeqLen"))
      .withColumn("straddles",
        (expr(s"(cum - 1) div $SeqLen") =!= col("seq_id")).cast("bigint"))
      .groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tok")).as("n_tokens_started"),
           sum(col("straddles")).as("n_straddlers"))
      .orderBy("lang", "seq_id")
  }

  /** Benchmark decontamination: corpus documents sharing any word
    * [[DecontamGramN]]-gram with the benchmark set (here: doc_id <
    * `benchDocs`, the stand-in for a held-out eval set) are flagged
    * with their shared-gram count and contamination ratio.
    *
    * Scale shape: benchmark sets are small by nature, so the DISTINCT
    * benchmark gram hashes broadcast into a left-semi join — the
    * corpus side never shuffles for the probe (only the tiny per-doc
    * count aggregates afterwards), exactly how a 100 TB corpus is
    * decontaminated against a fixed eval suite. Grams are
    * [[decontamGramRows]]' (per-doc distinct 8-byte hashes).
    */
  def decontaminate(spark: SparkSession, dir: String,
                    benchDocs: Int = 20): DataFrame = {
    // ONE gram materialization over all documents, split afterwards —
    // building the bench and corpus gram tables separately would run
    // the explode+hash pipeline twice. The rows feed three consumers
    // (bench grams, sizes, the probe join): materialize once, with
    // plan truncation (see Dedup.nearDupMinhash).
    val rows = decontamGramRows(Tables.documents(spark, dir)).localCheckpoint()
    val corpus = rows.filter(col("doc_id") >= benchDocs)
    val bench = rows.filter(col("doc_id") < benchDocs)
      .select("gh").distinct()
    val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val hits = corpus.join(broadcast(bench), Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    sizes.join(hits, Seq("doc_id"))
      .withColumn("contamination",
        round(col("n_shared").cast("double") / col("n_grams"), 6))
      .select("doc_id", "n_grams", "n_shared", "contamination")
      .orderBy("doc_id")
  }

  /** Temperature-based mixture weighting — the multilingual-training
    * sampling knob: resample language l with weight ∝ n_l^α (α = 1/2
    * here), which upsamples rare languages and caps the dominant one
    * (the standard rebalancing between "native proportions" α=1 and
    * "uniform" α=0). Reports, per language: raw share, temperature
    * weight, and the effective boost (weight/share) an epoch sampler
    * applies — [[epochMix]] is the replication mechanic this table
    * parameterizes, [[stratifiedSample]] the hash gate that applies a
    * rate deterministically.
    *
    * Exactness: α = 1/2 is deliberate — sqrt is correctly rounded in
    * IEEE 754 (identical in every engine), unlike pow(x, 0.3); the
    * rounded sqrts then sum in DECIMAL (order-independent) and every
    * ratio divides the same rounded operands, so the whole table is
    * engine-exact. Scale shape: one language-count aggregate, then
    * frameless windows over the language-sized table — nothing
    * corpus-sized past the first aggregate.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("sqrt_r",
        round(sqrt(col("n_docs").cast("double")), 6).cast("decimal(18,6)"))
      .withColumn("share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6))
      .withColumn("weight",
        round(col("sqrt_r").cast("double") /
              sum(col("sqrt_r")).over(w).cast("double"), 6))
      .withColumn("boost", round(col("weight") / col("share"), 6))
      .select("lang", "n_docs", "share", "weight", "boost")
      .orderBy("lang")
  }

  /** The REVERSE decontamination audit: per BENCHMARK document, how
    * far it has leaked into the corpus — hit doc count, how many of
    * its grams occur anywhere in the corpus, and the leaked-gram
    * ratio. [[decontaminate]] answers "which corpus docs must be
    * dropped"; this answers "which eval items are compromised and how
    * badly" — the report an eval-integrity review reads. Benchmark
    * docs with ZERO leakage are kept (the clean rows are the point of
    * an integrity report).
    *
    * Scale shape: same probe as [[decontaminate]] — bench grams are
    * eval-suite-bounded and broadcast; the corpus side streams through
    * the gram join once and aggregates keyed by bench doc, so the
    * output is benchmark-sized. The distinct-doc/distinct-gram counts
    * shuffle only (bench_id, doc_id/gh) pairs that actually matched.
    */
  def contaminationByBench(spark: SparkSession, dir: String,
                           benchDocs: Int = 20): DataFrame = {
    val rows = decontamGramRows(Tables.documents(spark, dir)).localCheckpoint()
    val bench = rows.filter(col("doc_id") < benchDocs)
      .select(col("doc_id").as("bench_id"), col("gh"))
    val corpus = rows.filter(col("doc_id") >= benchDocs)
    val hits = corpus.join(broadcast(bench), Seq("gh"))
      .groupBy("bench_id")
      .agg(countDistinct(col("doc_id")).as("n_hit_docs"),
           countDistinct(col("gh")).as("n_hit_grams"))
    val sizes = bench.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
    sizes.join(hits, Seq("bench_id"), "left")
      .withColumn("n_hit_docs", coalesce(col("n_hit_docs"), lit(0L)))
      .withColumn("n_hit_grams", coalesce(col("n_hit_grams"), lit(0L)))
      .withColumn("leak_ratio",
        round(col("n_hit_grams").cast("double") / col("n_grams"), 6))
      .select("bench_id", "n_grams", "n_hit_docs", "n_hit_grams", "leak_ratio")
      .orderBy("bench_id")
  }

  /** (doc_id, gh): one row per DISTINCT word-[[DecontamGramN]]-gram
    * hash of each document — the decontamination probe unit, shared by
    * the batch pass above and the streaming twin
    * ([[graft.streaming.StreamingDecontam]]) so the gram definition
    * cannot drift between them. Same shape as
    * [[Dedup.shingleHashRows]]: [[WordGrams.hashed]] rows after one
    * doc_id shuffle, dedup on the 8-byte hash.
    */
  private[graft] def decontamGramRows(df: DataFrame): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    WordGrams.hashed(df.repartition(n, col("doc_id")), split(col("text"), " "),
        DecontamGramN, "doc_id")
      .select("doc_id", "gh")
      .dropDuplicates("doc_id", "gh")
  }

  /** Train/val/test split leakage audit — the assignment op every
    * training pipeline runs and the subtle bug most of them ship:
    * hashing each DOCUMENT into a split ("by_doc") puts near-duplicate
    * pairs on opposite sides of the train/test wall, so the eval set
    * silently contains paraphrases of training documents. The fix is
    * group-consistent assignment ("by_root"): hash the document's
    * near-dup COMPONENT ROOT (its [[Dedup.labelPropagation]] label;
    * singletons root at themselves), so an entire duplicate cluster
    * lands in one split and crossing pairs are zero BY CONSTRUCTION —
    * which this audit measures rather than assumes, reporting for each
    * scheme the split sizes and how many near-dup pairs cross splits.
    *
    * Split rule: polyhash(id) mod 10 → 0-7 train, 8 val, 9 test — the
    * deterministic hash-gating of [[stratifiedSample]] (reproducible
    * across engines, runs, and partition layouts; adding a corpus
    * re-shard never moves a document between splits).
    *
    * Scale shape: the pair graph is the MinHash family's
    * (banded equi-join, bounded buckets) and the labels are the
    * driver-paced propagation loop both component queries already
    * run; the assignment itself is a narrow hash projection, the
    * root map a pair-graph-sized join (near-dup docs only — singleton
    * roots need no join row), and each scheme's report is one
    * conditional aggregate over splits plus one over pairs. Nothing
    * new shuffles at corpus scale beyond the dedup family itself.
    */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash.register(spark)
    // one materialized pair set feeds BOTH the label propagation and
    // the crossing audit (labelPropagation re-checkpoints internally;
    // this checkpoint stops the whole MinHash pipeline re-running for
    // the pair-side consumer); blocks live until the caller's
    // releaseAll (the Caches contract — the result still reads them)
    val pairs = Dedup.nearDupMinhash(spark, dir)
      .select("doc_a", "doc_b").localCheckpoint()
    val labels = Dedup.labelPropagation(pairs)
    val roots = Tables.documents(spark, dir).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("root"))
    def splitOf(id: org.apache.spark.sql.Column) = {
      val b = pmod(call_function(graft.functions.PolyHash.Name,
        id.cast("string")), lit(10))
      when(b < 8, "train").when(b === 8, "val").otherwise("test")
    }
    val assign = roots
      .withColumn("by_doc", splitOf(col("doc_id")))
      .withColumn("by_root", splitOf(col("root")))
      .localCheckpoint() // two scheme aggregates + two pair joins read it
    def sizesOf(scheme: String) = assign
      .agg(sum(when(col(scheme) === "train", 1L).otherwise(0L)).as("n_train"),
           sum(when(col(scheme) === "val", 1L).otherwise(0L)).as("n_val"),
           sum(when(col(scheme) === "test", 1L).otherwise(0L)).as("n_test"))
      .select(lit(scheme).as("scheme"), col("n_train"), col("n_val"), col("n_test"))
    val a = assign.select(col("doc_id").as("doc_a"),
      col("by_doc").as("sa_doc"), col("by_root").as("sa_root"))
    val b = assign.select(col("doc_id").as("doc_b"),
      col("by_doc").as("sb_doc"), col("by_root").as("sb_root"))
    val crossing = pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .agg(coalesce(sum(when(col("sa_doc") =!= col("sb_doc"), 1L).otherwise(0L)),
             lit(0L)).as("by_doc"),
           coalesce(sum(when(col("sa_root") =!= col("sb_root"), 1L).otherwise(0L)),
             lit(0L)).as("by_root"))
      .select(explode(map(
        lit("by_doc"), col("by_doc"), lit("by_root"), col("by_root"))))
      .select(col("key").as("scheme"), col("value").as("n_crossing"))
    sizesOf("by_doc").unionAll(sizesOf("by_root"))
      .join(crossing, Seq("scheme"))
      .orderBy("scheme")
  }

  /** Contamination OVERLAP-FRACTION sweep: [[decontaminate]] answers
    * "how contaminated is each doc at one gram size"; this answers the
    * calibration question underneath — how does measured overlap mass
    * move as the n-gram operating point hardens from loose 4-grams to
    * the GPT-3 appendix-C 13-gram point (Brown et al. 2005.14165).
    * Per gram size, every corpus doc (zero-hit docs included, unlike
    * the hit-only decontaminate view) lands in a tenth-wide
    * contamination band; the output is the (gram_n × band) grid with
    * doc counts and shared/total gram mass.
    *
    * Scale shape: tokenization is materialized ONCE (localCheckpoint)
    * and each gram size re-explodes it — the same shared-scan
    * amortization as the substring span sweep; per size, the bench
    * side is benchmark-sized (broadcast semi-join) and everything
    * after the per-doc aggregate is banded (≤ 10·|sizes| rows).
    * Band = floor(10·shared/total) on the SAME exact int ratio in
    * both engines, clamped to 9 so full overlap joins the top band.
    */
  /** Content-defined chunking (the rolling-hash boundary rule of
    * LBFS/rsync lineage, Muthitacharoen et al. SOSP'01): a chunk
    * boundary falls AFTER token i whenever the hash of the trailing
    * `window`-token gram is 0 mod `mask` — so boundaries move with the
    * CONTENT, and an insertion early in a document re-aligns within
    * one expected chunk instead of shifting every fixed-width chunk
    * after it (the failure mode of [[docChunks]]' fixed windows, which
    * this complements). Output: corpus chunk-census by length band —
    * chunk count, DISTINCT chunk-content hashes (the storage-dedup
    * ratio CDC exists to improve), token mass, mean length.
    *
    * Scale shape: boundary detection is a narrow per-token map over
    * the doc-partitioned token explosion plus one per-doc cumulative
    * window (doc-keyed, streaming frame); chunk assembly regroups on
    * (doc, chunk) riding the same doc partitioning; the band census is
    * a 10-row rollup. All hashes 8-byte; the only corpus-sized
    * shuffles carry (doc_id, chunk_id, hash) triples.
    */
  def cdcChunks(spark: SparkSession, dir: String, window: Int = 4,
                mask: Int = 16, bandWidth: Int = 8, maxBand: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .repartition(nPart, col("doc_id"))
      .localCheckpoint()
    val gram = WordGrams.text(col("toks"), col("i") - (window - 1), window)
    val bounds = docs
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")))).as("i"))
      .withColumn("b",
        (col("i") >= window &&
         pmod(call_function(graft.functions.PolyHash.Name, gram), lit(mask)) === 0)
          .cast("int"))
    val cum = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = bounds
      .withColumn("chunk_id", coalesce(sum(col("b")).over(cum), lit(0)) + 1)
      .groupBy("doc_id", "chunk_id")
      .agg(min(col("i")).as("st"), count(lit(1)).as("len"))
    val hashed = chunks.join(docs, "doc_id")
      .select(col("len"),
        call_function(graft.functions.PolyHash.Name,
          concat_ws(" ", expr("slice(toks, st, len)"))).as("chash"))
    hashed
      .groupBy(least(expr(s"len div $bandWidth"), lit(maxBand.toLong))
        .cast("bigint").as("band"))
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("chash")).as("n_distinct"),
           sum(col("len")).as("total_tokens"),
           round(sum(col("len")) / count(lit(1)), 6).as("avg_len"))
      .orderBy("band")
  }

  /** Quality-weighted deterministic sampling: each document keeps with
    * probability equal to its [[TextAnalysis.textStats]] quality score,
    * gated by hash — keep iff polyhash(doc_id) mod 1e6 < quality·1e6 —
    * so the "random" draw is reproducible across engines, runs, and
    * partition layouts (the [[stratifiedSample]] gate with a per-DOC
    * continuous rate instead of a per-stratum constant; the soft
    * importance-sampling knob between hard quality filtering and
    * keep-everything). Output: per-language acceptance audit.
    *
    * Scale shape: the gate is a narrow filter expression; one
    * language-sized rollup after a doc-keyed join of two projections
    * of the same scan.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash.register(spark)
    val st = TextAnalysis.textStats(spark, dir)
      .select("doc_id", "quality", "n_tokens")
    val docs = Tables.documents(spark, dir).select("doc_id", "lang")
    st.join(docs, "doc_id")
      .withColumn("keep",
        pmod(call_function(graft.functions.PolyHash.Name,
          col("doc_id").cast("string")), lit(1000000L)) <
        round(col("quality") * 1000000).cast("bigint"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
           sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("sampled_tokens"),
           round(sum(when(col("keep"), 1L).otherwise(0L)) / count(lit(1)), 6)
             .as("accept_rate"),
           (sum(col("quality").cast("decimal(18,6)")).cast("double") /
             count(lit(1))).as("mean_quality"))
      .orderBy("lang")
  }

  /** KL divergence of each source's language mix from the corpus mix —
    * the drift screen a multi-source ingest runs per feed (a source
    * whose language distribution diverges from the corpus needs a
    * mixture re-weight or an investigation). Every log argument is the
    * exact integer cross-ratio (c_ls·c)/(c_s·c_l) pushed through ln as
    * identical doubles; the sum runs over the bounded
    * (source × language) cell table.
    */
  def klBySources(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("c_ls"))
      .localCheckpoint() // bounded: |sources| x |languages|
    val cs = cells.groupBy("source").agg(sum("c_ls").as("c_s"))
    val cl = cells.groupBy("lang").agg(sum("c_ls").as("c_l"))
    val n  = cells.agg(sum("c_ls").as("c"))
    cells.join(broadcast(cs), "source").join(broadcast(cl), "lang")
      .crossJoin(broadcast(n))
      .groupBy("source")
      .agg(max(col("c_s")).as("n_docs"),
           count(lit(1)).as("n_langs"),
           round(sum(col("c_ls") / col("c_s") *
             log((col("c_ls") * col("c")).cast("double") /
                 (col("c_s") * col("c_l")))), 6).as("kl_from_corpus"))
      .orderBy("source")
  }

  /** Jensen–Shannon divergence between every PAIR of sources'
    * language distributions — the symmetric, bounded ([0, ln 2])
    * companion of [[klBySources]] for "which two feeds differ most".
    * Pair terms live on the bounded sources² × languages cell grid
    * (sources and languages are both tiny dimensions at any corpus
    * scale): the lang list cross-joins the source pairs so langs
    * missing from one side enter as exact zeros, and each side's
    * contribution is p·ln(2p/(p+q)) with the 0·ln0 = 0 convention.
    * Every probability is an exact integer ratio pushed through
    * identical double arithmetic; the per-pair sum runs over ≤|langs|
    * terms, then round-6.
    */
  def jsBetweenSources(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded: |sources| x |languages|
    val cs = cells.groupBy("source").agg(sum("c").as("n"))
    val pairs = cs.select(col("source").as("source_a"), col("n").as("na"))
      .crossJoin(cs.select(col("source").as("source_b"), col("n").as("nb")))
      .filter(col("source_a") < col("source_b"))
    val langs = cells.select("lang").distinct()
    val ca = cells.select(col("source").as("source_a"), col("lang"),
      col("c").as("c_a"))
    val cb = cells.select(col("source").as("source_b"), col("lang"),
      col("c").as("c_b"))
    def side(p: Column, q: Column): Column =
      when(p > 0, p * log(lit(2.0) * p / (p + q))).otherwise(lit(0.0))
    broadcast(pairs).crossJoin(broadcast(langs))
      .join(broadcast(ca), Seq("source_a", "lang"), "left_outer")
      .join(broadcast(cb), Seq("source_b", "lang"), "left_outer")
      .withColumn("pa", coalesce(col("c_a"), lit(0L)) / col("na"))
      .withColumn("pb", coalesce(col("c_b"), lit(0L)) / col("nb"))
      .filter(col("pa") + col("pb") > 0)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_langs_union"),
           round(sum(side(col("pa"), col("pb")) / 2 +
                     side(col("pb"), col("pa")) / 2), 6).as("js_divergence"))
      .orderBy("source_a", "source_b")
  }

  /** Training-order novelty curve: walk the corpus in its
    * deterministic training order and measure, per order decile, how
    * much of each document's word-3-gram mass was ALREADY SEEN in
    * earlier documents — the "is my curriculum front-loading
    * duplicates" audit (a healthy shuffled corpus shows a smooth
    * rise; a spike says a duplicated shard landed together). The
    * order is the [[trainingOrder]] hash key (polyhash(doc_id),
    * doc_id) ranked by [[withGlobalRank]]; a gram's first exposure is
    * one min-aggregate over the 8-byte gram-hash table
    * ([[graft.operators.Dedup.shingleHashRows]] — hashes shuffle,
    * text never does); "seen before" is first_rank < doc_rank, exact
    * integers end to end. Scale shape: gram hash-agg + one AQE-sized
    * equi-join on the hash + the rank backbone — nothing quadratic,
    * no single-reducer sort.
    */
  def noveltyCurve(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    graft.functions.PolyHash.register(spark)
    val ordered = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("oh", call_function(graft.functions.PolyHash.Name,
        col("doc_id").cast("string")))
    val (ranked, total) =
      withGlobalRank(ordered, Seq(col("oh").asc, col("doc_id").asc), "trank")
    val grams = graft.operators.Dedup.shingleHashRows(spark, dir)
      .join(ranked.select("doc_id", "trank"), "doc_id")
      .localCheckpoint() // one tokenize pass serves first-rank AND per-doc
    val first = grams.groupBy("h").agg(min(col("trank")).as("first_rank"))
    grams.join(first, "h")
      .groupBy(col("doc_id"), col("trank"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("first_rank") < col("trank"), 1L).otherwise(0L))
             .as("n_seen"))
      .withColumn("band", expr(s"((trank - 1) * $k) div $total") + 1)
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_grams")).as("grams"),
           sum(col("n_seen")).as("seen_before"))
      .select(col("band"), col("n_docs"), col("grams"), col("seen_before"),
        round(col("seen_before").cast("double") / col("grams"), 6)
          .as("dup_share"))
      .orderBy("band")
  }

  /** Hill-number diversity profile of each source's language mix —
    * the ecologist's triple every mixture report should carry: q=0
    * richness (languages present), q=1 exp(Shannon) (the "effective
    * language count" weighting by share), q=2 inverse Simpson
    * (weighting dominant shares harder). q=2 is an EXACT integer
    * ratio ((Σc)²/Σc², one divide); q=1's entropy terms are
    * deterministic doubles from integer counts round-12-locked into
    * decimals before the per-source sum (the bigram-ppl discipline).
    * All on the bounded (source × lang) cell table.
    */
  def hillDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded: |sources| x |languages|
    cells
      .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
      .withColumn("term",
        round((col("c").cast("double") / col("n")) *
              log(col("n").cast("double") / col("c")), 12)
          .cast("decimal(16,12)"))
      .groupBy("source")
      .agg(max(col("n")).as("n_docs"),
           count(lit(1)).as("richness"),
           sum(col("term")).as("h"), // exact decimal sum
           sum(col("c") * col("c")).as("c2"))
      .select(col("source"), col("n_docs"), col("richness"),
        round(exp(col("h").cast("string").cast("double")), 6).as("hill_1"),
        round((col("n_docs") * col("n_docs")).cast("double") /
              col("c2").cast("double"), 6).as("inv_simpson"))
      .orderBy("source")
  }

  /** Exact Kolmogorov–Smirnov statistic of each source's document-
    * length distribution against the REST of the corpus — the
    * distribution-drift alarm for a feed whose scrape changed shape
    * (truncation, boilerplate, chunk-size drift all move the length
    * ECDF long before the mean moves). The sup over the full ECDF
    * difference is computed EXACTLY on the integer lattice:
    * D = max_x |cum_s(x)·n_r − cum_r(x)·n_s| / (n_s·n_r), one divide
    * at the end; the argmax length reports WHERE the distributions
    * split (ties → smallest length). The grid is sources × distinct
    * lengths — lengths are value-bounded (a length dimension, not a
    * row dimension), so cumulative windows run over a dim-sized
    * table at any corpus scale.
    */
  def ksLengths(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      .localCheckpoint() // bounded: |sources| x |distinct lengths|
    val lengths = cells.select("n_chars").distinct()
    val sources = cells.groupBy("source").agg(sum("c").as("n_s"))
    val totals  = cells.agg(sum("c").as("n_tot"))
    val byLen = Window.partitionBy("source").orderBy(col("n_chars").asc)
    val grid = broadcast(sources).crossJoin(broadcast(lengths))
      .join(cells, Seq("source", "n_chars"), "left_outer")
      .withColumn("cum_s", sum(coalesce(col("c"), lit(0L))).over(
        byLen.rowsBetween(Window.unboundedPreceding, 0)))
    val corpusCum = cells.groupBy("n_chars").agg(sum("c").as("ct"))
      .withColumn("cum_t", sum(col("ct")).over(
        Window.orderBy(col("n_chars").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select("n_chars", "cum_t") // dim-sized global window (lengths, not rows)
    val byDev = Window.partitionBy("source")
      .orderBy(col("dev").desc, col("n_chars").asc)
    grid.join(broadcast(corpusCum), "n_chars")
      .crossJoin(broadcast(totals))
      .withColumn("n_r", col("n_tot") - col("n_s"))
      .withColumn("cum_r", col("cum_t") - col("cum_s"))
      .withColumn("dev",
        abs(col("cum_s") * col("n_r") - col("cum_r") * col("n_s")))
      .withColumn("rk", row_number().over(byDev))
      .filter(col("rk") === 1 && col("n_r") > 0)
      .select(col("source"), col("n_s").as("n_docs"),
        col("n_chars").as("split_length"),
        round(col("dev").cast("double") /
              (col("n_s") * col("n_r")).cast("double"), 6).as("ks_stat"))
      .orderBy("source")
  }

  def contaminationSweep(spark: SparkSession, dir: String,
                         benchDocs: Int = 20,
                         gramSizes: Seq[Int] = Seq(4, 8, 13)): DataFrame = {
    val nPart = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .repartition(nPart, col("doc_id"))
      .localCheckpoint()
    gramSizes.map { n =>
      val grams = WordGrams.hashed(toks, col("toks"), n, "doc_id")
        .select("doc_id", "gh")
        .dropDuplicates("doc_id", "gh")
        .localCheckpoint()
      val bench = grams.filter(col("doc_id") < benchDocs).select("gh").distinct()
      val corpus = grams.filter(col("doc_id") >= benchDocs)
      val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hits = corpus.join(broadcast(bench), Seq("gh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      sizes.join(hits, Seq("doc_id"), "left")
        .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
        .withColumn("band",
          least(floor(col("n_shared") / col("n_grams") * 10), lit(9L)).cast("bigint"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_shared")).as("total_shared"),
             sum(col("n_grams")).as("total_grams"))
        .withColumn("gram_n", lit(n.toLong))
    }.reduce(_ unionByName _)
      .select("gram_n", "band", "n_docs", "total_shared", "total_grams")
      .orderBy("gram_n", "band")
  }
}
