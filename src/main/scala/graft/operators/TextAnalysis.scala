package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text-quality / token-statistics operators over `documents` — the
  * scoring pass of an LLM training-data pipeline. Pure narrow column
  * expressions (no shuffle until the final aggregate), all formulas
  * frozen here and replicated exactly in the DuckDB oracle.
  */
object TextAnalysis {

  /** Stopword list for the heuristic language/quality signals. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  private def toks: Column = split(col("text"), " ")

  /** Per-document feature columns:
    *  - n_tokens: whitespace token count
    *  - n_chars: character length
    *  - ttr: type-token ratio (distinct/total tokens) — repetition signal
    *  - stop_ratio: stopword fraction — fluency/language signal
    *  - est_bpe_tokens: ceil(chars/4), the classic BPE-size estimate
    *    (the real trained counter is [[bpeTokenCounts]])
    *  - lang_guess: n-gram-free heuristic language id (stopword-driven;
    *    the real n-gram profile model is [[langIdNgram]])
    *  - quality: weighted score in [0,1] of length, diversity, fluency
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val nTokens  = size(toks).cast("bigint")
    val nChars   = length(col("text")).cast("bigint")
    val ttr      = round(size(array_distinct(toks)).cast("double") / size(toks), 6)
    val nStop    = size(filter(toks, t => t.isInCollection(Stopwords)))
    val stopR    = round(nStop.cast("double") / size(toks), 6)
    val estBpe   = ceil(length(col("text")) / lit(4.0)).cast("bigint")
    val langG    = when(nStop.cast("double") / size(toks) > 0.05, lit("en"))
                     .otherwise(lit("other"))
    val quality  = round(
      least(lit(1.0), size(toks) / lit(50.0)) * 0.4 +
      (size(array_distinct(toks)).cast("double") / size(toks)) * 0.3 +
      least(lit(1.0), (nStop.cast("double") / size(toks)) * 5.0) * 0.3, 6)
    // regex word tokenizer (alnum runs) — the robust counterpart to the
    // whitespace split when text carries punctuation; same char class
    // semantics in DuckDB's RE2 and Java regex
    val nRegexTokens = size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("bigint")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      nRegexTokens.as("n_regex_tokens"),
      nChars.as("n_chars"),
      ttr.as("ttr"),
      stopR.as("stop_ratio"),
      estBpe.as("est_bpe_tokens"),
      langG.as("lang_guess"),
      quality.as("quality"))
      .orderBy("doc_id")
  }

  /** Corpus quality rollup per labeled language: doc count, total
    * tokens, mean quality. Mean goes through DECIMAL so both engines
    * sum exactly (order-independent), then back to DOUBLE.
    */
  def qualityByLang(spark: SparkSession, dir: String): DataFrame = {
    val stats = textStats(spark, dir)
    stats.groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           (sum(col("quality").cast("decimal(18,6)")).cast("double") / count(lit(1)))
             .as("avg_quality"))
      .orderBy("lang_guess")
      // lang_guess (not the corpus `lang` label) keys the rollup: the
      // synthetic corpus draws every language from one vocabulary, so
      // the heuristic cannot and should not recover the label.
  }

  /** Gopher-style repetition metrics per document: the share of all
    * word-2-gram occurrences taken by the single most frequent 2-gram,
    * and the distinct-to-total 2-gram ratio — the standard signals for
    * boilerplate/looping text that token-level TTR misses (the corpus
    * has no line structure, so the line-dup variants of these metrics
    * would be degenerate here; the 2-gram forms are the meaningful
    * ones). Documents need >= 2 tokens to have a 2-gram.
    *
    * Scale shape: gram occurrences keep ALL repeats (unlike the dedup
    * shingle paths) but shuffle as 8-byte PolyHash keys, pre-explode
    * repartition parallelizes the fan-out, and both aggregations
    * cluster on doc_id — one shuffle feeds the (doc, gram) counts and
    * the per-doc rollup is map-side-partial on the same partitioning.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val grams = WordGrams.hashed(
      Tables.documents(spark, dir).repartition(n, col("doc_id")), toks, 2, "doc_id")
    grams.groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
           count(lit(1)).as("n_distinct"),
           max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        round(col("top_count").cast("double") / col("n_grams"), 6).as("top_gram_share"),
        round(col("n_distinct").cast("double") / col("n_grams"), 6).as("distinct_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus-wide exact heavy hitters: the top-k tokens by total
    * occurrences, with document frequency and share of all token
    * occurrences — the vocabulary-domination report a corpus audit
    * starts with (a token carrying >1% of the stream usually means
    * boilerplate). The exact twin of a count-min/approx-top-k sketch,
    * which is what replaces the per-token aggregate at 100 TB when
    * the vocabulary itself stops fitting a shuffle.
    *
    * Scale shape: token rows aggregate once on the token (map-side
    * partials absorb the heavy hitters by definition — the hottest
    * tokens are exactly the ones partial aggregation compresses
    * best); the corpus total derives from the tiny per-token table,
    * NOT a second corpus scan, and attaches as a broadcast one-row
    * cross join; the top-k is TakeOrdered over vocabulary-sized
    * input, never a global sort.
    */
  def heavyHitterTokens(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val counts = Tables.documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
      .localCheckpoint() // two consumers: the total and the top-k
    val total = counts.agg(sum(col("n_occ")).as("total_occ"))
    val topk = counts.orderBy(col("n_occ").desc, col("tok")).limit(k)
    topk.crossJoin(broadcast(total))
      // bounded: the global rank window runs over the k-row limit cut,
      // never the token vocabulary
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n_occ").desc, col("tok"))).cast("bigint"))
      .select(col("rk"), col("tok"), col("n_occ"), col("n_docs"),
        round(col("n_occ").cast("double") / col("total_occ"), 6).as("share"))
      .orderBy("rk")
  }

  /** Vocabulary coverage curve per language — the tokenizer-design
    * audit: how big must a vocabulary be to cover 90% of token
    * occurrences, and how head-heavy is the distribution (top-1
    * share). The 90% threshold compares integers (`cum*10 >=
    * total*9`), never floating shares, so the reported rank is
    * engine-exact.
    *
    * Scale shape — TWO-PHASE. A per-lang cumulative window over the
    * whole vocabulary sorts each language's entire vocabulary on one
    * reducer (the window partition IS the lang); at 100 TB a
    * language's raw vocabulary is 10^8+ garbage-heavy tokens, so that
    * single-reducer sort is the operator's bottleneck. Instead:
    * phase 0 computes the per-lang scalars (vocab size, total, top-1)
    * as one fully-parallel hash aggregate — no ordering needed; phase
    * 1 extracts the top-`headK` tokens per lang with a SALTED
    * two-level rank (each (lang, salt) shard ranks its own slice, the
    * per-lang re-rank reads <= SaltBuckets * headK survivors — a
    * global top-k is always inside the union of per-shard top-ks) and
    * runs the cumulative window over that bounded head only. If a
    * language's head doesn't reach 90% (rank90 > headK), phase 2
    * falls back to the full-vocabulary window FOR THAT LANGUAGE
    * alone — correctness never depends on the Zipf assumption, only
    * the fast path does.
    */
  def vocabCoverage(spark: SparkSession, dir: String,
                    headK: Int = 1024): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized once: consumers are phase 0, phase 1, and (rarely)
    // the phase-2 fallback — see nearDupMinhash for the
    // localCheckpoint-over-persist rationale
    val counts = tokenCounts(spark, dir).localCheckpoint()
    val scalars = counts.groupBy("lang")
      .agg(count(lit(1)).as("vocab_size"),
           sum(col("c")).as("total_occ"),
           max(col("c")).as("top1c"))
    val wLang = Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))
    val cumW = wLang.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def rank90Of(ranked: DataFrame): DataFrame = ranked
      .withColumn("cum", sum(col("c")).over(cumW))
      .join(scalars.select(col("lang"), col("total_occ")), Seq("lang"))
      .groupBy("lang")
      .agg(min(when(col("cum") * 10 >= col("total_occ") * 9, col("rk"))).as("rank90"))
    val headRank90 = // read twice: probe + result
      rank90Of(vocabHeadRanked(counts, headK)).localCheckpoint()
    // phase 2 (fallback): only languages whose head missed 90%. The
    // collect is bounded by the number of LANGUAGES, not tokens.
    val missed = headRank90.filter(col("rank90").isNull)
      .select("lang").collect().map(_.getString(0)).toSeq
    val rank90 =
      if (missed.isEmpty) headRank90
      else headRank90.filter(col("rank90").isNotNull).unionByName(
        rank90Of(counts.filter(col("lang").isInCollection(missed))
          .withColumn("rk", row_number().over(wLang).cast("bigint"))))
    scalars.join(rank90, Seq("lang"))
      .select(col("lang"), col("vocab_size"), col("total_occ"), col("rank90"),
        round(col("top1c").cast("double") / col("total_occ"), 6).as("top1_share"))
      .orderBy("lang")
  }

  /** Salt fan-out for the two-level top-k rank in [[vocabCoverage]]. */
  val SaltBuckets = 16

  /** The per-(lang, token) occurrence aggregate both coverage phases
    * read — exposed pre-materialization so PlanSpec can pin the head
    * pass's shape (the operator itself checkpoints it, which truncates
    * the visible plan).
    */
  private[graft] def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Tables.documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(col("lang"), explode(toks).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
  }

  /** Phase 1 of [[vocabCoverage]]: the global per-lang top-`headK`
    * tokens via a salted two-level rank. The same tie-break (c desc,
    * tok) at both levels, so the head is exactly the global top-headK:
    * every global top-headK token is inside its own shard's top-headK,
    * and the re-rank reads <= SaltBuckets * headK survivors per lang.
    */
  private[graft] def vocabHeadRanked(counts: DataFrame, headK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wShard = Window.partitionBy("lang", "salt").orderBy(col("c").desc, col("tok"))
    val wLang = Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))
    counts
      .withColumn("salt", pmod(xxhash64(col("tok")), lit(SaltBuckets.toLong)))
      .withColumn("r1", row_number().over(wShard)).filter(col("r1") <= headK)
      .withColumn("rk", row_number().over(wLang).cast("bigint"))
      .filter(col("rk") <= headK)
      .drop("salt", "r1")
  }

  /** Cross-language vocabulary overlap: pairwise Jaccard similarity of
    * the per-language vocabularies (distinct token sets) — the
    * corpus-composition audit behind tokenizer sharing decisions (high
    * overlap → one shared vocabulary covers both languages; low →
    * per-language merges are buying coverage) and a contamination
    * signal (a "zh" shard whose vocabulary is mostly inside "en" is
    * mislabeled or machine-translated).
    *
    * Scale shape: everything downstream of the first aggregate is
    * VOCABULARY-sized, not corpus-sized — the (lang, tok) aggregate
    * collapses all occurrences, and the overlap self-join is an
    * equi-join on the token whose per-token fan-out is bounded by the
    * language count (each language contributes one row per token), so
    * no token can be a hot key. The per-language size table is
    * language-count-sized and AQE-broadcasts into the final join.
    */
  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    // three consumers (sizes + both join sides) of one vocab aggregate
    val vocab = tokenCounts(spark, dir).select("lang", "tok").localCheckpoint()
    val sizes = vocab.groupBy("lang").agg(count(lit(1)).as("sz"))
    val inter = vocab.as("a").join(vocab.as("b"),
        col("a.tok") === col("b.tok") && col("a.lang") < col("b.lang"))
      .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("lang").as("lang_a"), col("sz").as("vocab_a")), "lang_a")
      .join(sizes.select(col("lang").as("lang_b"), col("sz").as("vocab_b")), "lang_b")
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
              (col("vocab_a") + col("vocab_b") - col("n_common")), 6))
      .select("lang_a", "lang_b", "n_common", "vocab_a", "vocab_b", "jaccard")
      .orderBy("lang_a", "lang_b")
  }

  /** Label-vs-heuristic language confusion matrix: per (labeled lang,
    * guessed lang) doc counts and the within-label share — the
    * classifier-quality audit for the language-ID heuristic, the same
    * measure-the-model move as the ANN recall audits. One narrow
    * projection + one tiny aggregate + a frameless window over the
    * handful of output cells.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nStop = size(filter(toks, t => t.isInCollection(Stopwords)))
    val langG = when(nStop.cast("double") / size(toks) > 0.05, lit("en"))
      .otherwise(lit("other"))
    Tables.documents(spark, dir)
      .groupBy(col("lang"), langG.as("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("lang")), 6))
      .orderBy("lang", "lang_guess")
  }

  /** Cohen's kappa for the stopword language guesser against the
    * corpus labels — chance-corrected agreement on the binary
    * en-vs-other task (Cohen 1960): with 2x2 counts a,b,c,d and
    * N = a+b+c+d, kappa collapses to the ALL-INTEGER ratio
    * `(N*(a+d) - E) / (N*N - E)` with
    * `E = (a+b)*(a+c) + (c+d)*(b+d)` — one aggregate, one fixed
    * expression, no floats until the final divide. The honest
    * classifier-quality number [[langConfusion]]'s raw cells imply
    * (accuracy alone flatters a guesser on an imbalanced corpus).
    */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val nStop = size(filter(toks, t => t.isInCollection(Stopwords)))
    // empty-doc guard: 0/0 = NaN orders ABOVE 0.05 in Spark (guess=en)
    // while DuckDB's NULL propagates — guard so both engines agree by
    // construction (a zero-token doc guesses not-en)
    val guessEn = when(size(toks) > 0,
      nStop.cast("double") / size(toks)).otherwise(lit(0.0)) > 0.05
    val truthEn = col("lang") === "en"
    val g = Tables.documents(spark, dir)
      .select(guessEn.as("g"), truthEn.as("t"))
      .agg(sum(when(col("g") && col("t"), 1L).otherwise(0L)).as("a"),
           sum(when(col("g") && !col("t"), 1L).otherwise(0L)).as("b"),
           sum(when(!col("g") && col("t"), 1L).otherwise(0L)).as("c"),
           sum(when(!col("g") && !col("t"), 1L).otherwise(0L)).as("d"))
      .withColumn("n_docs", col("a") + col("b") + col("c") + col("d"))
      .withColumn("e", (col("a") + col("b")) * (col("a") + col("c")) +
        (col("c") + col("d")) * (col("b") + col("d")))
    g.filter(col("n_docs") * col("n_docs") - col("e") > 0)
      .select(col("n_docs"), col("a").as("true_pos"), col("d").as("true_neg"),
        round((col("a") + col("d")).cast("double") / col("n_docs").cast("double"), 6)
          .as("accuracy"),
        round((col("n_docs") * (col("a") + col("d")) - col("e")).cast("double") /
              (col("n_docs") * col("n_docs") - col("e")).cast("double"), 6)
          .as("kappa"))
  }

  /** Character-trigram language-ID — the real n-gram profile model
    * the [[textStats]] `lang_guess` scaladoc promises behind the
    * stopword heuristic (and what production language-ID actually is:
    * an n-gram profile classifier, per Cavnar-Trenkle / fastText's
    * character n-gram features). Two phases, both self-trained on the
    * corpus's own labels:
    *   1. PROFILE — the top-`profileK` character trigrams per
    *      language by document frequency (distinct per doc, so one
    *      spammy document cannot dominate a profile);
    *   2. SCORE — each document votes for the language whose profile
    *      shares the most trigrams with it (ties break to the
    *      smallest language code; documents hitting no profile at all
    *      predict 'und').
    * Output is the labeled-vs-predicted confusion matrix with
    * within-label shares — the classifier-quality audit, measured
    * against the labels rather than assumed.
    *
    * Scale shape: the trigram explode is the SimHash shingle pass's
    * shape (narrow, codegen'd, no shuffle) and runs ONCE PER PHASE —
    * deliberately NOT checkpointed: the gram-row intermediate is
    * LARGER than the corpus itself (hundreds of distinct trigrams per
    * document), so materializing it to trade the second scan is a net
    * loss at any scale where this operator matters (measured at
    * sf0.1: 11.7 s checkpointed vs 4.3 s re-running the narrow
    * explode per phase). The (lang, trigram) aggregate collapses to
    * vocabulary size and its per-lang top-K reuses
    * [[vocabHeadRanked]]'s salted two-level rank (no single-reducer
    * vocabulary sort); the profile is langs x profileK rows and
    * BROADCASTS into the scoring join, so scoring never shuffles the
    * corpus — per-(doc, lang) hit counts aggregate map-side and
    * everything after the vote is langs^2-sized.
    */
  def langIdNgram(spark: SparkSession, dir: String,
                  profileK: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val profile = langIdProfile(spark, dir, profileK)
    val pred = langIdPredict(Tables.documents(spark, dir), profile)
    Tables.documents(spark, dir).select("doc_id", "lang")
      .join(pred, Seq("doc_id"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("lang")), 6))
      .orderBy("lang", "lang_pred")
  }

  /** Phase 1 of [[langIdNgram]]: the trained model — top-`profileK`
    * character trigrams per language by document frequency, as
    * `(plang, tok)` rows. langs x profileK-sized: publishable as an
    * artifact (the streaming twin's store) and broadcastable into any
    * scoring join.
    */
  def langIdProfile(spark: SparkSession, dir: String,
                    profileK: Int = 40): DataFrame =
    langIdProfileFrom(Tables.documents(spark, dir), profileK)

  /** Profile training over ANY labeled `(doc_id, lang, text, ...)`
    * frame — the seam [[langIdHoldout]] uses to train on a split.
    */
  def langIdProfileFrom(docs: DataFrame, profileK: Int = 40): DataFrame = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val gramRows = docs
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("tok"))
    val counts = gramRows.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    vocabHeadRanked(counts, profileK)
      .select(col("lang").as("plang"), col("tok"))
  }

  /** Held-out evaluation of the trigram classifier — the measurement
    * [[langIdNgram]] (training-set fit) cannot give: train the profile
    * on the 80% train split and score ONLY the held-out 20%, so the
    * confusion matrix measures GENERALIZATION. The split is the same
    * deterministic content-independent assignment as
    * [[CorpusOps.splitLeakage]]'s by-doc scheme (PolyHash(doc_id) mod
    * 10: 0-7 train, 8-9 held out) — reproducible across engines, runs
    * and layouts, so the oracle trains on the identical split.
    *
    * Scale shape: [[langIdNgram]]'s exactly — the split predicate is a
    * narrow filter on both scans, training collapses to vocabulary
    * size, the model broadcasts into held-out scoring.
    */
  def langIdHoldout(spark: SparkSession, dir: String,
                    profileK: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    def bucket = pmod(call_function(graft.functions.PolyHash.Name,
      col("doc_id").cast("string")), lit(10))
    val docs = Tables.documents(spark, dir)
    val profile = langIdProfileFrom(docs.filter(bucket < 8), profileK)
    val heldOut = docs.filter(bucket >= 8)
    val pred = langIdPredict(heldOut, profile)
    heldOut.select("doc_id", "lang")
      .join(pred, Seq("doc_id"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("lang")), 6))
      .orderBy("lang", "lang_pred")
  }

  /** BM25 top-k retrieval (Robertson et al., Okapi TREC-3) — the
    * lexical ranking function every corpus-exploration and
    * query-based curation flow runs before anything neural: score
    * every document against a fixed query-term set with
    *   Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), and return the
    * top-`k` documents. Per-(doc, term) scores are rounded once and
    * DECIMAL-summed (the [[bigramPerplexity]] discipline); dl/avgdl
    * is computed as dl·N/totalLen so both engines divide identical
    * integer-derived operands (the oracle pins every float literal to
    * DOUBLE — DuckDB's DECIMAL literal arithmetic would silently
    * diverge from Spark's double semantics).
    *
    * Scale shape: the term filter prunes the posting explode to
    * query-term rows BEFORE any shuffle; document lengths are one
    * corpus-sized aggregate reused via checkpoint; df and the corpus
    * scalars broadcast; the top-k is TakeOrdered.
    */
  def bm25TopK(spark: SparkSession, dir: String,
               terms: Seq[String] = Seq("spark", "query", "window"),
               k: Int = 20, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val words = Tables.documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("word"))
    // consumers: the corpus scalars + the per-doc length join
    val dl = words.groupBy("doc_id").agg(count(lit(1)).as("dl")).localCheckpoint()
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val tf = words.filter(col("word").isInCollection(terms))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6))
      .withColumn("ts",
        round(col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) +
            lit(b) * (col("dl") * col("n_docs")) / col("total_len"))), 6)
          .cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(sum(col("ts")).cast("double").as("score"),
           count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      // bounded: the global rank window runs over the k-row limit cut
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("bigint"))
      .select("rk", "doc_id", "n_terms_hit", "score")
      .orderBy("rk")
  }

  /** DSIR-style importance selection (Xie et al. 2023,
    * arXiv:2302.03169 — Data Selection for LMs via Importance
    * Resampling): score every document under a TARGET-domain LM and a
    * RAW-corpus LM, and select the documents with the highest log
    * importance ratio log p_target(x) − log p_raw(x) = avg_nll_raw −
    * avg_nll_target — the principled "keep what looks like the data I
    * want" filter, where both "looks like" measures are the SAME
    * trained [[bigramModel]] seam (DSIR's hashed-ngram LM is a bigram
    * LM here; the target stand-in is the `lang = 'en'` slice the way
    * the decontamination family stands in its benchmark). Deterministic
    * top-`k` selection (ratio desc, doc_id) replaces Gumbel sampling —
    * reproducibility over sampling noise, same move as
    * [[CorpusOps.domainCap]]'s hash-rank.
    *
    * Scale shape: two vocabulary-sized LM trainings + two frozen-model
    * scoring passes over the SAME per-(doc, bigram) counts
    * ([[bigramScore]]'s shape, AQE-sized equi-joins); the ranked
    * output is TakeOrdered, never a global sort.
    */
  def dsirSelect(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val mt = bigramModelFrom(docs.filter(col("lang") === "en"))
    val mr = bigramModelFrom(docs)
    val st = bigramScore(docs, mt)
      .select(col("doc_id"), col("avg_nll").as("nll_target"))
    val sr = bigramScore(docs, mr)
      .select(col("doc_id"), col("avg_nll").as("nll_raw"))
    st.join(sr, Seq("doc_id"))
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("log_ratio", round(col("nll_raw") - col("nll_target"), 6))
      .orderBy(col("log_ratio").desc, col("doc_id")).limit(k)
      // bounded: the global rank window runs over the k-row limit cut
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("log_ratio").desc, col("doc_id"))).cast("bigint"))
      .select("rk", "doc_id", "lang", "nll_target", "nll_raw", "log_ratio")
      .orderBy("rk")
  }

  /** Held-out multinomial Naive Bayes language classification — the
    * PROBABILISTIC classifier family beside [[langIdHoldout]]'s
    * profile voter (McCallum-Nigam 1998: word-count features, add-1
    * likelihoods, log-space scoring with class priors — the fastText
    * -shaped linear baseline every text-classification pipeline
    * starts from). Trains on the 80% PolyHash(doc_id) split
    * ([[langIdHoldout]]'s assignment, so the two classifiers are
    * evaluated on the identical held-out 20%), scores each held-out
    * document by total negative log-likelihood
    *   nll(doc, l) = −ln P(l) + Σ_w c_w · −ln P(w|l),
    * P(w|l) = (c_lw + 1)/(T_l + V), with the per-class unseen-word
    * fallback −ln(1/(T_l+V)) (the [[bigramModel]] ctx-row move), and
    * predicts argmin nll (ties to the smallest language code).
    * Output is the held-out confusion matrix with within-label
    * shares.
    *
    * Determinism: one −ln P evaluation per distinct (lang, word) —
    * vocabulary-sized — rounded to 6 dp and carried as DECIMAL; the
    * per-(doc, lang) score is prior + an order-independent exact
    * DECIMAL sum, and the argmin compares DECIMALs via min(struct).
    *
    * Scale shape: training collapses to the (lang, word) vocabulary
    * aggregate (one corpus pass, map-side partials); scoring
    * equi-joins held-out doc-word counts to the langs x vocab model
    * on the word key (AQE-sized — the model grows with vocabulary),
    * the langs-sized fallback/prior table broadcasts, and everything
    * after the per-doc argmin is langs²-sized.
    */
  def nbHoldout(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def bucket = pmod(call_function(graft.functions.PolyHash.Name,
      col("doc_id").cast("string")), lit(10))
    val docs = Tables.documents(spark, dir)
    def words(d: DataFrame) = d
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), col("lang"), explode(toks).as("word"))
    // train: per-(lang, word) counts, class totals, vocab, doc priors
    val clw = words(docs.filter(bucket < 8))
      .groupBy("lang", "word").agg(count(lit(1)).as("c")).localCheckpoint()
    val tl = clw.groupBy("lang").agg(sum(col("c")).as("t"))
    val vRow = clw.agg(countDistinct(col("word")).as("v"))
    val dl = docs.filter(bucket < 8).groupBy("lang").agg(count(lit(1)).as("d"))
    val dTot = dl.agg(sum(col("d")).as("dt"))
    // langs-sized head: prior nll + unseen-word fallback per class
    val classes = tl.join(dl, Seq("lang")).crossJoin(broadcast(vRow))
      .crossJoin(broadcast(dTot))
      .select(col("lang").as("plang"),
        round(-log(col("d").cast("double") / col("dt")), 6)
          .cast("decimal(18,6)").as("prior_nll"),
        round(log(col("t") + col("v")), 6)
          .cast("decimal(18,6)").as("unseen_nll"))
      .localCheckpoint()
    val model = clw.join(tl, Seq("lang")).crossJoin(broadcast(vRow))
      .select(col("lang").as("plang"), col("word"),
        round(-log((col("c") + lit(1.0)) / (col("t") + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"))
    // score the held-out 20%: every (doc-word, class) pair
    val heldOut = docs.filter(bucket >= 8)
    val dwc = words(heldOut).groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    val pred = dwc
      .crossJoin(broadcast(classes))
      .join(model, Seq("plang", "word"), "left")
      .groupBy("doc_id", "plang", "prior_nll")
      .agg(sum(coalesce(col("nll"), col("unseen_nll"))
        * col("c").cast("decimal(8,0)")).as("wsum"))
      .select(col("doc_id"), col("plang"),
        (col("prior_nll") + col("wsum")).as("score"))
      .groupBy("doc_id")
      .agg(min(struct(col("score"), col("plang"))).as("m"))
      .select(col("doc_id"), col("m.plang").as("lang_pred"))
    heldOut.select("doc_id", "lang")
      .join(pred, Seq("doc_id"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_share",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("lang")), 6))
      .orderBy("lang", "lang_pred")
  }

  /** Trained byte-pair-encoding merge table (Sennrich et al. 2016,
    * arXiv:1508.07909 — the subword tokenizer trainer): `rounds`
    * iterations of "count adjacent symbol pairs, merge the most
    * frequent", starting from characters plus a `</w>` end-of-word
    * marker. Output is the merge table `(round, sym_a, sym_b, merged,
    * pair_count)` — the artifact a tokenizer deployment publishes.
    * Replaces [[textStats]]'s `est_bpe_tokens` ceil(chars/4) estimate
    * with a real trained counter (see [[bpeTokenCounts]]).
    *
    * Determinism: merge selection is max pair count with (sym_a,
    * sym_b) lexical tie-break; merge application is the reference
    * greedy left-to-right scan, expressed as gaps-and-islands over
    * matched positions (a run of k overlapping matches — only possible
    * when sym_a == sym_b — merges at even offsets 0, 2, 4, ... within
    * the run, exactly the single-pass greedy result). Both rules are
    * plain SQL, so the oracle replays training round by round. The
    * loop is [[bpeTrainBatched]]'s at `batchM = 1, topK = 1`, which
    * keeps exactly the argmax pair each round.
    *
    * Scale shape: training state is VOCABULARY-sized (distinct words x
    * symbols-per-word rows), never corpus-sized — the corpus is
    * scanned ONCE for word frequencies and every subsequent round
    * works on the weighted word table (the standard BPE trainer
    * formulation). Pair counting is a hash aggregate with map-side
    * partials; per-round driver traffic is ONE collected row (the
    * winning pair — the [[graft.operators.Similarity]] kmeans
    * discipline); merge application is window functions over per-word
    * groups (tiny partitions, one exchange on `word` reused by every
    * window in the round); each round's state is checkpointed and the
    * superseded generation released, so round r+1 plans against
    * materialized blocks, not r rounds of window lineage.
    */
  def bpeTrain(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame =
    bpeTrainFrom(Tables.documents(spark, dir), rounds)

  /** [[bpeTrain]] over ANY `(doc_id, text, ...)` frame — the spec seam. */
  private[graft] def bpeTrainFrom(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fit = bpeFitBatched(docs, rounds, batchM = 1, topK = 1)
    graft.Caches.release(spark, fit.stateIds) // merges alone answer this query
    fit.merges
      .map { case (r, _, sa, sb, cnt) => (r.toLong, sa, sb, sa + sb, cnt) }
      .toDF("round", "sym_a", "sym_b", "merged", "pair_count")
      .orderBy("round")
  }

  /** Real BPE token counts per document under the [[bpeTrain]]ed
    * merges — the number that drives pretraining budget decisions,
    * next to the whitespace count and the chars/4 estimate it
    * replaces. A word's token count is its final symbol count in the
    * trained state; every corpus word is in the training vocabulary
    * by construction, so the join is total.
    *
    * Scale shape: the corpus explodes to word occurrences ONCE and
    * equi-joins the vocabulary-sized symbol-count table (AQE sizes
    * the join — the vocabulary of a 100 TB corpus is itself large
    * enough that a hard broadcast hint would be wrong); the per-doc
    * rollup aggregates on doc_id with map-side partials.
    */
  def bpeTokenCounts(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame =
    bpeTokenCountsFrom(Tables.documents(spark, dir), rounds)

  /** [[bpeTokenCounts]] over ANY `(doc_id, text, ...)` frame. */
  private[graft] def bpeTokenCountsFrom(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val fit = bpeFitBatched(docs, rounds, batchM = 1, topK = 1)
    val wl = fit.state.groupBy("word").agg(count(lit(1)).as("n_syms"))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), col("text"), explode(toks).as("word"))
      .join(wl, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("n_syms")).as("n_bpe_tokens"),
           ceil(max(length(col("text"))) / lit(4.0)).cast("bigint").as("est_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY per language — BPE tokens per whitespace
    * word and characters per BPE token under the [[bpeTrain]]ed
    * merges, the standard multilingual-tokenizer equity audit (a
    * language with high fertility pays more of its context window per
    * word; the number that drives per-language vocab-size and
    * merge-budget decisions). Integer sums of per-word symbol counts
    * → both ratios divide identical exact operands.
    *
    * Scale shape: [[bpeTokenCounts]]'s — one corpus explode
    * equi-joined to the vocabulary-sized trained symbol table, rolled
    * up langs-sized.
    */
  def bpeFertility(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
    fertilityUnder(docs, bpeFitBatched(docs, rounds, batchM = 1, topK = 1).state)
  }

  /** The PRODUCTION-SIZED trainer demo, one bench row: a full
    * `totalMerges` >= 1k batched training run plus the per-language
    * fertility audit at that vocabulary (fertility falls as the merge
    * budget grows; THIS vocabulary size is the one per-language
    * merge-budget decisions are made at — at the raw corpus's
    * exhausted ~113-merge vocabulary the audit is vacuous: every word
    * fully merges, fertility exactly 1.0). The raw synthetic corpus
    * has only 31 distinct whitespace words, so the word vocabulary is
    * first widened with the repo's standard scale emulation
    * ([[graft.Amplify.amplifyDocuments]], per-copy token suffixes:
    * `amp` copies make `31*amp` distinct words, merge capacity ~2.7k
    * at amp=8). The trainer state stays DISTINCT-WORD-sized, so round
    * cost is corpus-row-independent; keeps-per-round are bounded by
    * the symbol alphabet (~20 measured), so 1024 merges land in ~46
    * rounds. Output carries n_merges / n_rounds beside fertility so
    * the bench row itself evidences the vocabulary size. No SQL
    * oracle (a 1k-merge greedy unroll is not CTE-expressible) —
    * rows-only gate; the 8-merge oracles pin the trainer semantics.
    */
  def bpe1k(spark: SparkSession, dir: String, amp: Int = 40,
            totalMerges: Int = 1024, batchM: Int = 64,
            topK: Int = 512): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE raw-corpus pass: per-(lang, word) counts. The widened
    // vocabulary is then synthesized from this table exactly as
    // amplifyDocuments would produce it (copy 0 unsuffixed, copy c
    // suffixes _c<c>; every copy replicates the full corpus, so each
    // copy's word keeps the base frequency) — identical word/
    // frequency content, zero amplified-corpus materialization.
    // two consumers (trainer vocabulary + fertility rollup) — blocks
    // freed by the caller's releaseAll, per the Caches contract
    val (langWords, _) = graft.Caches.trackedCheckpoint(docs
      .repartition(n, col("doc_id"))
      .select(col("lang"), explode(toks).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt")))
    def widen(df: DataFrame): DataFrame = df
      .crossJoin(broadcast(spark.range(amp).toDF("amp_copy")))
      .withColumn("word", when(col("amp_copy") === 0, col("word"))
        .otherwise(concat(col("word"), lit("_c"), col("amp_copy"))))
      .drop("amp_copy")
    val words = widen(langWords)
      .groupBy("word").agg(sum(col("cnt")).as("wfreq"))
    val fit = bpeFitBatchedWords(words, totalMerges, batchM, topK)
    val nMerges = fit.merges.size.toLong
    val nRounds = if (fit.merges.isEmpty) 0L else fit.merges.map(_._1).max.toLong
    val wl = fit.state.groupBy("word").agg(count(lit(1)).as("n_syms"))
    val out = widen(langWords)
      .join(wl, Seq("word"))
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
           sum(col("cnt") * col("n_syms")).as("n_bpe_tokens"),
           sum(col("cnt") * length(col("word")).cast("bigint")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6)
          .as("chars_per_token"),
        lit(nMerges).as("n_merges"), lit(nRounds).as("n_rounds"))
      .orderBy("lang")
    out
  }

  /** The shared fertility tail: corpus words equi-joined to the
    * trained symbol-count table, rolled up per language. */
  private def fertilityUnder(docs: DataFrame, state: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val wl = state.groupBy("word").agg(count(lit(1)).as("n_syms"))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(n, col("doc_id"))
      .select(col("lang"), explode(toks).as("word"))
      .join(wl, Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_syms")).as("n_bpe_tokens"),
           sum(length(col("word")).cast("bigint")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6).as("fertility"),
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6).as("chars_per_token"))
      .orderBy("lang")
  }

  /** The trained tokenizer's SERVE-side artifact: each vocabulary
    * word's final segmentation under the [[bpeTrain]]ed merges — what
    * an encoder ships to production next to the merge table (the
    * merge table says how training evolved; the segment table is the
    * O(1) word → subwords lookup inference actually uses).
    *
    * Scale shape: one vocabulary-sized rollup of the trainer's final
    * state (group by word, sort the ≤word-length symbol list inside
    * the group) — no corpus scan beyond the trainer's own.
    */
  def bpeSegments(spark: SparkSession, dir: String, rounds: Int = 8): DataFrame =
    bpeSegmentsFrom(Tables.documents(spark, dir), rounds)

  /** [[bpeSegments]] over ANY `(doc_id, text, ...)` frame. */
  private[graft] def bpeSegmentsFrom(docs: DataFrame, rounds: Int = 8): DataFrame = {
    val fit = bpeFitBatched(docs, rounds, batchM = 1, topK = 1)
    fit.state
      .groupBy("word", "wfreq")
      .agg(count(lit(1)).as("n_syms"),
           array_join(
             transform(array_sort(collect_list(struct(col("pos"), col("sym")))),
               x => x.getField("sym")), " ").as("segmentation"))
      .orderBy("word")
  }

  /** A batched BPE fit: merges carry (round, sel_rank-within-round,
    * sym_a, sym_b, weighted count at selection time).
    */
  private case class BpeBatchFit(merges: Seq[(Int, Int, String, String, Long)],
                                 state: DataFrame, stateIds: Set[Int])

  /** BATCHED BPE trainer (the SentencePiece-style production move):
    * per round, select up to `batchM` SYMBOL-DISJOINT merges from the
    * top-`topK` pair candidates in ONE action, instead of one merge
    * per round — the step that turns the driver-paced exact trainer
    * ([[bpeTrain]]: one collected row and one Spark job chain per
    * merge, a scale-killer at a 32k production vocabulary) into a
    * usable trainer with ~`vocab/batchM` rounds.
    *
    * Selection rule (deterministic and SQL-expressible, so the oracle
    * replays it): rank candidate pairs by (count DESC, sym_a, sym_b)
    * and scan in rank order, GREEDILY keeping a candidate iff it
    * shares no symbol with any already-KEPT pair this round, stopping
    * at `batchM` keeps. Because the used-symbol set only grows, keeps
    * have strictly increasing ranks and a skipped candidate never
    * re-qualifies — so the oracle unrolls the greedy scan as one
    * small CTE per keep ("first candidate ranked after the last keep
    * whose symbols avoid the used set"), no recursion needed at small
    * `batchM`. The rank-1 pair is always kept, so every round makes
    * progress, and `batchM = 1, topK = 1` is exact one-merge-per-round
    * BPE — the setting [[bpeTrain]], [[bpeTokenCounts]],
    * [[bpeFertility]], [[bpeSegments]] and [[tokenizerCompare]] train
    * with (`BpeSpec` pins it against a plain-Scala reference).
    *
    * Why simultaneous application is well-defined: two kept pairs
    * share no symbols, so their match sites can never be adjacent in
    * any word (site i matching (a,b) and site i+1 matching (c,d)
    * forces b = c — a shared symbol). Every run of consecutive
    * matched positions therefore belongs to ONE pair, and the
    * existing gaps-and-islands greedy (merge at even offsets within a
    * run) applies verbatim, the matched row's merged symbol being its
    * own (sym, next sym) concatenation. Applying the batch
    * simultaneously against the round-start state equals applying the
    * kept pairs sequentially in rank order.
    *
    * Semantic trade vs exact BPE (documented, inherent to batching):
    * exact BPE would recount pairs after EVERY merge, so a batched
    * round can miss a pair that only becomes frequent mid-batch
    * (e.g. (x, ab) right after (a,b) merges). The merges within one
    * round are each individually the highest-count pair among those
    * disjoint from all higher-ranked candidates at round start — the
    * standard production approximation.
    *
    * Scale shape: identical to [[bpeTrain]] (vocabulary-sized state,
    * one pair-count hash aggregate per round, per-word window
    * application, checkpoint-and-release generations) except driver
    * traffic is `topK` bounded rows per round and the round count
    * drops ~`batchM`-fold.
    */
  def bpeTrainBatched(spark: SparkSession, dir: String,
                      totalMerges: Int = 12, batchM: Int = 4,
                      topK: Int = 16, maxRounds: Int = Int.MaxValue): DataFrame =
    bpeTrainBatchedFrom(Tables.documents(spark, dir), totalMerges, batchM, topK,
      maxRounds)

  /** [[bpeTrainBatched]] over ANY `(doc_id, text, ...)` frame — the
    * spec seam. `maxRounds` exists for the oracle query (a SQL oracle
    * unrolls a FIXED number of round CTEs, so the Spark side must
    * stop at the same round even when conflict-starved rounds
    * under-fill their batch). */
  private[graft] def bpeTrainBatchedFrom(docs: DataFrame, totalMerges: Int = 12,
                                         batchM: Int = 4, topK: Int = 16,
                                         maxRounds: Int = Int.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val fit = bpeFitBatched(docs, totalMerges, batchM, topK, maxRounds)
    graft.Caches.release(spark, fit.stateIds) // merges alone answer this query
    fit.merges
      .map { case (r, sr, sa, sb, cnt) =>
        (r.toLong, sr.toLong, sa, sb, sa + sb, cnt) }
      .toDF("round", "sel_rank", "sym_a", "sym_b", "merged", "pair_count")
      .orderBy("round", "sel_rank")
  }

  /** The batched trainer loop behind [[bpeTrainBatched]] — see its
    * scaladoc for the selection rule and the simultaneity argument.
    */
  private def bpeFitBatched(docs: DataFrame, totalMerges: Int, batchM: Int,
                            topK: Int, maxRounds: Int = Int.MaxValue): BpeBatchFit = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    bpeFitBatchedWords(docs
      .repartition(n, col("doc_id"))
      .select(explode(toks).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wfreq")),
      totalMerges, batchM, topK, maxRounds)
  }

  /** [[bpeFitBatched]] from an already-built `(word, wfreq)`
    * frequency table — the seam [[bpe1k]] uses to feed a synthesized
    * widened vocabulary without paying an amplified corpus pass. */
  private def bpeFitBatchedWords(words: DataFrame, totalMerges: Int, batchM: Int,
                                 topK: Int,
                                 maxRounds: Int = Int.MaxValue): BpeBatchFit = {
    import org.apache.spark.sql.expressions.Window
    require(totalMerges >= 1 && batchM >= 1 && topK >= batchM,
      "need totalMerges >= 1 and topK >= batchM >= 1")
    val spark = words.sparkSession
    // Dictionary-encode the vocabulary (r15 verdict item 2, guide §5/
    // §2.3): the per-round state sorts, shuffles and checkpoints a
    // BIGINT `wid` instead of the word string — at a production vocab
    // (10^8+ words, avg word ~10-30 B) that roughly halves every
    // per-round sort/window buffer and state block. `wid` only needs
    // to be injective per materialization (it routes window
    // partitions; no output value derives from it), so
    // monotonically_increasing_id over the EAGERLY checkpointed
    // dictionary is exact; `word` is re-attached once at exit, so the
    // state interface (word, wfreq, pos, sym) is unchanged.
    val (dict, dictIds) = graft.Caches.trackedCheckpoint(
      words.select(col("word"), col("wfreq"),
        monotonically_increasing_id().as("wid")), eager = false)
    val s0 = dict
      .select(col("wid"), col("wfreq"), col("word"),
        explode(sequence(lit(1L), length(col("word")).cast("bigint") + 1L)).as("pos"))
      .withColumn("sym",
        when(col("pos") <= length(col("word")),
          col("word").substr(col("pos").cast("int"), lit(1)))
        .otherwise(lit("</w>")))
      .drop("word")
    val w = Window.partitionBy("wid").orderBy("pos")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // LAZY checkpoint generations, ONE Spark action per round: each
    // round's candidate TakeOrdered evaluates every partition of the
    // state, so it both answers the candidate question AND persists
    // the lazily-checkpointed state's blocks in the same job — the
    // old eager checkpoint ran a separate count() job per round,
    // doubling the driver-paced job count of a trainer whose state is
    // vocabulary-sized (pure round latency, not data). The superseded
    // generation is freed only AFTER the action that materializes its
    // successor (`prevIds`), preserving the generation discipline.
    var (state, stateIds) = graft.Caches.trackedCheckpoint(s0, eager = false)
    var prevIds = Set.empty[Int]
    var merges = Vector.empty[(Int, Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (merges.size < totalMerges && r <= maxRounds && !exhausted) {
      val withNext = state.withColumn("nsym", lead(col("sym"), 1).over(w))
      // ONE bounded action per round: the topK candidate pairs in
      // (count DESC, sym, nsym) rank order — TakeOrdered, never a
      // global sort; it materializes `state`'s blocks as a side
      // effect (every partition feeds the per-partition top-K)
      val cands = withNext.filter(col("nsym").isNotNull)
        .groupBy("sym", "nsym").agg(sum(col("wfreq")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym"), col("nsym"))
        .limit(topK).collect()
      graft.Caches.release(spark, prevIds)
      prevIds = Set.empty
      if (cands.isEmpty) exhausted = true // every word fully merged
      else {
        val cap = math.min(batchM, totalMerges - merges.size)
        // greedy scan in rank order: keep iff disjoint from the
        // symbols of already-KEPT pairs; the used set only grows, so
        // a skipped candidate never re-qualifies
        val kept = Vector.newBuilder[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var nKept = 0
        for (i <- cands.indices if nKept < cap) {
          val (sa, sb) = (cands(i).getString(0), cands(i).getString(1))
          if (!used(sa) && !used(sb)) {
            kept += ((sa, sb, cands(i).getLong(2)))
            used += sa; used += sb
            nKept += 1
          }
        }
        val sel = kept.result()
        merges ++= sel.zipWithIndex.map { case ((sa, sb, c), idx) =>
          (r, idx + 1, sa, sb, c) }
        // a row matches when (sym, nsym) is a kept pair — literal
        // comparisons, no per-round join — and a matched row's merged
        // symbol is sym + nsym
        val hit = sel.map { case (sa, sb, _) =>
          col("sym") === sa && col("nsym") === sb }.reduce(_ || _)
        // greedy left-to-right application: islands of consecutive
        // matches merge at even offsets (overlap needs sym_a == sym_b).
        // A run's start is the latest run-start position at or before
        // the row — a running max over the SAME (word, pos) ordering
        // every window here uses, so all per-round window ops share one
        // sort (a min(pos) over a derived (word, grp) partitioning
        // would re-sort the state twice per round). Match runs are runs
        // of rows matching ANY kept pair; kept pairs are symbol-disjoint
        // by construction, so within a run every row matched the SAME
        // pair and the even-offset rule is unchanged.
        val flagged = withNext
          .withColumn("mt", hit)
          .withColumn("mst",
            col("mt") && !coalesce(lag(col("mt"), 1).over(w), lit(false)))
          .withColumn("island_start",
            max(when(col("mst"), col("pos"))).over(cum))
          .withColumn("mok",
            col("mt") && pmod(col("pos") - col("island_start"), lit(2L)) === 0)
          .withColumn("gone", coalesce(lag(col("mok"), 1).over(w), lit(false)))
        val (next, nextIds) = graft.Caches.trackedCheckpoint(
          flagged.filter(!col("gone"))
            .select(col("wid"), col("wfreq"),
              row_number().over(w).cast("bigint").as("pos"),
              when(col("mok"), concat(col("sym"), col("nsym")))
                .otherwise(col("sym")).as("sym")),
          eager = false)
        prevIds = stateIds
        state = next
        stateIds = nextIds
        r += 1
      }
    }
    if (prevIds.nonEmpty) {
      // exited with a lazy final state no action has touched yet
      // (merge budget filled on the last application): materialize it
      // (count = exactly what the eager checkpoint would have run) so
      // the superseded generation can be freed before returning
      state.count()
      graft.Caches.release(spark, prevIds)
    }
    // re-attach `word` once at exit (vocab-sized equi-join against the
    // checkpointed dictionary) — consumers see the original interface
    BpeBatchFit(merges,
      state.join(dict.select("wid", "word"), "wid")
        .select("word", "wfreq", "pos", "sym"),
      stateIds ++ dictIds)
  }

  /** CCNet-style bigram language-model perplexity per document (Wenzek
    * et al. 2019, arXiv:1911.00359 — the quality signal CCNet filters
    * CommonCrawl with: score each document under an LM trained on the
    * corpus and rank by perplexity; gibberish and boilerplate land in
    * the high tail). The model is an add-1-smoothed word-bigram LM
    * trained on the corpus itself:
    *   P(cur | prev) = (c(prev,cur) + 1) / (c(prev,·) + V)
    * with a `<s>` sentinel as the first context of every document and
    * V = distinct word count. Per doc: n_scored scored positions,
    * avg_nll = mean −ln P, ppl = exp(avg_nll).
    *
    * Determinism: counts are exact integers; each distinct bigram's
    * −ln P is rounded to 6 dp ONCE (vocabulary-sized set of log
    * evaluations, not corpus-sized) and carried as DECIMAL so the
    * per-doc sum is order-independent exact — the [[qualityByLang]]
    * mean discipline applied to log-likelihoods.
    *
    * Scale shape: the corpus is scanned ONCE into per-(doc, bigram)
    * counts (one shuffle, partial-aggregated map-side after the
    * doc_id repartition); everything model-side derives from the
    * checkpointed VOCABULARY-sized bigram table (context counts and V
    * are rollups of it, no second corpus scan); scoring equi-joins
    * doc-bigrams to the model on the bigram key (AQE-sized — a 100 TB
    * corpus's bigram vocabulary is too big to hint broadcast), and
    * the per-doc rollup aggregates on doc_id.
    */
  def bigramPerplexity(spark: SparkSession, dir: String): DataFrame =
    bigramPerplexityFrom(Tables.documents(spark, dir))

  /** [[bigramPerplexity]] over ANY `(doc_id, text, ...)` frame — the
    * spec seam. */
  private[graft] def bigramPerplexityFrom(docs: DataFrame): DataFrame = {
    val pairs = bigramPairs(docs)
    // one corpus pass -> per-doc bigram counts; model tables are rollups
    val dpc = pairs.groupBy("doc_id", "prev", "cur")
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val cb = dpc.groupBy("prev", "cur").agg(sum(col("c")).as("cb")).localCheckpoint()
    val cu = cb.groupBy("prev").agg(sum(col("cb")).as("cu"))
    val vRow = cb.agg(countDistinct(col("cur")).as("v"))
    val model = cb.join(cu, Seq("prev")).crossJoin(broadcast(vRow))
      .select(col("prev"), col("cur"),
        round(-log((col("cb") + lit(1.0)) / (col("cu") + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"))
    dpc.join(model, Seq("prev", "cur"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_scored"),
           sum(col("nll") * col("c").cast("decimal(8,0)")).as("sn"))
      .select(col("doc_id"), col("n_scored"),
        round(col("sn").cast("double") / col("n_scored"), 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 6))
      .orderBy("doc_id")
  }

  /** The `(doc_id, prev, cur)` bigram-position stream every LM phase
    * reads: a `<s>` sentinel as the first context, then each adjacent
    * token pair. Narrow explode after the doc_id repartition.
    */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")))).as("i"), col("toks"))
      .select(col("doc_id"),
        when(col("i") === 1, lit("<s>"))
          .otherwise(element_at(col("toks"), col("i") - 1)).as("prev"),
        element_at(col("toks"), col("i")).as("cur"))
  }

  /** The trained bigram LM as ONE publishable artifact — the
    * deployment form of [[bigramPerplexity]]'s model, with the
    * out-of-vocabulary mass a frozen model needs when scoring text it
    * was not trained on (the train==score fast path never hits it).
    * One table, three row kinds:
    *   - `bi`  (prev, cur): −ln P of a TRAINING bigram;
    *   - `ctx` (prev): the unseen-bigram fallback for a known context,
    *     −ln(1/(c(prev,·)+V)) = ln(c(prev,·)+V);
    *   - `und`: the unseen-context fallback ln(V).
    * The add-1 unseen mass 1/(c(prev,·)+V) is charged to ANY unseen
    * next word, vocabulary member or not — the standard open-vocab
    * reading of Laplace smoothing for a scoring (not sampling) model.
    *
    * Scale shape: training is [[bigramPerplexity]]'s — one corpus
    * pass into the vocabulary-sized bigram aggregate, everything else
    * rollups of it.
    */
  def bigramModel(spark: SparkSession, dir: String): DataFrame =
    bigramModelFrom(Tables.documents(spark, dir))

  /** [[bigramModel]] over ANY `(doc_id, text, ...)` frame. */
  private[graft] def bigramModelFrom(docs: DataFrame): DataFrame = {
    val cb = bigramPairs(docs)
      .groupBy("prev", "cur").agg(count(lit(1)).as("cb")).localCheckpoint()
    val cu = cb.groupBy("prev").agg(sum(col("cb")).as("cu")).localCheckpoint()
    val vRow = cb.agg(countDistinct(col("cur")).as("v"))
    val bi = cb.join(cu, Seq("prev")).crossJoin(broadcast(vRow))
      .select(lit("bi").as("kind"), col("prev"), col("cur"),
        round(-log((col("cb") + lit(1.0)) / (col("cu") + col("v"))), 6)
          .cast("decimal(18,6)").as("nll"))
    val ctx = cu.crossJoin(broadcast(vRow))
      .select(lit("ctx").as("kind"), col("prev"), lit(null).cast("string").as("cur"),
        round(log(col("cu") + col("v")), 6).cast("decimal(18,6)").as("nll"))
    val und = vRow
      .select(lit("und").as("kind"), lit(null).cast("string").as("prev"),
        lit(null).cast("string").as("cur"),
        round(log(col("v")), 6).cast("decimal(18,6)").as("nll"))
    bi.unionByName(ctx).unionByName(und)
  }

  /** Score ANY `(doc_id, text, ...)` frame against a published
    * [[bigramModel]] — per doc: scored positions, positions charged
    * the unseen fallback (the OOV-mass measure), avg −ln P,
    * perplexity. THE shared seam with the streaming twin
    * ([[graft.streaming.StreamingPerplexity]]), so stream and batch
    * cannot drift.
    *
    * Scale shape: doc-bigram counts equi-join the seen-bigram table
    * (AQE-sized), then the vocabulary-sized context fallback, then
    * the one-row default broadcasts; the per-doc rollup aggregates on
    * doc_id.
    */
  def bigramScore(docs: DataFrame, model: DataFrame): DataFrame = {
    val bi = model.filter(col("kind") === "bi")
      .select(col("prev"), col("cur"), col("nll").as("nll_bi"))
    val ctx = model.filter(col("kind") === "ctx")
      .select(col("prev"), col("nll").as("nll_ctx"))
    val und = model.filter(col("kind") === "und")
      .select(col("nll").as("nll_und"))
    bigramPairs(docs)
      .groupBy("doc_id", "prev", "cur").agg(count(lit(1)).as("c"))
      .join(bi, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .crossJoin(broadcast(und))
      .withColumn("nll", coalesce(col("nll_bi"), col("nll_ctx"), col("nll_und")))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_scored"),
           sum(when(col("nll_bi").isNull, col("c")).otherwise(lit(0L))).as("n_unseen"),
           sum(col("nll") * col("c").cast("decimal(8,0)")).as("sn"))
      .select(col("doc_id"), col("n_scored"), col("n_unseen"),
        round(col("sn").cast("double") / col("n_scored"), 6).as("avg_nll"))
      .withColumn("ppl", round(exp(col("avg_nll")), 6))
  }

  /** Held-out perplexity evaluation — the measurement
    * [[bigramPerplexity]] (training-set fit) cannot give: train the
    * bigram LM on the 80% [[CorpusOps.splitLeakage]]-style
    * PolyHash(doc_id) split, score ONLY the held-out 20% through the
    * frozen [[bigramModel]], so avg_nll measures GENERALIZATION and
    * n_unseen measures the OOV mass the fallback absorbed — the same
    * train/evaluate discipline as [[langIdHoldout]].
    */
  def pplHoldout(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash.register(spark)
    def bucket = pmod(call_function(graft.functions.PolyHash.Name,
      col("doc_id").cast("string")), lit(10))
    val docs = Tables.documents(spark, dir)
    // three consumers (the bi/ctx/und splits) of one trained artifact
    val model = bigramModelFrom(docs.filter(bucket < 8)).localCheckpoint()
    bigramScore(docs.filter(bucket >= 8), model).orderBy("doc_id")
  }

  /** Per-document character-level Shannon entropy in bits — the
    * compression-ratio proxy quality filters use (Gopher/RefinedWeb
    * drop documents whose bytes compress too well; entropy is the
    * deterministic, dependency-free form of the same signal: looping
    * or single-character junk scores near 0, diverse text near the
    * alphabet's log2). H = (ln n − Σ c·ln c / n) / ln 2 over the
    * per-character counts c — algebraically −Σ p·log2 p without ever
    * forming the per-character ratios.
    *
    * Determinism: one ln evaluation per distinct (doc, char) count,
    * rounded to 6 dp and summed as DECIMAL (order-independent); the
    * closing ln(n)/ln(2) arithmetic is a single expression over the
    * exact aggregates.
    *
    * Scale shape: the char explode is [[langIdNgram]]'s shingle shape
    * (narrow, codegen'd); the (doc, char) aggregate partial-aggregates
    * map-side after the doc_id repartition (each doc's ≤alphabet-size
    * distinct chars collapse before the exchange), and the per-doc
    * rollup clusters on doc_id.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropyFrom(Tables.documents(spark, dir))

  /** [[charEntropy]] over ANY `(doc_id, text, ...)` frame — the spec
    * seam. */
  private[graft] def charEntropyFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .filter(length(col("text")) >= 1)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), length(col("text"))),
          i => col("text").substr(i, lit(1)))).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_chars"),
           count(lit(1)).as("n_distinct_chars"),
           sum(round(col("c") * log(col("c")), 6).cast("decimal(18,6)")).as("sc"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        round((log(col("n_chars")) - col("sc").cast("double") / col("n_chars"))
          / log(lit(2.0)), 6).as("entropy_bits"))
      .orderBy("doc_id")
  }

  /** Count-min sketch depth (independent hash rows). */
  val CmsDepth = 4
  /** Count-min sketch width (counters per row). */
  val CmsWidth = 256

  /** Count-min sketch accuracy audit against the exact heavy hitters —
    * the measured version of the scale path [[heavyHitterTokens]]'s
    * scaladoc promises: at 100 TB the vocabulary itself stops fitting
    * a shuffle, and the per-token aggregate gives way to a fixed-size
    * sketch (Cormode-Muthukrishnan 2005). The sketch here is
    * [[CmsDepth]] x [[CmsWidth]] counters with the minhash-style hash
    * family h_i(t) = ((2i+1)·polyhash(t) + (5i+3)) mod P mod width;
    * the audit takes the exact top-`k` tokens and reports, per token,
    * the sketch estimate (min over rows of the hashed counter), the
    * overestimate, the CMS CONTRACT bit est >= exact (a deterministic
    * guarantee — counters only ever add mass), and the overestimate
    * as a share of total stream mass (the ε·N form of the error
    * bound). The same one-sided-error-made-measurable move as the KMV
    * and HLL audits.
    *
    * Scale shape: counters derive from the VOCABULARY-sized exact
    * count table (sum of token counts per bucket — no second corpus
    * scan, and at true scale the sketch absorbs the stream without
    * the exact table: the audit is what licenses that swap); the
    * counter table is depth x width rows and BROADCASTS into the
    * estimate join; the top-k is TakeOrdered over vocabulary-sized
    * input.
    */
  /** CMS row-`i` counter index of a polyhashed token — the
    * minhash-style family ((2i+1)·th + (5i+3)) mod P mod width,
    * shared by the audit, the partial builder and the streaming twin
    * so no two sites can drift.
    */
  private[graft] def cmsBucket(i: Column, th: Column): Column =
    ((i * 2 + 1) * th + (i * 5 + 3)) % graft.functions.TextFunctions.P % CmsWidth

  /** One CMS partial: the depth x width counter table over ANY
    * `(text, ...)` frame's token stream. Counters are SUMS, so
    * partials over disjoint frames merge by per-cell addition — the
    * sketch-mergeability property every distributed/streaming use of
    * CMS rests on ([[graft.streaming.StreamingCms]] is built on this
    * seam; [[cmsError]] is the accuracy audit that licenses serving
    * from the merged sketch).
    */
  private[graft] def cmsCountersFrom(docs: DataFrame): DataFrame = {
    graft.functions.PolyHash.register(docs.sparkSession)
    docs
      .select(explode(toks).as("tok"))
      .withColumn("th", call_function(graft.functions.PolyHash.Name, col("tok")))
      .select(col("th"),
        explode(sequence(lit(0L), lit((CmsDepth - 1).toLong))).as("i"))
      .groupBy(col("i"), cmsBucket(col("i"), col("th")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  def cmsError(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.PolyHash.register(spark)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def bucketOf(i: Column, th: Column): Column = cmsBucket(i, th)
    val exact = Tables.documents(spark, dir)
      .repartition(n, col("doc_id"))
      .select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
      .withColumn("th", call_function(graft.functions.PolyHash.Name, col("tok")))
      .localCheckpoint() // three consumers: counters, total, top-k
    val counters = exact
      .select(col("exact"), col("th"),
        explode(sequence(lit(0L), lit((CmsDepth - 1).toLong))).as("i"))
      .groupBy(col("i"), bucketOf(col("i"), col("th")).as("bucket"))
      .agg(sum(col("exact")).as("cnt"))
    val totalRow = exact.agg(sum(col("exact")).as("n_total"))
    val topk = exact.orderBy(col("exact").desc, col("tok")).limit(k)
      // bounded: the global rank window runs over the k-row limit cut
      .withColumn("rk",
        row_number().over(Window.orderBy(col("exact").desc, col("tok"))).cast("bigint"))
    topk
      .select(col("rk"), col("tok"), col("exact"),
        explode(sequence(lit(0L), lit((CmsDepth - 1).toLong))).as("i"), col("th"))
      .withColumn("bucket", bucketOf(col("i"), col("th")))
      .join(broadcast(counters), Seq("i", "bucket"))
      .groupBy("rk", "tok", "exact")
      .agg(min(col("cnt")).as("est"))
      .crossJoin(broadcast(totalRow))
      .select(col("rk"), col("tok"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overestimate"),
        (col("est") >= col("exact")).as("guarantee_ok"),
        round((col("est") - col("exact")).cast("double") / col("n_total"), 6)
          .as("over_share"))
      .orderBy("rk")
  }

  /** Phase 2 of [[langIdNgram]]: score ANY `(doc_id, text, ...)`
    * frame against a trained profile — each document votes for the
    * language sharing the most trigrams (ties to the smallest code,
    * no profile hit at all predicts 'und'). One `(doc_id, lang_pred)`
    * row per input document. THE shared seam with the streaming twin
    * ([[graft.streaming.StreamingLangId]]) — per-doc scoring is the
    * same code path, so stream and batch cannot drift.
    *
    * The trigram explode here is the second of [[langIdNgram]]'s two
    * deliberate scans (see the class note: the gram-row intermediate
    * out-sizes the corpus, so re-running the narrow explode beats
    * checkpointing it); the profile join broadcasts, per-(doc, lang)
    * hit counts aggregate map-side, and the vote is an argmin over
    * langs rows per doc.
    */
  def langIdPredict(docs: DataFrame, profile: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val gramRows = docs
      .repartition(n, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("tok"))
    val pred = gramRows.join(broadcast(profile), Seq("tok"))
      .groupBy("doc_id", "plang")
      .agg(count(lit(1)).as("hits"))
      .groupBy("doc_id")
      .agg(min(struct((-col("hits")).as("nh"), col("plang"))).as("m"))
      .select(col("doc_id"), col("m.plang").as("lang_pred"))
    docs.select("doc_id")
      .join(pred, Seq("doc_id"), "left")
      .withColumn("lang_pred", coalesce(col("lang_pred"), lit("und")))
  }

  /** Zipf-law fit of the token frequency distribution — the corpus
    * health check that catches generator artifacts and boilerplate
    * floods (natural language sits near slope −1 on log rank vs log
    * freq; a synthetic or template-heavy corpus bends visibly). OLS
    * slope/intercept over the top `topR` ranks: ranks and frequencies
    * are exact integers; each rank's (ln rank, ln freq) terms are
    * rounded to 6 dp ONCE and summed as DECIMAL (the rounded-term
    * discipline), so both engines regress over bit-identical sums.
    *
    * Scale shape: one token-count aggregate (map-side partials), a
    * TakeOrdered top-R cut (never a global window over the
    * vocabulary), then arithmetic over the R-row table.
    */
  def zipfFit(spark: SparkSession, dir: String, topR: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val stats = freqs.agg(sum(col("freq")).as("n_tokens"),
                          count(lit(1)).as("vocab"))
    val top = freqs.orderBy(col("freq").desc, col("tok")).limit(topR)
    // the window ranks the R-row broadcast cut, not the vocabulary
    val ranked = broadcast(top)
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("freq").desc, col("tok"))).cast("bigint"))
      .select(
        round(log(col("rk").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("freq").cast("double")), 6).cast("decimal(18,6)").as("y"))
    val fit = ranked.agg(
        count(lit(1)).as("r_used"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("r_used"),
        round((col("r_used") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("r_used") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"))
    stats.crossJoin(fit)
      .select(col("n_tokens"), col("vocab"), col("r_used"), col("zipf_slope"))
  }

  /** Pointwise mutual information of adjacent token bigrams (Church &
    * Hanks 1990) — the collocation score that separates real word
    * association from chance co-occurrence:
    * pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ), probabilities estimated by
    * corpus counts. Computed as ONE double expression
    * ln( (c_ab · N_uni · N_uni) / (N_big · c_a · c_b) ) written with
    * identical association on both engines, so no aggregation-order
    * float drift exists — every input is an exact BIGINT count.
    *
    * Scale shape: bigram and unigram aggregates are linear map-side
    * combines; both land vocabulary-bounded (vocab² and vocab rows)
    * and are checkpointed once for their two consumers (totals +
    * join). The unigram sides broadcast into the bigram table; the
    * 1-row totals cross-join is a constant. Low-count pairs
    * (c_ab < `minCount`) are dropped — PMI of rare pairs is noise by
    * construction (Church & Hanks' own caveat).
    */
  def tokenPmi(spark: SparkSession, dir: String, minCount: Long = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    tokenPmiFromCounts(
      bigramRowsFrom(docs).groupBy("a", "b").agg(count(lit(1)).as("c_ab")),
      unigramRowsFrom(docs).groupBy("tok").agg(count(lit(1)).as("c")),
      minCount)
  }

  /** Adjacent-bigram rows `(a, b)` over ANY `(text, ...)` frame — the
    * tokenization seam [[graft.streaming.StreamingPmi]] shares with
    * the batch operator (one code path for the gram unit).
    */
  def bigramRowsFrom(docs: DataFrame): DataFrame =
    docs.filter(size(toks) >= 2)
      .select(toks.as("t"), explode(sequence(lit(1), size(toks) - 1)).as("i"))
      .select(element_at(col("t"), col("i")).as("a"),
              element_at(col("t"), col("i") + 1).as("b"))

  /** Unigram rows `(tok)` over ANY `(text, ...)` frame. */
  def unigramRowsFrom(docs: DataFrame): DataFrame =
    docs.select(explode(toks).as("tok"))

  /** The PMI projection over ANY `(a, b, c_ab)` bigram-count and
    * `(tok, c)` unigram-count frames — the scoring seam the streaming
    * twin serves from its count stores (bigram/unigram counts are
    * ADDITIVE across batches, so the streamed store sums to exactly
    * the batch counts; stream and batch cannot drift).
    */
  def tokenPmiFromCounts(big0: DataFrame, uni0: DataFrame,
                         minCount: Long = 5): DataFrame = {
    val big = big0.localCheckpoint()
    val uni = uni0.localCheckpoint()
    val totals = uni.agg(sum(col("c")).as("n_uni"))
      .crossJoin(big.agg(sum(col("c_ab")).as("n_big")))
    big.filter(col("c_ab") >= minCount)
      .join(broadcast(uni.select(col("tok").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(uni.select(col("tok").as("b"), col("c").as("c_b"))), "b")
      .crossJoin(broadcast(totals))
      .select(col("a"), col("b"), col("c_ab"),
        round(log(
          col("c_ab").cast("double") * col("n_uni") * col("n_uni") /
          (col("n_big").cast("double") * col("c_a") * col("c_b"))), 6).as("pmi"))
      .orderBy("a", "b")
  }

  /** Per-language lexical profile: token/type/hapax counts, type-token
    * ratio, hapax share of the vocabulary, mean word length and mean
    * syllables per word (vowel-group runs, min 1 — the deterministic
    * syllable heuristic behind readability formulas). The corpus-sized
    * work is one (lang, token) hash aggregation; every downstream
    * number rolls up from the VOCABULARY-sized count table in exact
    * integers (chars/syllables multiply per-type, never per-token),
    * with four final round-6 divides.
    */
  /** Flesch reading-ease / Flesch–Kincaid grade per (lang, source) —
    * the classic readability screen a curation pipeline runs beside
    * the [[qualityByLang]] heuristics. Per document, all three
    * Flesch inputs are exact integer counts from narrow regex
    * expressions (no explode, no UDF): words = non-empty tokens,
    * sentences = terminator groups ([.!?]+, min 1 — "a document is
    * at least one sentence"), syllables = vowel runs plus one for
    * each vowel-less word (the [[lexicalProfile]] min-1-per-token
    * convention, computed without exploding). Corpus sums are exact
    * longs; the two published formulas are one deterministic double
    * expression each, round-6.
    *
    * Scale shape: a narrow per-row projection then a tiny
    * (lang × source) hash-agg — map-side partials do all the work.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val lowered = lower(col("text"))
    val words = size(filter(split(col("text"), " "),
      t => length(t) > 0)).cast("bigint")
    val vowelRuns = size(regexp_extract_all(lowered, lit("[aeiouy]+"), lit(0)))
      .cast("bigint")
    val noVowelWords = size(filter(split(lowered, " "),
      t => length(t) > 0 && !t.rlike("[aeiouy]"))).cast("bigint")
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("bigint"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("source"), words.as("w"),
        (vowelRuns + noVowelWords).as("y"), sentences.as("s"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
           sum("s").as("n_sentences"), sum("y").as("n_syllables"))
      .filter(col("n_words") > 0)
      .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        round(lit(206.835) -
          lit(1.015) * col("n_words").cast("double") / col("n_sentences") -
          lit(84.6) * col("n_syllables").cast("double") / col("n_words"), 6)
          .as("flesch"),
        round(lit(0.39) * col("n_words").cast("double") / col("n_sentences") +
          lit(11.8) * col("n_syllables").cast("double") / col("n_words") -
          lit(15.59), 6).as("fk_grade"))
      .orderBy("lang", "source")
  }

  /** Token burstiness: the variance-to-mean ratio (dispersion index)
    * of per-document counts for the corpus's top tokens — bursty
    * content words (VMR ≫ 1, Church/Gale) vs evenly-spread function
    * words (VMR ≈ 1, the Poisson level); a dedup/boilerplate smell
    * when a "function-word-frequency" token turns out maximally
    * bursty. Zero-count documents enter the moments without
    * materializing: over all N docs, var·(N−1) = Σc² − N·mean², so
    * VMR = (N·Σc² − (Σc)²)/((N−1)·Σc) — all-integer numerator and
    * denominator from the containing docs only, one divide. Top-k cut
    * by (corpus count desc, token) via TakeOrdered; per-(doc, token)
    * counts are a map-side-partial hash agg.
    */
  def burstiness(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count() // 1 driver scalar, the kmeans discipline
    val perDoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy("tok")
      .agg(count(lit(1)).as("n_docs_with"), sum(col("c")).as("sc"),
           sum(col("c") * col("c")).as("scc"))
    stats
      .orderBy(col("sc").desc, col("tok")).limit(topK)
      .select(col("tok"), col("n_docs_with"), col("sc").as("occurrences"),
        round((lit(nDocs) * col("scc") - col("sc") * col("sc")).cast("double") /
              ((lit(nDocs) - 1) * col("sc")).cast("double"), 6).as("vmr"))
      .orderBy(col("occurrences").desc, col("tok"))
  }

  /** Heaps'-law vocabulary-growth table: cumulative token mass vs
    * cumulative distinct vocabulary at `buckets` corpus checkpoints
    * (docs in doc_id order) — the saturation diagnostic behind "is
    * more of this source still buying new vocabulary, or only
    * repeating itself" (Heaps 1978: V(n) ~ K·n^beta; a flattening
    * curve is the data-side signal that dedup/mixing should down-
    * weight the tail). Complements [[zipfFit]] (rank-frequency at one
    * snapshot) with the GROWTH view.
    *
    * Engine-exactness: checkpoint id is integer arithmetic on the
    * [[CorpusOps.withGlobalRank]] rank (`(rn-1)*k div N + 1`, the
    * decile-bin convention — no NTILE); a type's arrival bucket is
    * `min(bucket)` over its occurrences; cumulative sums are integer.
    * The one double is the final type/token ratio (round-6 over
    * identical integers on both engines).
    *
    * Scale shape: global rank via the range-partition backbone (no
    * single-reducer window over the corpus); per-(bucket, token)
    * dedup and the arrival-bucket min are vocabulary-sized hash
    * aggregates; the cumulative window runs over <= `buckets` rows
    * (bounded, like the top-k rank windows).
    */
  /** Default checkpoint count for [[heapsLaw]] — shared with the
    * `x_heaps` oracle SQL's interpolated bucket formula so the two
    * sides cannot desync (ADVICE r14, the BpeMidRounds discipline). */
  private[graft] val HeapsBuckets = 10

  def heapsLaw(spark: SparkSession, dir: String, buckets: Int = HeapsBuckets): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val (ranked, total) = graft.operators.CorpusOps.withGlobalRank(
      docs, Seq(col("doc_id")), "rn")
    val toks = ranked
      .withColumn("bkt", expr(s"((rn - 1) * $buckets) div ${total}L + 1"))
      .select(col("bkt"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val mass = toks.groupBy("bkt").agg(count(lit(1)).as("n_toks"))
    val arrivals = toks.groupBy("tok").agg(min(col("bkt")).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("n_new"))
    heapsAssemble(mass, arrivals)
  }

  /** Shared growth-table assembly behind [[heapsLaw]] and its
    * streaming twin [[graft.streaming.StreamingHeaps]] — ONE
    * construction (left join, cumulative windows over <= buckets
    * rows, the round-6 ratio) so stream==batch is shared code, not a
    * reimplementation.
    */
  private[graft] def heapsAssemble(mass: DataFrame, arrivals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mass.join(arrivals, Seq("bkt"), "left")
      .select(col("bkt"), col("n_toks"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_tokens", sum(col("n_toks")).over(wCum))
      .withColumn("cum_types", sum(col("n_new")).over(wCum))
      .select(col("bkt"), col("cum_tokens"), col("cum_types"),
        round(col("cum_types").cast("double") / col("cum_tokens"), 6)
          .as("type_token_ratio"))
      .orderBy("bkt")
  }

  // -----------------------------------------------------------------
  // Unigram-LM tokenizer trainer (Kudo 2018, arXiv:1804.10959 — the
  // SentencePiece default, the standard alternative next to BPE)

  /** Frozen unigram-trainer geometry, shared with the `x_unigram_*`
    * oracle CTE generators (the BpeMidRounds discipline — both sides
    * read THESE constants, so they cannot desync). Raising
    * [[UnigramMaxWordLen]] is an oracle-STRUCTURE change: it is the
    * unrolled Viterbi chain length on both engines. The engine guards
    * it loudly ([[unigramFit]] raise_error) instead of silently
    * truncating a longer word's DP.
    */
  private[graft] val UnigramMaxPiece   = 6
  private[graft] val UnigramEmRounds   = 3
  private[graft] val UnigramSeedKeep   = 512
  private[graft] val UnigramPruneKeep  = 256
  // 16, not the corpus's max 8: the scale-probe ladder amplifies
  // documents with per-copy token suffixes (`customer_c999` = 13
  // chars, graft.Amplify) — the guard caught 12 as too tight before
  // any silent truncation could
  private[graft] val UnigramMaxWordLen = 16

  private[graft] case class UnigramFit(vocab: DataFrame, segs: DataFrame)

  /** Shared trainer loop behind [[unigramTrain]] /
    * [[unigramTokenCounts]] — a hard-EM (Viterbi) unigram-LM trainer:
    *
    *  1. SEED: every substring of length <= [[UnigramMaxPiece]] of the
    *     corpus vocabulary, weighted by word frequency — capped at the
    *     [[UnigramSeedKeep]] most frequent multi-char pieces plus ALL
    *     single characters (so every word always has a segmentation).
    *  2. E-step (x[[UnigramEmRounds]]): per word, the max-likelihood
    *     segmentation under piece log-probabilities ln(cnt/T), by
    *     Viterbi DP over character positions; piece counts are then
    *     re-estimated from the chosen segmentations (the hard-EM
    *     simplification of Kudo's forward-backward soft counts — the
    *     deterministic, integer-checkable variant).
    *  3. M/PRUNE: multi-char pieces keep the [[UnigramPruneKeep]] most
    *     frequent (count-based pruning in place of Kudo's
    *     loss-difference ranking — same monotone intent, exact
    *     arithmetic); single chars are never pruned and floor at
    *     count 1 (an add-one smoothing floor keeping ln defined and
    *     every word segmentable).
    *
    * Exactness: scores are BIGINT micro-unit logs — w_u =
    * round(ln(cnt)*1e6) - round(ln(T)*1e6), the x_zipf/x_char_entropy
    * round-then-integer cushion for the one transcendental; the DP
    * compares (score, path-string) structs, so ties break on the
    * path's binary string order identically in both engines; all
    * counts/sums are integers.
    *
    * Scale shape: the corpus is scanned ONCE for word frequencies
    * (map-side partial aggregate on the doc-partitioned scan); all
    * training state is VOCABULARY-sized. Each round is: a piece
    * equi-join + per-word map collect (one exchange on `word`), the
    * whole Viterbi DP as ONE codegen'd projection over word rows
    * (the [[UnigramMaxWordLen]]-step recurrence unrolled into struct
    * columns — no per-position driver pacing, no joins in the DP),
    * a vocabulary-sized count aggregate, and a TakeOrdered prune.
    * Driver traffic per round is ONE 1-row collect (the total count
    * T, the BPE trainer's bounded-collect discipline). Each generation is
    * checkpointed and the superseded one released ([[graft.Caches]]).
    */
  private[graft] def unigramFit(docs: DataFrame): UnigramFit = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val guarded = when(length(col("word")) <= UnigramMaxWordLen, col("word"))
      .otherwise(raise_error(concat(
        lit(s"unigramFit: word longer than the frozen $UnigramMaxWordLen-step " +
          "Viterbi unroll (regenerate the oracle chain to raise it): "),
        col("word"))))
    val (wtab, wtabIds) = graft.Caches.trackedCheckpoint(docs
      .repartition(n, col("doc_id"))
      .select(explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .select(guarded.as("word"))
      .groupBy("word").agg(count(lit(1)).as("wfreq"))
      .withColumn("len", length(col("word")).cast("int")))
    // every (start, len) substring occurrence, frequency-weighted
    def piecesOf(src: DataFrame): DataFrame = src
      .select(col("word"), col("wfreq"), col("len"),
        explode(sequence(lit(0), col("len") - 1)).as("i"))
      .select(col("word"), col("wfreq"), col("len"), col("i"),
        explode(sequence(lit(1),
          least(lit(UnigramMaxPiece), col("len") - col("i")))).as("l"))
      .withColumn("piece", col("word").substr(col("i") + 1, col("l")))
    val seed0 = piecesOf(wtab)
      .groupBy("piece").agg(sum(col("wfreq")).as("cnt"))
    val (charTab, charIds) = graft.Caches.trackedCheckpoint(
      seed0.filter(length(col("piece")) === 1).select("piece"))
    var (vocab, vocabIds) = graft.Caches.trackedCheckpoint(
      seed0.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(UnigramSeedKeep)
        .unionByName(seed0.filter(length(col("piece")) === 1)))
    var segs: DataFrame = null
    var segIds = Set.empty[Int]
    // Lazy checkpoint generations, ONE action per round (the BPE
    // trainer's fusion): round r's 1-row T collect computes — and persists —
    // the previous round's lazy segs+vocab checkpoints as part of the
    // same job (the full-vocabulary aggregate evaluates every
    // partition), so the two eager per-round checkpoint jobs
    // disappear. This KEEPS each generation's plan truncation (the
    // LogicalRDD wrap happens at checkpoint time regardless of
    // eagerness) — it is NOT the measured-negative checkpoint SKIP
    // reverted below. Superseded generations free one action later
    // (`pending*`), preserving the generation discipline.
    var pendingSegIds = Set.empty[Int]
    var pendingVocabIds = Set.empty[Int]
    for (emRound <- 1 to UnigramEmRounds) {
      // ONE row crosses the driver per round: the vocabulary mass T
      val t = vocab.agg(sum(col("cnt")).as("t")).collect()(0).getLong(0)
      graft.Caches.release(spark, pendingSegIds)
      graft.Caches.release(spark, pendingVocabIds)
      pendingSegIds = Set.empty
      pendingVocabIds = Set.empty
      val pen = lit(BigDecimal(math.log(t.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      val w = vocab.select(col("piece"),
        (round(log(col("cnt")) * 1e6).cast("long") - pen).as("w_u"))
      // per-word (start, end) -> net log-weight map; keys i*32+j are
      // unique per word (one piece per span), so map_from_entries is
      // collision-free
      val pm = piecesOf(wtab)
        .join(w, Seq("piece"))
        .groupBy("word", "wfreq", "len")
        .agg(map_from_entries(collect_list(struct(
          (col("i") * 32 + col("i") + col("l")).as("k"),
          col("w_u").as("v")))).as("pmap"))
      // Viterbi DP unrolled into struct columns dp_j = (score, path):
      // greatest() over (score, path) structs is argmax with the
      // deterministic path tie-break; each dp_j materializes as a
      // named column so the plan stays linear (CollapseProject keeps
      // multi-referenced non-trivial aliases)
      var df = pm.withColumn("dp_0", struct(lit(0L).as("s"), lit("").as("p")))
      for (j <- 1 to UnigramMaxWordLen) {
        val cands = (math.max(0, j - UnigramMaxPiece) until j).map { i =>
          val wv = element_at(col("pmap"), lit(i * 32 + j))
          val prev = col(s"dp_$i")
          val piece = col("word").substr(i + 1, j - i)
          when(wv.isNotNull && prev.isNotNull,
            struct((prev.getField("s") + wv).as("s"),
              when(length(prev.getField("p")) === 0, piece)
                .otherwise(concat(prev.getField("p"), lit(" "), piece)).as("p")))
        }
        val best = if (cands.size > 1) greatest(cands: _*) else cands.head
        df = df.withColumn(s"dp_$j", when(col("len") >= j, best))
      }
      val pathCol = (1 to UnigramMaxWordLen).foldLeft(lit(null).cast("string")) {
        (acc, j) => when(col("len") === j, col(s"dp_$j").getField("p")).otherwise(acc)
      }
      // NOTE (r15 optimization round, measured and REVERTED): skipping
      // the intermediate rounds' segs checkpoint (the E-step count is
      // their only consumer) looked like a free action saved, but solo
      // A/B measured the family 1.6-1.8x SLOWER (x_unigram_train solo
      // median 2.83 -> 5.01 s) — evaluating the prune aggregate on top
      // of the un-truncated 16-step Viterbi plan costs far more in
      // Catalyst/codegen than the checkpoint's write+read saves. The
      // per-round checkpoint stays: it is plan TRUNCATION, not just
      // materialization (the nearDupMinhash lesson).
      val (segNext, segNextIds) = graft.Caches.trackedCheckpoint(
        df.select(col("word"), col("wfreq"), pathCol.as("path"))
          .withColumn("n_pieces", size(split(col("path"), " ")).cast("bigint")),
        eager = false)
      pendingSegIds = segIds
      segs = segNext
      segIds = segNextIds
      // E-step counts -> count-pruned next vocabulary
      val cnts = segs
        .select(col("wfreq"), explode(split(col("path"), " ")).as("piece"))
        .groupBy("piece").agg(sum(col("wfreq")).as("cnt"))
      val (vocabNext, vocabNextIds) = graft.Caches.trackedCheckpoint(
        cnts.filter(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece")).limit(UnigramPruneKeep)
          .unionByName(charTab
            .join(cnts, Seq("piece"), "left")
            .select(col("piece"),
              greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))),
        eager = false)
      pendingVocabIds = vocabIds
      vocab = vocabNext
      vocabIds = vocabNextIds
    }
    // the final generation's lazy checkpoints have no following T
    // collect: materialize them (vocab sits on top of segs, so one
    // count persists both), then free their predecessors
    vocab.count()
    graft.Caches.release(spark, pendingSegIds)
    graft.Caches.release(spark, pendingVocabIds)
    graft.Caches.release(spark, wtabIds)
    graft.Caches.release(spark, charIds)
    UnigramFit(vocab, segs)
  }

  /** The trained unigram tokenizer VOCABULARY — (piece, piece_len,
    * cnt, vocab_rank) after [[UnigramEmRounds]] hard-EM rounds, the
    * artifact a SentencePiece-style deployment publishes next to
    * [[bpeTrain]]'s merge table. The rank window runs over the
    * bounded (<= [[UnigramPruneKeep]] + alphabet) vocabulary — the
    * top-k rank-window class, never corpus-sized.
    */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fit = unigramFit(Tables.documents(spark, dir))
    val w = Window.orderBy(col("cnt").desc, col("piece"))
    fit.vocab
      .withColumn("vocab_rank", row_number().over(w).cast("bigint"))
      .select(col("piece"), length(col("piece")).cast("bigint").as("piece_len"),
        col("cnt"), col("vocab_rank"))
      .orderBy("vocab_rank")
  }

  /** Per-document token counts under the [[unigramFit]]-trained
    * vocabulary — the unigram sibling of [[bpeTokenCounts]] (a doc's
    * count is the sum of its words' final Viterbi piece counts; every
    * corpus word is in the training word table by construction, so
    * the join is total). Same scale shape as bpeTokenCounts: one
    * corpus explode equi-joined to the vocabulary-sized segmentation
    * table, rolled up per doc with map-side partials.
    */
  def unigramTokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fit = unigramFit(docs)
    unigramCountsUnder(docs, fit.segs.select(col("word"), col("n_pieces")))
  }

  /** The serve-side per-doc rollup under a PUBLISHED `(word,
    * n_pieces)` segmentation table — shared by [[unigramTokenCounts]]
    * and the streaming ingest twin
    * [[graft.streaming.StreamingUnigramCounts]], so "the stream
    * serves what batch trained" is shared code, not a
    * reimplementation (the StreamingPqEncode discipline). The join is
    * total for any corpus whose words the model trained on; a
    * production deployment handling out-of-vocabulary words would add
    * the SentencePiece character fallback in the same join seam.
    */
  private[graft] def unigramCountsUnder(docs: DataFrame, wl: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .join(wl, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
           sum(col("n_pieces")).as("n_unigram_tokens"))
      .orderBy("doc_id")
  }

  /** Tokenizer fertility per language under the [[unigramFit]]-trained
    * vocabulary — unigram pieces per whitespace word and characters
    * per piece, the multilingual equity audit [[bpeFertility]] runs
    * for BPE, now answerable for BOTH trainer algorithms side by side
    * (the SentencePiece BPE-vs-unigram choice is exactly this
    * comparison). Integer sums of per-word Viterbi piece counts; both
    * ratios divide identical exact operands.
    *
    * Scale shape: [[bpeFertility]]'s — one corpus explode equi-joined
    * to the vocabulary-sized segmentation table, langs-sized rollup.
    */
  def unigramFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fit = unigramFit(docs)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(n, col("doc_id"))
      .select(col("lang"), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .join(fit.segs.select(col("word"), col("n_pieces")), Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_pieces")).as("n_unigram_tokens"),
           sum(length(col("word")).cast("bigint")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_unigram_tokens"),
        round(col("n_unigram_tokens").cast("double") / col("n_words"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_unigram_tokens"), 6)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** The trained unigram tokenizer's SERVE-side artifact: each
    * vocabulary word's final Viterbi segmentation — the unigram
    * sibling of [[bpeSegments]] (the O(1) word → pieces lookup
    * inference ships; [[unigramTrain]]'s vocabulary says what was
    * learned, this says how words decompose under it). One
    * vocabulary-sized projection of the trainer's final state.
    */
  def unigramSegments(spark: SparkSession, dir: String): DataFrame =
    unigramFit(Tables.documents(spark, dir)).segs
      .select(col("word"), col("wfreq"), col("path"), col("n_pieces"))
      .orderBy("word")

  /** BPE vs unigram-LM head-to-head — the per-language decision table
    * the SentencePiece algorithm choice actually reads: both trainers
    * run on the SAME corpus (8-merge BPE, [[UnigramEmRounds]]-round
    * unigram) and the table reports each language's token mass and
    * fertility under each, plus the unigram/BPE token ratio (< 1
    * means unigram spends less of the context window on that
    * language at these budgets). Counts are integer sums of per-word
    * symbol/piece counts; ratios divide identical exact operands.
    *
    * Scale shape: both trainer states are vocabulary-sized; the
    * corpus explodes ONCE and equi-joins both per-word count tables;
    * rollup is langs-sized.
    */
  def tokenizerCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // The two trainers are INDEPENDENT driver-paced loops over
    // vocabulary-sized state; run them from two driver threads
    // (optimization guide §2.6) so each trainer's small per-round jobs
    // back-fill the cores the other's round leaves idle — neither loop
    // alone comes close to saturating the cluster.
    val (uni, bpe) = graft.Par.run2(unigramFit(docs),
      bpeFitBatched(docs, totalMerges = 8, batchM = 1, topK = 1))
    val wlB = bpe.state.groupBy("word").agg(count(lit(1)).as("n_syms"))
    val wlU = uni.segs.select(col("word"), col("n_pieces"))
    docs
      .repartition(n, col("doc_id"))
      .select(col("lang"), explode(toks).as("word"))
      .filter(length(col("word")) > 0)
      .join(wlB, Seq("word"))
      .join(wlU, Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_syms")).as("n_bpe_tokens"),
           sum(col("n_pieces")).as("n_unigram_tokens"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        col("n_unigram_tokens"),
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 6)
          .as("bpe_fertility"),
        round(col("n_unigram_tokens").cast("double") / col("n_words"), 6)
          .as("unigram_fertility"),
        round(col("n_unigram_tokens").cast("double") /
              col("n_bpe_tokens").cast("double"), 6).as("unigram_vs_bpe"))
      .orderBy("lang")
  }

  def lexicalProfile(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("lang"), col("text"))
    val perTok = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("lang", "tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("chars", length(col("tok")).cast("bigint") * col("cnt"))
      .withColumn("syl",
        greatest(lit(1),
          size(regexp_extract_all(col("tok"), lit("[aeiouy]+"), lit(0))))
          .cast("bigint") * col("cnt"))
    val docCounts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    perTok.groupBy("lang")
      .agg(sum(col("cnt")).as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"),
           sum(col("chars")).as("n_chars"),
           sum(col("syl")).as("n_syllables"))
      .join(broadcast(docCounts), "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("hapax").cast("double") / col("n_types"), 6).as("hapax_rate"),
        round(col("n_chars").cast("double") / col("n_tokens"), 6).as("avg_chars"),
        round(col("n_syllables").cast("double") / col("n_tokens"), 6)
          .as("avg_syllables"))
      .orderBy("lang")
  }

  /** Gopher-style quality rule census per source (Rae et al. 2021,
    * "Scaling Language Models" — the published pretraining filter
    * suite, adapted to this corpus's punctuation-free synthetic
    * prose): word count in [50, 100000], mean word length in [3, 10]
    * (tested as the INTEGER inequality 3w <= chars <= 10w — no
    * division, engine-exact), at least 2 stopwords ([[Stopwords]]),
    * and no token longer than 15 chars. Reports per-source pass
    * counts per rule and the all-rules pass rate — the filter-design
    * view that tells a curator WHICH rule is binding before anything
    * is dropped ([[qualityFilter]] then enforces a score).
    *
    * Scale shape: one narrow map per document (token ops fused into
    * the scan projection), one source-bounded rollup. No shuffle of
    * text bodies.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val t = toks
    val nWords = size(t).cast("bigint")
    val nCharsNoSp = length(regexp_replace(col("text"), " ", "")).cast("bigint")
    val nStop = size(filter(t, x => x.isInCollection(Stopwords))).cast("bigint")
    val maxLen = array_max(transform(t, x => length(x))).cast("bigint")
    val r1 = nWords >= 50 && nWords <= 100000
    val r2 = lit(3L) * nWords <= nCharsNoSp && nCharsNoSp <= lit(10L) * nWords
    val r3 = nStop >= 2
    val r4 = maxLen <= 15
    Tables.documents(spark, dir)
      .select(col("source"), r1.as("r1"), r2.as("r2"), r3.as("r3"), r4.as("r4"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("r1"), 1L).otherwise(0L)).as("n_wordcount_ok"),
           sum(when(col("r2"), 1L).otherwise(0L)).as("n_meanlen_ok"),
           sum(when(col("r3"), 1L).otherwise(0L)).as("n_stopword_ok"),
           sum(when(col("r4"), 1L).otherwise(0L)).as("n_maxlen_ok"),
           sum(when(col("r1") && col("r2") && col("r3") && col("r4"), 1L)
             .otherwise(0L)).as("n_pass"))
      .withColumn("pass_rate",
        round(col("n_pass").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("source")
  }
}
