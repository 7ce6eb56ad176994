package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Deduplication operators over the `documents` table — the LLM
  * training-data-pipeline surface (exact, MinHash/banded-LSH near-dup,
  * SimHash, blocked n-gram Jaccard, content fingerprinting).
  *
  * Everything is built from Catalyst higher-order functions (no UDFs)
  * so the whole pipeline stays inside whole-stage codegen, and every
  * pairing step is an EQUI-join on a derived key (hash group, band
  * hash, block key) — never an all-pairs cross product. That is the
  * 100 TB shape: candidate generation cost is O(n · bands), and the
  * expensive exact re-check runs only on the candidate pairs.
  */
object Dedup {

  /** Frozen pipeline parameters (see SparkEntry oracle SQL — the DuckDB
    * side replicates the identical integer arithmetic).
    */
  val ShingleN     = 8  // character n-gram size (SimHash path)
  val WordShingleN = 3  // word w-shingle size (MinHash path, Broder-style)
  val NumHashes    = 16 // MinHash signature length
  val Bands        = 4  // LSH bands
  val RowsPerBand  = 4  // NumHashes / Bands
  val P: Long      = TextFunctions.P
  val GramDFCap    = 64 // n-gram Jaccard: drop grams seen in > this many docs of a block
  val SpanGramN    = 8  // exact-substring dedup: duplicated-span gram size in tokens
  val BandBucketCap = 256 // MinHash LSH: drop band buckets larger than this (see bucketPairs)

  /** (doc_id, shingles, hashes): distinct character 8-gram shingles of
    * each document plus their polynomial hashes — the HOF REFERENCE
    * formulation of the SimHash input (character grams suit bitwise
    * fingerprints; the MinHash path uses word shingles via
    * [[shingleHashRows]]). The production path is
    * [[simhashShingleRows]]/[[simhashDocs]] (exploded + codegen;
    * interpreted HOF lambdas cost ~12 s at sf0.1); this form stays as
    * the executable spec — TextFunctionsSpec pins the two equal.
    */
  def docShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFunctions.shingles(col("text"), ShingleN).as("shingles"),
      TextFunctions.shingleHashes(col("text"), ShingleN).as("hashes"))

  /** Exact dedup: group documents by content hash, keep the smallest
    * doc_id of each group (deterministic survivor — `dropDuplicates`
    * keeps an arbitrary row, which is not oracle-checkable).
    *
    * Grouping on md5(text) rather than the text itself means the
    * shuffle carries 16-byte keys, not document bodies — at 100 TB
    * that is the difference between shuffling the corpus and shuffling
    * ~2% of it. Partial (map-side) aggregation applies as usual.
    */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(encode(col("text"), "UTF-8")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")

  /** (doc_id, h): one row per DISTINCT word-3-shingle hash of each
    * document — Broder-style w-shingling, the canonical MinHash unit
    * for documents (and ~5x fewer rows than dense character 8-grams,
    * which matters because materializing this table is the pipeline's
    * dominant cost).
    *
    * Exploding to rows up front is deliberate: Spark's higher-order
    * functions are interpreted (no codegen), so keeping the shingle
    * set as an array and re-scanning it per minhash / per candidate
    * pair costs ~1 µs per lambda call — 150+ s at sf0.1. The rows
    * come from [[WordGrams.hashed]] (a Generate plus the codegen'd
    * PolyHash, no hot lambdas).
    *
    * The explicit hash-repartition on doc_id BEFORE the explode is
    * load-bearing three times over: it moves 5 k document rows per
    * shuffle instead of 260 k gram rows AND parallelizes the
    * explode+hash projection across all cores (a 100 TB corpus scans
    * many splits, but a small parquet file is ONE split — the whole
    * gram materialization ran single-threaded before this, measured
    * ~5 s of the r2 bench); partitioning by doc_id then satisfies the
    * (doc_id, h) dedup's clustering AND every downstream per-doc
    * aggregation (signatures, sizes), so the per-doc phase runs on
    * this single shuffle; and the explicit partition count stops AQE
    * from coalescing the small shuffle to one partition — which would
    * serialize the cache build and every cache read (measured 10x
    * slowdown).
    */
  def shingleHashRows(spark: SparkSession, dir: String): DataFrame =
    distinctShingles(spark, dir, "doc_id")

  /** (key, h): the DISTINCT word-3-shingle hashes per `key` value —
    * doc_id for [[shingleHashRows]]; lang for the KMV sketches (lang
    * rides along so the per-lang distinct needs no corpus-sized
    * doc->lang join). */
  private def distinctShingles(spark: SparkSession, dir: String,
                               key: String): DataFrame = {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    WordGrams.hashed(Tables.documents(spark, dir).repartition(n, col("doc_id")),
        split(col("text"), " "), WordShingleN, key)
      .select(col(key), col("gh").as("h"))
      .dropDuplicates(key, "h")
  }

  /** (doc_id, m0..m15): MinHash signature as 16 codegen'd `min`
    * aggregates over the shingle-hash rows — one hash-aggregate with
    * map-side partial mins, the 100 TB shape (vs. interpreted
    * array-lambda evaluation, which this replaced).
    */
  def minhashSigsFrom(rows: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map { i =>
      min((col("h") * (2 * i + 1) + (5 * i + 3)) % P).as(s"m$i")
    }
    rows.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band, bh): LSH band hashes of the MinHash signature.
    * Band hash = Horner fold (acc*31 + sig_i) mod P over the band's
    * rows — exactly reproducible in the oracle's integer arithmetic.
    */
  def minhashBandsFrom(rows: DataFrame): DataFrame =
    minhashBandsFromSigs(minhashSigsFrom(rows))

  /** Band hashes over an already-computed signature table — the seam
    * [[minhashErrorAudit]] uses to derive bands AND per-component
    * agreement from ONE signature aggregation.
    */
  def minhashBandsFromSigs(sigs: DataFrame): DataFrame = {
    val bandRecs = (0 until Bands).map { b =>
      val bh = (0 until RowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
        (acc * 31 + col(s"m${b * RowsPerBand + r}")) % P
      }
      struct(lit(b).as("band"), bh.as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandRecs: _*)).as("rec"))
      .select(col("doc_id"), col("rec.band").as("band"), col("rec.bh").as("bh"))
  }

  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    minhashBandsFrom(shingleHashRows(spark, dir))

  /** MinHash near-dup pairs: documents sharing any LSH band bucket are
    * candidates (equi-join on (band, band-hash) — the scalable step);
    * candidates are then re-checked with EXACT Jaccard over the
    * distinct shingle-hash sets and kept at >= `threshold`.
    *
    * Scale shape: the band join shuffles only (doc_id, band, hash)
    * triples; intersection sizes come from equi-joining the candidate
    * pairs back to the shingle-hash rows on (doc_id) and (doc_id, h)
    * and counting — no arrays are carried through any shuffle, and
    * there is no cross product anywhere.
    */
  def nearDupMinhash(spark: SparkSession, dir: String,
                     threshold: Double = 0.7): DataFrame =
    // The deduped shingle-hash table feeds several plan subtrees
    // (bands, two intersection sides, sizes). localCheckpoint (eager)
    // materializes it once AND truncates the logical plan — the Spark
    // analog of writing the shingle table to storage before the pair
    // phase, which is exactly what a 100 TB pipeline does with this
    // intermediate (there it would be a reliable checkpoint / parquet
    // write, which also survives executor loss; locally the blocks
    // suffice). Truncation matters as much as materialization: the
    // final Jaccard plan references this subtree three times, and with
    // a plain persist every action re-analyzed the full
    // scan→explode→hash logical plan per reference — driver-side
    // Catalyst seconds, not executor work.
    nearDupMinhashRows(shingleHashRows(spark, dir).localCheckpoint(), threshold)

  /** MinHash pair pipeline over an ALREADY-MATERIALIZED (doc_id, h)
    * shingle-hash table — the seam [[unifiedPairs]] uses to feed the
    * MinHash and n-gram families from ONE corpus tokenize/hash pass
    * (their shingle unit is the same word 3-gram).
    */
  def nearDupMinhashRows(rows: DataFrame, threshold: Double): DataFrame = {
    // `pairs` feeds TWO consumers (the intersection join AND
    // candidateDocs) — without its own materialization the whole
    // bands→buckets→pairs pipeline above re-executes per consumer
    // (the r2 bench measured the query at 2x its single-pass cost).
    // The pair set is bounded by bucket collisions (bucketCap caps the
    // per-bucket fan-out), so this is modest cache for one whole
    // pipeline execution saved.
    // The buckets persist exists only to make the over-cap diagnostic
    // count free: its count() is the FIRST action and materializes
    // only the bucket aggregation over the already-checkpointed rows
    // blocks; the pair expansion + drop count then both read the tiny
    // cached bucket set.
    val buckets = minhashBandsFrom(rows)
      .groupBy("band", "bh").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDroppedBuckets = buckets.filter(size(col("ids")) > BandBucketCap).count()
    if (nDroppedBuckets > 0)
      System.err.println(
        s"[graft] nearDupMinhash: dropped $nDroppedBuckets band bucket(s) " +
        s"larger than $BandBucketCap members (no similarity signal, pure fan-out)")
    // localCheckpoint, not persist+count: same eager materialization,
    // but it also TRUNCATES the logical plan to the materialized
    // blocks. The pair set feeds four downstream subtrees, and with a
    // persist each of their actions re-ANALYZES the whole
    // shingle→band→bucket logical plan (caching swaps in the
    // InMemoryRelation only at physical planning) — measured as
    // seconds of driver-side Catalyst time, not executor work.
    val pairs = bucketPairs(buckets).localCheckpoint()
    buckets.unpersist()
    val sizes = rows.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Semi-filter the shingle rows to candidate docs before the
    // intersection joins, so the (doc, h) shuffles carry only
    // candidate rows. NO broadcast() hint: on a boilerplate-heavy
    // 100 TB corpus the candidate set is corpus-fraction-sized, and a
    // hard hint there is a guaranteed OOM that never degrades. AQE
    // sees the localCheckpointed pair set's true runtime size and
    // picks broadcast exactly when it actually fits (verified in
    // PlanSpec: small → broadcast, threshold off → shuffle join).
    val candidateDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val crows = rows.join(candidateDocs, Seq("doc_id"), "left_semi")
    val inter = pairs
      .join(crows.as("ra"), col("doc_a") === col("ra.doc_id"))
      .join(crows.as("rb"),
        col("doc_b") === col("rb.doc_id") && col("ra.h") === col("rb.h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
              (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash ESTIMATE-vs-EXACT Jaccard audit over the LSH candidate
    * pairs — the "measure, don't claim" companion to
    * [[nearDupMinhash]], the same move as the ANN recall audits: the
    * production pipeline THRESHOLDS on exact Jaccard after candidate
    * generation, and this query prices what thresholding on the
    * 16-component signature estimate instead would cost (the estimate
    * is a 16-sample Bernoulli mean of the true Jaccard — expected
    * |error| ~ sqrt(J(1-J)/16) ≈ 0.1, which is why the exact re-check
    * exists at all).
    *
    * Per candidate pair: `est_jaccard` = agreeing signature components
    * / 16, `exact_jaccard` over the distinct shingle-hash sets, and
    * the absolute error. Candidate pairs with ZERO shingle overlap
    * (pure permutation/band coincidences) are kept — they are exactly
    * the estimator's worst case.
    *
    * Scale shape: signatures aggregate ONCE (one hash-agg over the
    * checkpointed shingle rows) and feed both the band derivation and
    * the per-component agreement join; the agreement join carries 17
    * longs per candidate doc; the exact side is the candidate-filtered
    * intersection equi-join of [[nearDupMinhashRows]]. No cross
    * products, no corpus-growing broadcast hints.
    */
  def minhashErrorAudit(spark: SparkSession, dir: String): DataFrame = {
    val rows = shingleHashRows(spark, dir).localCheckpoint()
    // one signature aggregation, three consumers (bands, both
    // agreement sides) — materialize + truncate (see nearDupMinhash)
    val sigs = minhashSigsFrom(rows).localCheckpoint()
    val buckets = minhashBandsFromSigs(sigs)
      .groupBy("band", "bh").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairs = bucketPairs(buckets).localCheckpoint()
    val agree = (0 until NumHashes)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = pairs
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(agree.cast("double") / NumHashes, 6).as("est_jaccard"))
    val sizes = rows.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val candidateDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val crows = rows.join(candidateDocs, Seq("doc_id"), "left_semi")
    val inter = pairs
      .join(crows.as("ra"), col("doc_a") === col("ra.doc_id"))
      .join(crows.as("rb"),
        col("doc_b") === col("rb.doc_id") && col("ra.h") === col("rb.h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      // LEFT join, unlike the threshold pipeline: zero-intersection
      // candidates must stay in the audit
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .withColumn("exact_jaccard",
        round(col("inter").cast("double") /
              (col("sza") + col("szb") - col("inter")), 6))
      .join(est, Seq("doc_a", "doc_b"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
      .select("doc_a", "doc_b", "est_jaccard", "exact_jaccard", "abs_err")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimator threshold sweep — the [[minhashErrorAudit]]
    * rolled up into the decision it informs, the same move as the IVF
    * probe sweep: if the pipeline thresholded on the cheap 16-component
    * signature ESTIMATE instead of running the exact re-check, what
    * precision/recall (vs exact-Jaccard truth over the same candidate
    * pairs) would each threshold buy? One row per threshold with the
    * confusion counts — the curve that prices skipping the exact
    * intersection join (the candidate phase's dominant cost) in
    * false merges.
    *
    * Scale shape: consumes the candidate-pair audit table (bounded by
    * band collisions, never corpus-sized); the sweep is a
    * thresholds × pairs Expand into one tiny hash aggregate.
    */
  def minhashThresholdSweep(spark: SparkSession, dir: String,
                            thresholds: Seq[Double] = Seq(0.5, 0.7, 0.9)): DataFrame = {
    val audit = minhashErrorAudit(spark, dir)
    val ts = explode(array(thresholds.map(lit): _*)).as("threshold")
    audit.select(col("est_jaccard"), col("exact_jaccard"), ts)
      .groupBy("threshold")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("est_jaccard") >= col("threshold") &&
                 col("exact_jaccard") >= col("threshold"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("est_jaccard") >= col("threshold") &&
                 col("exact_jaccard") < col("threshold"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("est_jaccard") < col("threshold") &&
                 col("exact_jaccard") >= col("threshold"), 1L).otherwise(0L)).as("fn"))
      // "prec", not "precision": PRECISION is a type keyword in ANSI
      // engines (DOUBLE PRECISION) and would need quoting in the oracle
      .withColumn("prec", expr("round(tp / nullif(tp + fp, 0), 6)"))
      .withColumn("recall", expr("round(tp / nullif(tp + fn, 0), 6)"))
      .orderBy("threshold")
  }

  /** KMV (k-minimum-values) distinct-shingle sketch, oracle-checked:
    * estimate each language's distinct word-3-gram cardinality from
    * the k SMALLEST distinct shingle hashes — `est = (k-1)·P / h_k` —
    * next to the exact count and the relative error. The point of
    * this query is that the sketch itself is EXACTLY reproducible:
    * unlike HLL/t-digest (engine-specific internals → rows-only
    * checks, x_approx_distinct/x_approx_percentiles), KMV is a pure
    * function of a deterministic hash, so the DuckDB oracle computes
    * the identical estimate and the driver hash-checks a SKETCH. The
    * cardinality it prices is the n-gram table the dedup family
    * materializes — the pre-flight sizing question.
    *
    * Scale shape: the distinct-(lang, hash) aggregate is
    * vocabulary-sized; the k-th-smallest extraction uses the salted
    * two-level rank ([[TextAnalysis.vocabHeadRanked]]'s pattern — the
    * global k smallest are always inside the union of per-shard k
    * smallest), so no full vocabulary sorts on one reducer. At 100 TB
    * the same sketch folds as a bounded typed Aggregator (min-k
    * buffer per group), the [[graft.functions.TopKAggregator]] move.
    */
  def kmvDistinctShingles(spark: SparkSession, dir: String,
                          k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = distinctShingles(spark, dir, "lang")
      .localCheckpoint() // two consumers: exact count + min-k
    val exact = rows.groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    val wShard = Window.partitionBy("lang", "salt").orderBy("h")
    val wLang = Window.partitionBy("lang").orderBy("h")
    val kth = rows
      .withColumn("salt", pmod(col("h"), lit(TextAnalysis.SaltBuckets.toLong)))
      .withColumn("r1", row_number().over(wShard)).filter(col("r1") <= k)
      .withColumn("rk", row_number().over(wLang)).filter(col("rk") === k)
      .select(col("lang"), col("h").as("hk"))
    exact.join(kth, Seq("lang"))
      .withColumn("kmv_estimate", expr(s"(${k - 1}L * ${P}L) div hk"))
      .withColumn("rel_err",
        round(abs(col("kmv_estimate") - col("exact_distinct")).cast("double") /
              col("exact_distinct"), 6))
      .select("lang", "exact_distinct", "kmv_estimate", "rel_err")
      .orderBy("lang")
  }

  /** The KMV sketch via the typed bounded
    * [[graft.functions.MinKAggregator]] instead of the window rank:
    * the O(k) sketch buffer folds map-side (exact distinct count and
    * min-k sketch in ONE grouped pass over the pre-distincted rows),
    * where [[kmvDistinctShingles]]'s salted rank still shuffles the
    * whole vocabulary once. Same rows, same DuckDB oracle — wired as
    * its own bench query so the two strategies are measured side by
    * side, the [[graft.functions.TopKAggregator]] move.
    */
  def kmvDistinctShinglesAgg(spark: SparkSession, dir: String,
                             k: Int = 64): DataFrame = {
    import spark.implicits._
    import graft.functions.MinKAggregator
    val grouped = distinctShingles(spark, dir, "lang").as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
    grouped
      .agg(MinKAggregator.minK(k).toColumn.name("mink"),
           MinKAggregator.countAll.toColumn.name("exact_distinct"))
      // a language with fewer than k distinct hashes has no k-th
      // smallest — dropped, mirroring the window form's rk == k join
      .flatMap { case (lang, mink, exact) =>
        if (mink.length < k) None
        else Some((lang, exact, (k - 1).toLong * P / mink.last))
      }
      .toDF("lang", "exact_distinct", "kmv_estimate")
      .withColumn("rel_err",
        round(abs(col("kmv_estimate") - col("exact_distinct")).cast("double") /
              col("exact_distinct"), 6))
      .orderBy("lang")
  }

  /** In-bucket candidate-pair expansion over aggregated LSH band
    * buckets `(band, bh, ids)`, with a bucket-size cap: buckets larger
    * than `bucketCap` are dropped entirely. A bucket's pair fan-out is
    * quadratic in its size, and at 100 TB a boilerplate-heavy corpus
    * WILL produce pathological hot buckets (every page sharing a
    * banner collides in some band) — a bucket with millions of members
    * carries no similarity signal, only O(m²) joins. Mirrors
    * [[GramDFCap]] on the n-gram path. The cap sits far above any
    * honest near-dup cluster (and above this corpus's max bucket, so
    * the oracle needs no cap arithmetic).
    */
  def bucketPairs(buckets: DataFrame, bucketCap: Int = BandBucketCap): DataFrame = {
    val ids = sort_array(col("ids"))
    val pairExpr = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("doc_a"), y.as("doc_b")))))
    buckets
      .filter(size(col("ids")) <= bucketCap)
      .select(explode(pairExpr).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()
  }

  /** (doc_id, h): polynomial hash of each DISTINCT character
    * [[ShingleN]]-gram of each document — the SimHash vote unit, in
    * the same exploded codegen shape as [[shingleHashRows]]: character
    * positions explode via `sequence`, the 8-char slice hashes through
    * the native [[graft.functions.PolyHash]], shingles dedup on the
    * string per doc (hash collisions each still vote, matching the
    * oracle's distinct-shingles-then-hash order). The interpreted HOF
    * form this replaces ([[TextFunctions.shingleHashes]], one lambda
    * per character per shingle) measured ~12 s at sf0.1 — hidden until
    * the bench forced full column evaluation. Documents shorter than
    * the shingle width contribute their whole text as one shingle.
    */
  def simhashShingleRows(spark: SparkSession, dir: String): DataFrame =
    simhashShingleRowsFrom(Tables.documents(spark, dir))

  /** Character-shingle hash rows over ANY `(doc_id, text, ...)` frame —
    * the seam that lets streaming micro-batches fingerprint with the
    * exact batch arithmetic (shingle votes are doc-local, so a
    * batch-local computation yields identical prints).
    */
  def simhashShingleRowsFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.PolyHash.register(spark)
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    docs
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - (ShingleN - 1), lit(1)))).as("i"))
      .select(col("doc_id"), expr(s"substring(text, i, $ShingleN)").as("sh"))
      .dropDuplicates("doc_id", "sh")
      .select(col("doc_id"),
        call_function(graft.functions.PolyHash.Name, col("sh")).as("h"))
  }

  /** Per-document 32-bit SimHash fingerprint (near-dup docs land on
    * nearby hashes; equal hashes → dedup clusters). Bit votes are 32
    * codegen'd conditional sums in ONE hash aggregate over the
    * exploded shingle-hash rows — the same shape as the 16 min-agg
    * MinHash signatures; downstream clustering is a groupBy on the
    * resulting 8-byte fingerprint.
    */
  def simhashDocs(spark: SparkSession, dir: String): DataFrame = {
    val votes = (0 until 32).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j")
    }
    val bits = (0 until 32)
      .map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    simhashShingleRows(spark, dir)
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), bits.as("simhash"))
      .orderBy("doc_id")
  }

  /** SimHash collision clusters: fingerprints shared by more than one
    * document, with the cluster span — the grouping consumer of
    * [[simhashDocs]] (a 100 TB dedup pass groups by fingerprint and
    * keeps one survivor per cluster; this surfaces the clusters).
    * GroupBy on an 8-byte hash — the same cheap-shuffle property as
    * [[exactDedup]].
    */
  def simhashClusters(spark: SparkSession, dir: String): DataFrame =
    simhashDocs(spark, dir)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("simhash")

  /** Odd 32-bit multipliers (Knuth's 2^32/phi and xxHash's PRIME32_2)
    * used to derive two independent well-mixed 32-bit words from each
    * shingle hash for the 64-bit SimHash. The shingle hash h is
    * < [[P]] < 2^30, so h * Mix* < 2^62 — exact in BIGINT on every
    * engine (no wrap, no overflow); the `>> 15` then selects the
    * well-mixed middle bits (Fibonacci hashing), because the low bits
    * of h * odd-constant are just a permutation of h's low bits.
    */
  val MixA = 2654435761L
  val MixB = 2246822519L

  /** Per-document 64-bit SimHash fingerprint as TWO 32-bit words
    * `(sim_lo, sim_hi)` — the production print width
    * ([[simhashNearDup]] explains why 32 bits is a scale-killer).
    * Each word's 32 bit votes run over an independent 32-bit mix of
    * the shingle hash ([[MixA]]/[[MixB]]); all 64 vote sums are
    * codegen'd conditional sums in ONE hash aggregate, the same
    * single-shuffle shape as [[simhashDocs]]. Two BIGINT words rather
    * than one 64-bit value keeps every engine's integer arithmetic in
    * non-negative BIGINT range (a sign bit at position 63 would make
    * the print's ordering and shift semantics engine-dependent).
    */
  def simhashDocs64(spark: SparkSession, dir: String): DataFrame =
    simhashDocs64From(Tables.documents(spark, dir))

  /** 64-bit fingerprints over ANY `(doc_id, text, ...)` frame — see
    * [[simhashShingleRowsFrom]] for why batch-local == corpus-batch.
    */
  def simhashDocs64From(docs: DataFrame): DataFrame = {
    val rows = simhashShingleRowsFrom(docs).select(col("doc_id"),
      shiftright(col("h") * lit(MixA), 15).bitwiseAND(lit(0xFFFFFFFFL)).as("g1"),
      shiftright(col("h") * lit(MixB), 15).bitwiseAND(lit(0xFFFFFFFFL)).as("g2"))
    val votes =
      (0 until 32).map { j =>
        sum(shiftright(col("g1"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"a$j")
      } ++ (0 until 32).map { j =>
        sum(shiftright(col("g2"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$j")
      }
    def word(prefix: String) = (0 until 32)
      .map(j => when(col(s"$prefix$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    rows.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), word("a").as("sim_lo"), word("b").as("sim_hi"))
      .orderBy("doc_id")
  }

  /** SimHash collision clusters on the 64-BIT print — the
    * production-width variant of [[simhashClusters]]: at 32 bits a
    * corpus-scale groupBy collects incidental birthday collisions into
    * fake clusters; at 64 bits fingerprint equality means
    * near-identical content at any realistic corpus size. Same
    * cheap-shuffle shape (16-byte key).
    */
  def simhashClusters64(spark: SparkSession, dir: String): DataFrame =
    simhashDocs64(spark, dir)
      .groupBy("sim_lo", "sim_hi")
      .agg(count(lit(1)).as("n_docs"),
           min(col("doc_id")).as("first_doc"),
           max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("sim_lo", "sim_hi")

  /** SimHash NEAR-dup pairs at Hamming distance <= `maxHamming` — the
    * fingerprint-distance search that [[simhashClusters]]' exact
    * equality misses (near-identical docs differ in a few bits). The
    * pigeonhole banding makes it an equi-join: the 64-bit fingerprint
    * ([[simhashDocs64]]: two 32-bit words) splits into 4 disjoint
    * 16-bit bands, and <= 3 flipped bits can corrupt at most 3 of
    * them, so every qualifying pair agrees EXACTLY on at least one
    * (band, word16) key. Candidates come from a self-join on that key
    * (the standard simhash index shape — at 100 TB each band is a
    * sorted posting list); the cheap bit_count(XOR) verify then drops
    * the false positives. Exact duplicates (distance 0) are included
    * by construction.
    *
    * Width matters: fingerprint width sets the INCIDENTAL-collision
    * floor — the r4 32-bit print put unrelated docs within Hamming 3
    * at a birthday-quadratic rate (~34k candidate pairs at sf0.1 vs
    * 255 true MinHash near-dups), growing quadratically with the
    * corpus. At 64 bits the incidental floor is negligible at any
    * realistic corpus size (choose(64,3)/2^64 per pair), and the
    * 16-bit bands also shrink the candidate join 256x vs 8-bit bands.
    */
  def simhashNearDup(spark: SparkSession, dir: String,
                     maxHamming: Int = 3): DataFrame =
    simhashNearDupFrom(Tables.documents(spark, dir), maxHamming)

  /** SimHash near-dup pairs over ANY `(doc_id, text, ...)` frame — the
    * seam [[unifiedPairs]] uses to fingerprint an already-materialized
    * corpus projection instead of re-reading the source table.
    */
  def simhashNearDupFrom(docRows: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4 x 16-bit bands guarantee recall only up to Hamming distance 3")
    // the fingerprint table feeds four subtrees (two band-join sides,
    // two verify lookups) — materialize once, plan-truncated
    val (docs, _) = graft.Caches.trackedCheckpoint(simhashDocs64From(docRows))
    val bands = docs
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("band"),
        expr("((CASE WHEN band < 2 THEN sim_lo ELSE sim_hi END)" +
             " >> ((band % 2) * 16)) & 65535").as("bk"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"),
        col("sim_lo").as("la"), col("sim_hi").as("ha")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("sim_lo").as("lb"), col("sim_hi").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(la ^ lb) + bit_count(ha ^ hb) as bigint)")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate CLUSTERS from the near-dup pair graph: connected
    * components via distributed min-label propagation over the
    * [[nearDupMinhash]] edges — the step that turns pairwise matches
    * into dedup groups (keep one survivor per component). Each
    * iteration is one shuffle join + aggregate; pointer jumping makes
    * components of diameter d converge in ~log2(d) rounds (see
    * [[labelPropagation]]), and near-dup clusters are tiny by
    * construction, so the loop is short. The driver-side loop only
    * checks CONVERGENCE (a count of changed labels per round — a
    * scalar, not data); all label math runs distributed, the standard
    * iterative-graph shape on the pair graph, which is orders of
    * magnitude smaller than the corpus at any scale.
    */
  def dupComponents(spark: SparkSession, dir: String,
                    threshold: Double = 0.7, maxIters: Int = 30): DataFrame =
    componentsFromPairs(nearDupMinhash(spark, dir, threshold), maxIters)

  /** Connected components of an undirected (doc_a, doc_b) pair graph —
    * the rollup of [[labelPropagation]], exposed so deep chains
    * (diameter > the corpus's) are unit-testable directly.
    */
  def componentsFromPairs(pairs0: DataFrame, maxIters: Int = 30): DataFrame =
    labelPropagation(pairs0, maxIters)
      .groupBy(col("lbl").as("component_root"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_member"))
      .orderBy("component_root")

  /** Right-to-be-forgotten cascade: the near-dup component map
    * recomputed after a deletion list is applied — the takedown /
    * GDPR-erasure pass a managed corpus must support. Deleting a
    * document does two non-obvious things the recomputation gets for
    * free: a deleted SURVIVOR promotes the next-smallest member to
    * component root, and a deleted BRIDGE document (whose pairs were
    * the only link between two clusters) SPLITS its component — both
    * fall out of running components over the pair graph restricted to
    * surviving endpoints, which is exactly what this does (tombstones
    * here are the deterministic doc_id % 7 == 0 set, chosen to
    * intersect the planted near-dup clusters at every test SF; a real
    * pass anti-joins a tombstone table in the same place).
    *
    * Scale shape: identical to [[dupComponents]] — the tombstone
    * filter is a narrow predicate on the (tiny) pair set, then the
    * same driver-paced checkpointed label propagation.
    */
  def deleteCascade(spark: SparkSession, dir: String,
                    threshold: Double = 0.7, maxIters: Int = 30): DataFrame =
    componentsFromPairs(
      nearDupMinhash(spark, dir, threshold)
        .filter(col("doc_a") % 7 =!= 0 && col("doc_b") % 7 =!= 0)
        .select("doc_a", "doc_b"),
      maxIters)

  /** Loop partition count for [[labelPropagation]], derived from the
    * (already materialized) pair count: each round shuffles O(edges)
    * label rows, so size partitions to THAT graph — 32 session-default
    * partitions per round cost ~10x the actual label math on a
    * 255-pair graph, and one partition would serialize a billion-edge
    * graph. ~500k pairs per partition keeps a round's task well under
    * executor memory at any scale; capped so a pathological pair
    * explosion surfaces as slow rounds, not a 100k-task storm.
    */
  def graphPartsFor(nPairs: Long): Int =
    math.max(1L, math.min(200L, (nPairs + 499999L) / 500000L)).toInt

  /** (doc_id, lbl): per-node component label (lbl = smallest doc_id
    * reachable) via distributed min-label propagation WITH pointer
    * jumping (convergence in ~log2(diameter) rounds, so the default
    * maxIters covers diameters past 2^13) — the primitive behind
    * [[componentsFromPairs]] and [[dedupSurvivors]].
    */
  /** maxIters is a SAFETY NET, not a work bound: the loop exits on
    * the label-sum fixpoint, and pointer jumping doubles label reach
    * per round, so rounds ~ log2(diameter) + 2 — the cap only fires
    * on a genuinely pathological graph. 30 covers diameter ~2^28.
    * (r12 measured finding: the unified pair graph at 300x
    * amplification crossed the old 15-round cap — component diameter
    * GROWS with corpus scale through band-bucket bridges, so a
    * log-diameter cap must be sized for the target corpus, not the
    * test corpus.)
    */
  def labelPropagation(pairs0: DataFrame, maxIters: Int = 30): DataFrame = {
    // localCheckpoint (eager): materializes the whole upstream pair
    // pipeline in ONE sequential job AND truncates the logical plan to
    // the materialized blocks. Both halves are load-bearing for an
    // iterative consumer: a plain persist (a) leaves the full
    // shingle→band→Jaccard logical plan in every round's lineage —
    // with the loop's union-join shape the plan DOUBLES per round, and
    // driver-side Catalyst analysis (not executor work) was measured
    // at 2-3 s per round; and (b) leaves round 1's three cold-cache
    // consumers (join side, union side, node seed) racing to
    // materialize it concurrently, re-running the Jaccard phase up to
    // 3x. The count that follows is a cheap job over the checkpointed
    // blocks; it sizes the loop's partitioning ([[graphPartsFor]]) and
    // short-circuits the empty graph — min-propagation over zero edges
    // never changes the label sum, so the in-loop convergence test
    // (which compares two consecutive rounds' sums) could never fire
    // and the loop burned maxIters rounds then threw.
    val spark = pairs0.sparkSession
    val (raw, rawIds) = graft.Caches.trackedCheckpoint(
      pairs0.select("doc_a", "doc_b"))
    val nPairs = raw.count()
    if (nPairs == 0) {
      graft.Caches.release(spark, rawIds) // nothing downstream reads the pair blocks
      // limit(0) collapses to an empty relation (OptimizeLimitZero) —
      // schema preserved, upstream never executes.
      return pairs0.select(col("doc_a").as("doc_id"), col("doc_a").as("lbl"))
        .limit(0)
    }
    val graphParts = graphPartsFor(nPairs)
    // coalesce, not repartition: narrow re-read of the checkpointed blocks.
    val pairs = raw.coalesce(graphParts)
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val nodes = edges.select(col("doc_a").as("doc_id")).distinct()
    // Eager checkpoint: round 0 reads the seed labels twice (join side
    // + union side) — materialized blocks make that two blocked scans,
    // not a race to compute.
    var (labels, labelsIds) = graft.Caches.trackedCheckpoint(
      nodes.withColumn("lbl", col("doc_id"))
        .repartition(graphParts, col("doc_id")))
    // Convergence via the label-sum invariant: labels only ever
    // DECREASE (min-propagation), so the sum strictly drops until the
    // fixpoint — comparing two scalar aggregates per round is cheaper
    // than a changed-rows join, and just as exact. DECIMAL(38,0) sum:
    // overflow-proof at any node-count x id-range, so a wrap can never
    // fake a fixpoint. No initial sum action: every component has an
    // edge, so round 1 always changes some label — the first
    // comparison that can signal convergence is round 2's.
    // One propagation round: min over (a) own label, (b) every
    // neighbor's label — the hop, and (c) the label's own label
    // lbl(lbl(v)) — the POINTER JUMP (hash-to-min doubling, Rastogi et
    // al. 2012's family): the reach of a label doubles per round
    // instead of growing by one edge, so a chain component of diameter
    // d converges in ~log2(d) rounds, not d (a 100 TB near-dup graph
    // with one long chain no longer exhausts maxIters). Both jump
    // sides read the MATERIALIZED label blocks from the previous
    // round's checkpoint — deliberately NOT a jump over the current
    // round's hop output, which would feed an un-materialized subtree
    // to two consumers and evaluate it twice (the fused-two-hops
    // lesson below). The jump stays correct for the label-sum
    // convergence test: lbl(x) <= x, so lbl(lbl(v)) <= lbl(v) and
    // labels still only ever decrease; lbl(v) is reachable from v and
    // lbl(lbl(v)) from lbl(v), so reachability is preserved.
    def hop(l: DataFrame): DataFrame = {
      val incoming = edges
        .join(l.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
        .select(col("doc_b").as("doc_id"), col("lbl"))
      val jumped = l.select(col("doc_id"), col("lbl").as("ptr"))
        .join(l.select(col("doc_id").as("ptr"), col("lbl").as("jlbl")), Seq("ptr"))
        .select(col("doc_id"), col("jlbl").as("lbl"))
      l.union(incoming).union(jumped)
        .repartition(graphParts, col("doc_id")) // keep every loop exchange graph-sized
        .groupBy("doc_id").agg(min(col("lbl")).as("lbl"))
    }
    // Per-round block cleanup: localCheckpoint registers its blocks as
    // a persistent RDD with no Dataset-level unpersist handle, so each
    // checkpoint call is tracked (Caches.trackedCheckpoint — a TIGHT
    // per-call diff, never a sweep of the context registry, which
    // would misattribute and destroy a concurrent query's blocks) and
    // the superseded generation is freed once the next one
    // materializes — labels are O(nodes) per round, and letting
    // maxIters generations accumulate would hold maxIters copies of
    // the label table in block storage on a big pair graph.
    var prevSum: java.math.BigDecimal = null
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      // ONE materialized hop per round (the lazy checkpoint's blocks
      // are written by the sum action's job). Fusing two hops into one
      // job was measured 3x SLOWER: the inner hop's un-materialized
      // subtree feeds two consumers in the outer hop (the join side
      // and the union side), so the fused lineage evaluates it twice —
      // lesson recorded so it isn't retried.
      val (next, nextIds) = graft.Caches.trackedCheckpoint(hop(labels), eager = false)
      val nextSum = next.agg(sum(col("lbl").cast("decimal(38,0)")))
        .head().getDecimal(0)
      graft.Caches.release(spark, labelsIds)
      labels = next
      labelsIds = nextIds
      converged = prevSum != null && nextSum != null &&
        nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iters += 1
    }
    require(converged, s"label propagation did not converge in $maxIters rounds")
    // The returned labels (the final generation, `labelsIds`) are fully
    // materialized — the pair blocks backing the loop's edges are no
    // longer reachable from any consumer.
    graft.Caches.release(spark, rawIds)
    labels
  }

  /** The UNIFIED near-dup pair graph: MinHash-Jaccard, 64-bit SimHash
    * (Hamming <= [[simhashNearDup]]'s bound), and blocked n-gram
    * Jaccard edges unioned into one edge set — the composition a real
    * curation run executes, because each family catches pairs the
    * others miss (MinHash sees token-set overlap, SimHash sees
    * bit-level content drift, n-gram Jaccard sees within-block exact
    * phrase reuse). Each family is already an equi-join pipeline with
    * its own skew caps; the union is a cheap distinct over three tiny
    * pair sets, so the composition adds no new scale axis.
    *
    * One-scan composition: the corpus projection `(doc_id, lang,
    * source, text)` is read from storage ONCE into a checkpointed
    * frame, and BOTH tokenizations read those blocks — MinHash and
    * n-gram Jaccard share the same word-3-gram unit (one
    * tokenize/explode/hash pass, one checkpointed gram table —
    * [[wordGramRowsFrom]]), and SimHash's character-8-gram pass (a
    * different unit by design) re-reads the checkpointed text instead
    * of scanning the source table a second time. At 100 TB that is a
    * whole corpus read saved per composite; the raw-text blocks are
    * released as soon as both derived tables (grams, fingerprints)
    * materialize, so the composite never holds text longer than the
    * tokenization itself.
    */
  def unifiedPairs(spark: SparkSession, dir: String,
                   minhashThreshold: Double = 0.7,
                   maxHamming: Int = 3,
                   ngramThreshold: Double = 0.02): DataFrame = {
    val (docs, docIds) = graft.Caches.trackedCheckpoint(unifiedDocs(spark, dir))
    val pairs = unifiedPairsFrom(docs, minhashThreshold, maxHamming, ngramThreshold)
    // both tokenizations checkpointed their derived tables eagerly —
    // the returned plan reads grams + fingerprints, never the text
    graft.Caches.release(spark, docIds)
    pairs
  }

  /** The corpus projection both [[unifiedPairs]] tokenizations (and
    * [[dedupSurvivorsUnified]]'s rollup) read: exactly the columns the
    * word-gram pass, the SimHash pass, and the survivor rollup need.
    */
  private def unifiedDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))

  /** [[unifiedPairs]] over an already-materialized corpus projection —
    * the seam that lets [[dedupSurvivorsUnified]] share ONE checkpoint
    * across the pair graph and the survivor rollup.
    */
  private def unifiedPairsFrom(docs: DataFrame,
                               minhashThreshold: Double,
                               maxHamming: Int,
                               ngramThreshold: Double): DataFrame = {
    // Two INDEPENDENT tokenization pipelines read the checkpointed
    // docs: the word-3-gram pass (feeding MinHash + n-gram Jaccard —
    // including the minhash bucket/pair materializations inside
    // nearDupMinhashRows) and SimHash's character-8-gram fingerprint
    // pass. Overlap them (optimization guide §2.6) so the char-gram
    // scan back-fills the word-gram pipeline's reduce tails; each
    // family's own plan and materialization discipline is unchanged.
    val ((mh, ng), sh) = graft.Par.run2(
      {
        val grams = wordGramRowsFrom(docs).localCheckpoint()
        val minhashRows = grams.select(col("doc_id"), col("gh").as("h"))
        (nearDupMinhashRows(minhashRows, minhashThreshold).select("doc_a", "doc_b"),
         ngramJaccardRows(grams, ngramThreshold).select("doc_a", "doc_b"))
      },
      simhashNearDupFrom(docs, maxHamming).select("doc_a", "doc_b"))
    mh.union(sh).union(ng).distinct()
  }

  /** Duplicate clusters over the [[unifiedPairs]] union graph — the
    * all-families generalization of [[dupComponents]]. One label
    * propagation over the merged edges; a doc connected to a cluster
    * by ANY family joins it, so unified components can merge clusters
    * the per-family passes keep separate.
    */
  def dedupUnified(spark: SparkSession, dir: String): DataFrame =
    componentsFromPairs(unifiedPairs(spark, dir))

  /** Cross-source duplication audit over the [[unifiedPairs]] graph —
    * the provenance question a multi-source corpus has to answer
    * before weighting sources: how many near-dup pairs live WITHIN
    * each source vs ACROSS each source pair (a hot cross-source cell
    * means two feeds republish each other, and per-source domain caps
    * or mixture weights double-count that mass). Source pairs are
    * canonicalized (least, greatest) so the matrix is triangular.
    *
    * Scale shape: the pair graph joins the sources-projection twice on
    * doc_id (AQE-sized equi-joins carrying an 8-byte id and a short
    * source string); output is bounded by sources².
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = unifiedPairs(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
              greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_dup_pairs"))
      .withColumn("cross_source", col("src_a") =!= col("src_b"))
      .orderBy("src_a", "src_b")
  }

  /** Per-language survivor counts with the exact-dedup pass AND the
    * unified (all-families) near-dup pass applied — [[dedupSurvivors]]
    * with the union graph's non-roots removed instead of MinHash-only.
    * Survivor count is <= the per-family variant by construction
    * (more edges can only merge more docs into clusters).
    *
    * One-scan: the SAME checkpointed corpus projection feeds the pair
    * graph's two tokenizations AND the survivor rollup's exact-dedup /
    * per-language counts — the composite reads `documents` from
    * storage exactly once. (Here the projection's blocks live until
    * the caller's [[graft.Caches.releaseAll]]: the returned plan's
    * rollup side still reads them.)
    */
  def dedupSurvivorsUnified(spark: SparkSession, dir: String): DataFrame = {
    val (docs, _) = graft.Caches.trackedCheckpoint(unifiedDocs(spark, dir))
    survivorsByLangFrom(docs,
      unifiedPairsFrom(docs, minhashThreshold = 0.7, maxHamming = 3,
        ngramThreshold = 0.02))
  }

  /** The dedup end product: per-language survivor counts after BOTH
    * dedup passes — exact (content-hash, smallest doc_id survives) AND
    * near-dup clustering (only each MinHash component's root survives).
    */
  def dedupSurvivors(spark: SparkSession, dir: String,
                     threshold: Double = 0.7): DataFrame =
    survivorsByLang(spark, dir, nearDupMinhash(spark, dir, threshold))

  /** Per-language survivor rollup shared by [[dedupSurvivors]] (MinHash
    * pair graph) and [[dedupSurvivorsUnified]] (all-families union
    * graph): exact dedup keeps the smallest doc_id per content hash,
    * near-dup clustering keeps only each component's root. Semi/anti
    * joins against the keep/non-root sets (sized by AQE at runtime —
    * broadcast only when they measure small); the corpus itself
    * streams through once.
    */
  private def survivorsByLang(spark: SparkSession, dir: String,
                              pairs: DataFrame): DataFrame =
    survivorsByLangFrom(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")),
      pairs)

  private def survivorsByLangFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val keep = docs
      .groupBy(md5(encode(col("text"), "UTF-8")).as("ch"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nonRoots = labelPropagation(pairs)
      .filter(col("doc_id") =!= col("lbl"))
      .select("doc_id")
    // No broadcast() hint on the anti-join: the non-root (duplicate)
    // set grows with the corpus — on heavily-duplicated web text it is
    // corpus-fraction-sized, and a hard hint is an OOM with no
    // graceful degradation. AQE broadcasts it when its measured size
    // fits and falls back to a shuffled anti-join when it doesn't.
    val surv = docs.select("doc_id", "lang")
      .join(keep, Seq("doc_id"), "left_semi")
      .join(nonRoots, Seq("doc_id"), "left_anti")
    docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .join(surv.groupBy("lang").agg(count(lit(1)).as("n_survivors")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_survivors"), lit(0L)).as("n_survivors"))
      .orderBy("lang")
  }

  /** Blocked edit-distance (fuzzy) near-dup: record pairs within a
    * block whose names are <= `maxDist` edits apart, rolled up per
    * block — the entity-resolution member of the dedup family (exact
    * hash / MinHash / SimHash / n-gram Jaccard cover content identity;
    * this covers typo-level identity). The block key turns the O(n²)
    * all-pairs Levenshtein into a per-block problem, same as every
    * other pairing step here: an EQUI-join on a derived key, never a
    * cross product. Block choice trades recall for cost exactly like
    * LSH bands; pairs spanning blocks are by design not compared.
    */
  def fuzzyNameDedup(spark: SparkSession, dir: String,
                     maxDist: Int = 1): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
              substring(col("c_name"), 10, 7).as("blk"))
    c.as("a").join(c.as("b"),
        col("a.blk") === col("b.blk") &&
        col("a.c_custkey") < col("b.c_custkey") &&
        levenshtein(col("a.c_name"), col("b.c_name")) <= maxDist)
      .groupBy(col("a.blk").as("blk"))
      .agg(count(lit(1)).as("n_fuzzy_pairs"),
           min(col("a.c_custkey")).as("first_custkey"))
      .orderBy("blk")
  }

  /** Per-document polynomial rolling-hash fingerprint of the full text
    * (content identity cheaper to store/shuffle than the text). Uses
    * the codegen'd native expression [[graft.functions.PolyHash]] —
    * same fold as [[TextFunctions.polyHash]] but compiled into the
    * whole-stage-codegen loop instead of one interpreted lambda per
    * character.
    */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.PolyHash.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        call_function(graft.functions.PolyHash.Name, col("text")).as("fp"))
      .orderBy("doc_id")
  }

  /** Blocked EXACT word-3-gram Jaccard: pairs within a (lang, source)
    * block, kept at >= `threshold`. The block key turns all-pairs into
    * a per-block problem, and intersections come from a self-join of
    * the exploded gram rows on (block, gram) + count — pairs sharing
    * zero grams never materialize (they cannot pass a positive
    * threshold anyway), and no arrays move through the shuffle.
    *
    * Gram construction mirrors [[shingleHashRows]]: tokens are
    * materialized ONCE per document row, gram positions explode via
    * `sequence` (a Generate), and each gram is assembled and hashed by
    * codegen'd expressions. Building grams inside a higher-order
    * `transform` lambda instead re-evaluates the `split` per
    * `element_at` call — measured as 12 s of this query's 14 s at
    * sf0.1 before the rewrite. Per-doc gram dedup happens on the
    * 8-byte hash (`dropDuplicates(doc_id, gh)`), which subsumes the
    * old `array_distinct` on gram strings (the oracle dedups hashed
    * values the same way).
    *
    * Scale guard: the join key includes the gram, so frequent grams
    * (stopword runs, boilerplate) are the skew axis — the self-join
    * fan-out is Σ df(g)² over per-block gram document frequency.
    * Grams with df > [[GramDFCap]] are dropped from BOTH the
    * intersection and the size denominators (they carry no similarity
    * signal at any useful threshold), which bounds the fan-out at
    * GramDFCap · |rows| — linear in corpus size. The hot-gram set is
    * Zipf-tiny at this corpus, so AQE broadcasts it into the left-anti
    * join at runtime; no hard broadcast() hint, so at a scale where
    * the hot set outgrows a broadcast the plan degrades to a shuffled
    * anti-join instead of OOMing — the semantics and the oracle stay
    * identical. Pairs spanning two blocks are by design not compared.
    */
  def ngramJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.02): DataFrame =
    // eager materialization + plan truncation (four consumers: DF
    // guard, two join sides, sizes) — see nearDupMinhash
    ngramJaccardRows(wordGramRows(spark, dir).localCheckpoint(), threshold)

  /** The deduped word-3-gram hash table `(doc_id, lang, source, gh)` —
    * grams are hashed to int64 (the codegen'd PolyHash expression) so
    * downstream self-joins shuffle and compare 8-byte keys, not gram
    * strings; the oracle applies the identical hash, so the rare
    * hash-collision merge is consistent across engines. The rows are
    * [[shingleHashRows]]' ([[WordGrams.hashed]] word 3-grams, per-doc
    * hash dedup) — only the carried (lang, source) block columns
    * differ — which is what lets [[unifiedPairs]] feed both the
    * MinHash and n-gram families from one pass.
    */
  def wordGramRows(spark: SparkSession, dir: String): DataFrame =
    wordGramRowsFrom(Tables.documents(spark, dir))

  /** Word-gram hash rows over ANY `(doc_id, lang, source, text, ...)`
    * frame — the seam [[unifiedPairs]] uses to tokenize an
    * already-materialized corpus projection.
    */
  def wordGramRowsFrom(docs: DataFrame): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // see shingleHashRows: pre-explode, one shuffle, AQE-coalesce-proof
    WordGrams.hashed(docs.repartition(n, col("doc_id")), split(col("text"), " "),
        WordShingleN, "doc_id", "lang", "source")
      .drop("pos")
      .dropDuplicates("doc_id", "gh")
  }

  /** (doc_id, pos, gh): one row per overlapping [[SpanGramN]]-token
    * gram POSITION of each document — the exact-substring dedup unit.
    * Unlike [[wordGramRows]] there is deliberately NO per-doc
    * `(doc_id, gh)` dedup: positions are the payload (span
    * reconstruction needs every occurrence), and a within-doc repeat
    * of a cross-doc duplicated gram is part of the duplicated-span
    * area being measured.
    */
  def spanGramRowsFrom(docs: DataFrame, gramN: Int = SpanGramN): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // see shingleHashRows: pre-explode, one shuffle, AQE-coalesce-proof
    WordGrams.hashed(docs.repartition(n, col("doc_id")), split(col("text"), " "),
      gramN, "doc_id")
  }

  def spanGramRows(spark: SparkSession, dir: String): DataFrame =
    spanGramRowsFrom(Tables.documents(spark, dir))

  /** Exact-substring deduplication report — the ExactSubstr family of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): find token SPANS that occur
    * verbatim in more than one document, the duplication mode that
    * document-level near-dup (MinHash/SimHash) misses entirely (a
    * boilerplate header pasted into thousands of otherwise-distinct
    * pages never lifts whole-document Jaccard above a threshold, yet
    * is exactly the text a trained model memorizes).
    *
    * Semantics: a position `pos` in a document is DUPLICATED when its
    * [[SpanGramN]]-token gram (PolyHash of the space-joined tokens —
    * the oracle applies the identical hash) occurs in >= 2 DISTINCT
    * documents. Per document, duplicated positions merge into maximal
    * spans (gaps-and-islands: a new span starts when the position gap
    * exceeds [[SpanGramN]], i.e. the covered token intervals
    * `[pos, pos+N-1]` no longer overlap or touch), and the report is
    * one row per affected document: `(doc_id, total_tokens, n_spans,
    * dup_tokens, dup_share)`, ordered by doc_id.
    *
    * 100 TB shape: gram rows are one row per corpus token (positions
    * and 8-byte hashes, never text) materialized once for the two
    * consumers; the duplicated-gram set is a map-side-partial hash
    * aggregate shuffling 8-byte keys; membership is an EQUI-join on
    * `gh` (AQE sizes the sides — no broadcast hint, the duplicated
    * vocabulary grows with the corpus); span reconstruction shuffles
    * only the HIT positions by doc_id. Nothing here is quadratic: a
    * gram shared by k documents contributes k rows (its occurrences),
    * not k^2 pairs — pathological boilerplate needs no DF cap.
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupFrom(Tables.documents(spark, dir))

  def substringDedupFrom(docs: DataFrame): DataFrame = {
    val (grams, _) = graft.Caches.trackedCheckpoint(spanGramRowsFrom(docs))
    val dupGrams = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    val hits = grams.join(dupGrams, Seq("gh")).select("doc_id", "pos")
    val totals = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("total_tokens"))
    spanReport(hits, totals)
  }

  /** Gaps-and-islands span report over a `(doc_id, pos)` duplicated-
    * position set plus per-doc `(doc_id, total_tokens)` — THE shared
    * arithmetic between [[substringDedup]] and the streaming twin
    * ([[graft.streaming.StreamingSubstring]]), so the two cannot
    * drift: positions merge into maximal spans (gap > [[SpanGramN]]
    * breaks coverage), reported per doc as
    * `(total_tokens, n_spans, dup_tokens, dup_share)`.
    */
  private[graft] def spanReport(hits: DataFrame, totals: DataFrame): DataFrame = {
    val perDoc = dupSpans(hits, SpanGramN).groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("span_tokens")).as("dup_tokens"))
    perDoc.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("total_tokens"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("total_tokens"), 6).as("dup_share"))
      .orderBy("doc_id")
  }

  /** The gaps-and-islands maximal-span arithmetic over a `(doc_id,
    * pos)` duplicated-position set, parameterized by the gram size
    * that defines interval coverage — shared by [[spanReport]] (and
    * through it the streaming twin) and the [[substringSweep]].
    * One `(doc_id, island, span_tokens)` row per maximal span.
    */
  private def dupSpans(hits: DataFrame, gramN: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(lag(col("pos"), 1).over(byPos).isNull ||
             col("pos") - lag(col("pos"), 1).over(byPos) > gramN, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg((max(col("pos")) - min(col("pos")) + gramN).as("span_tokens"))
  }

  /** Gram sizes the [[substringSweep]] measures: the repo's default
    * 8-token operating point up through Lee et al. (2107.06499)'s
    * ~50-token minimum-match threshold.
    */
  val SpanSweepSizes: Seq[Int] = Seq(8, 16, 32, 50)

  /** Span-length sweep over the ExactSubstr family — the missing knob
    * on [[substringDedup]]'s fixed gram size: the SAME duplicated-span
    * measurement at each [[SpanSweepSizes]] minimum-match length,
    * rolled up corpus-wide. The report answers "where does the
    * dup-mass live by span length": a corpus whose dup-mass collapses
    * between 8 and 50 tokens is dominated by short boilerplate (strip
    * at a short threshold); one that holds its mass to 50 tokens
    * carries whole duplicated passages (Lee et al.'s operating point —
    * dedup aggressively). One row per gram size:
    * `(gram_n, n_docs, n_spans, dup_tokens, dup_share)` where
    * dup_share is against total corpus tokens.
    *
    * 100 TB shape: one [[substringDedup]]-shaped pass per sweep point
    * (gram hashes are not composable across sizes — PolyHash of the
    * joined text — so each length is an honest re-scan; the sweep is
    * a fixed small set). Every pass keeps the family's guarantees:
    * 8-byte hash shuffles, equi-joins only, k rows per gram shared by
    * k docs (never k^2), map-side-partial aggregates; the per-size
    * rollup is one row, and the corpus-token total is a 1-row
    * broadcast into the final projection.
    */
  def substringSweep(spark: SparkSession, dir: String): DataFrame =
    substringSweepFrom(Tables.documents(spark, dir))

  def substringSweepFrom(docs: DataFrame): DataFrame = {
    val corpus = docs.agg(
      sum(size(split(col("text"), " ")).cast("long")).as("corpus_tokens"))
    // The four per-size gram tables are INDEPENDENT corpus passes
    // (hashes are not composable across sizes); materialize them
    // concurrently so pass g+1 back-fills pass g's reduce tail
    // (optimization guide §2.6) instead of idling 4x on the sequence.
    val gramTabs = graft.Par.runAll(SpanSweepSizes.map(g =>
      () => graft.Caches.trackedCheckpoint(spanGramRowsFrom(docs, g))._1))
    val perSize = SpanSweepSizes.zip(gramTabs).map { case (g, grams) =>
      val dupGrams = grams.groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select("gh")
      val hits = grams.join(dupGrams, Seq("gh")).select("doc_id", "pos")
      dupSpans(hits, g)
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_spans"),
             coalesce(sum(col("span_tokens")), lit(0L)).as("dup_tokens"))
        .select(lit(g.toLong).as("gram_n"),
          col("n_docs"), col("n_spans"), col("dup_tokens"))
    }.reduce(_ unionByName _)
    perSize.crossJoin(broadcast(corpus))
      .select(col("gram_n"), col("n_docs"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("corpus_tokens"), 6).as("dup_share"))
      .orderBy("gram_n")
  }

  /** Strip plan — the curation ACTION the [[substringDedup]] report
    * prices: Lee et al. (2107.06499) deduplicate by REMOVING repeated
    * substrings, keeping one copy. Position-level rule: a duplicated
    * position is removed unless it is the canonical occurrence of its
    * gram — the minimal `(doc_id, pos)` across all occurrences (a
    * deterministic choice both engines reproduce), so exactly one
    * copy of every duplicated gram survives the strip. Removed
    * positions merge into maximal spans with the same gaps-and-islands
    * arithmetic as the report, and the output prices the edit per
    * affected document: `(doc_id, total_tokens, removed_tokens,
    * kept_tokens, removed_share)`.
    *
    * 100 TB shape: everything [[substringDedup]] says, plus one more
    * vocabulary-sized aggregate (the per-gram canonical occurrence,
    * a min-struct hash agg over 16-byte rows) and one equi-join back
    * on `gh` — the corpus still never pairs with itself.
    *
    * Deliberately NO streaming twin: canonicality is a GLOBAL minimum,
    * so a streamed strip would have to retract an earlier doc's
    * removal when a smaller (doc_id, pos) bearer arrives late —
    * retroactive UN-removal, which no append-only store expresses.
    * The production pattern is the one the twins already support:
    * stream the duplicated-position discovery
    * ([[graft.streaming.StreamingSubstring]]), run the strip as a
    * periodic batch pass over the accumulated stores.
    */
  def substringStrip(spark: SparkSession, dir: String): DataFrame =
    substringStripFrom(Tables.documents(spark, dir))

  def substringStripFrom(docs: DataFrame): DataFrame = {
    val (grams, _) = graft.Caches.trackedCheckpoint(spanGramRowsFrom(docs))
    val dupGrams = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    val hits = grams.join(dupGrams, Seq("gh"))
    // canonical occurrence per duplicated gram: min (doc_id, pos)
    val canon = hits.groupBy("gh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
      .select(col("gh"), col("c.doc_id").as("c_doc"), col("c.pos").as("c_pos"))
    val removed = hits.join(canon, Seq("gh"))
      .filter(col("doc_id") =!= col("c_doc") || col("pos") =!= col("c_pos"))
      .select("doc_id", "pos")
    val totals = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("total_tokens"))
    spanReport(removed, totals)
      .select(col("doc_id"), col("total_tokens"),
        col("dup_tokens").as("removed_tokens"),
        (col("total_tokens") - col("dup_tokens")).as("kept_tokens"),
        col("dup_share").as("removed_share"))
      .orderBy("doc_id")
  }

  /** Top duplicated spans — the "what IS the boilerplate" companion
    * to [[substringDedup]]: the [[SpanGramN]]-token grams shared by
    * the most documents, each with a representative text. Where the
    * per-document report says HOW MUCH of each document is duplicated,
    * this says WHAT keeps getting duplicated (license headers,
    * navigation chrome, templated disclaimers) — the list a curation
    * pipeline turns into a strip-filter.
    *
    * Two-phase so text never rides the hot path: phase 1 aggregates
    * 8-byte gram hashes (map-side partial) and takes the top-N by
    * `(n_docs DESC, n_occ DESC, gh)` — a TakeOrdered, no global sort;
    * phase 2 joins the bounded top-N set back to the gram rows for one
    * representative occurrence per gram (min `(doc_id, pos)` — a
    * deterministic choice both engines reproduce) and slices the
    * representative's token array to reconstruct the text. Both
    * phase-2 joins carry at most topN rows on the small side; at
    * 100 TB only phase 1 touches the corpus, and it shuffles hashes.
    */
  def substringHotspots(spark: SparkSession, dir: String,
                        topN: Int = 15, gramN: Int = SpanGramN): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val (grams, _) = graft.Caches.trackedCheckpoint(spanGramRowsFrom(docs, gramN))
    val top = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gh"))
      .limit(topN)
    val byFirstSeen = Window.partitionBy("gh").orderBy("doc_id", "pos")
    val rep = grams.join(top, Seq("gh"))
      .withColumn("rn", row_number().over(byFirstSeen))
      .filter(col("rn") === 1)
      .select(col("gh"), col("n_docs"), col("n_occ"), col("doc_id"), col("pos"))
    rep.join(docs.select(col("doc_id"), split(col("text"), " ").as("toks")), Seq("doc_id"))
      .select(col("gh"),
        WordGrams.text(col("toks"), col("pos"), gramN).as("gram"),
        col("n_docs"), col("n_occ"))
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("gh"))
  }

  /** Blocked n-gram Jaccard over an ALREADY-MATERIALIZED
    * [[wordGramRows]] table — see [[ngramJaccard]] for semantics.
    */
  def ngramJaccardRows(rows: DataFrame, threshold: Double): DataFrame = {
    val hotGrams = rows.groupBy("lang", "source", "gh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > GramDFCap)
      .select("lang", "source", "gh")
    val kept = rows.join(hotGrams, Seq("lang", "source", "gh"), "left_anti")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = kept.as("a")
      .join(kept.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
              (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT similarity join at Jaccard >= 4/5 via prefix filtering
    * (PPJoin, Xiao et al. WWW'08): under any globally-consistent
    * token ordering, two sets with Jaccard >= t MUST share a token in
    * their first (n - ceil(t·n) + 1) tokens — so only PREFIX tokens
    * generate candidate pairs, and the rarest-first (df asc, hash)
    * ordering makes those prefixes the least-shared tokens in the
    * corpus. Candidates are then verified exactly against the full
    * per-doc gram sets. No false negatives (the prefix theorem), no
    * false positives (exact verification): output equals the full
    * inverted-index join the oracle runs, at a fraction of the pair
    * fan-out.
    *
    * Engine-exactness: the threshold is the RATIONAL 4/5 — membership
    * is 9·|A∩B| >= 4·(|A|+|B|), all-integer, and ceil(4n/5) is
    * (4n+4) div 5, so the prefix cut and the final filter have no
    * float boundary in either engine.
    *
    * Scale shape: gram df rides one (gh) aggregate; per-doc ordering
    * windows partition by doc; the candidate self-join fans out only
    * on shared PREFIX grams (rare by construction — a hot boilerplate
    * gram is never in a prefix unless a doc is mostly boilerplate);
    * verification joins the bounded candidate pair list against
    * doc-keyed gram arrays. Nothing all-pairs, nothing single-reducer.
    */
  def prefixJaccardJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = wordGramRows(spark, dir).select("doc_id", "gh").localCheckpoint()
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfTab = sh.groupBy("gh").agg(count(lit(1)).as("df"))
    val wdoc = Window.partitionBy("doc_id").orderBy(col("df"), col("gh"))
    val prefix = sh.join(dfTab, "gh")
      .withColumn("pos", row_number().over(wdoc))
      .join(sz, "doc_id")
      .filter(col("pos") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select("doc_id", "gh")
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val sets = sh.groupBy("doc_id")
      .agg(collect_set(col("gh")).as("gs"), count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("da"), col("gs").as("ga"),
        col("n").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("gs").as("gb"),
        col("n").as("nb")), "db")
      .withColumn("n_common", size(array_intersect(col("ga"), col("gb"))).cast("bigint"))
      .filter(col("n_common") * 9 >= (col("na") + col("nb")) * 4)
      .select(col("da"), col("db"), col("n_common"), col("na"), col("nb"),
        round(col("n_common").cast("double") /
              (col("na") + col("nb") - col("n_common")), 6).as("jaccard"))
      .orderBy("da", "db")
  }

  val WinnowK = 4  // winnowing gram size in tokens
  val WinnowW = 8  // winnowing window; detection guarantee = W + K - 1 tokens

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): over each document's k-token
    * gram-hash sequence, every window of [[WinnowW]] consecutive
    * grams selects its MINIMUM hash, ties broken by RIGHTMOST
    * position (the choice that maximizes selection reuse between
    * adjacent windows); the fingerprint set is the distinct selected
    * (hash, position) pairs. The property whole-document hashing
    * ([[docFingerprint]]) cannot give: any token run of at least
    * w + k - 1 tokens shared by two documents yields at least one
    * SHARED fingerprint, at an expected stored density of only
    * 2/(w+1) of the gram count. The reference's content-identity
    * check (`financial_engine.py:283-291` normalizes then compares
    * whole records) generalizes here to partial-overlap identity.
    *
    * Engine-exactness: the per-window argmin rides ONE BIGINT —
    * `gh * 2^21 + (2^21 - pos)` — so a plain `min()` resolves the
    * minimum hash AND the rightmost tie in a single order-independent
    * aggregate, and both engines decode (gh, pos) from the same
    * integer (PolyHash < 2^30, pos < 2^33: the pack tops out at
    * (10^9+6)*2^33 + 2^33 - 1 ~ 8.6e18, inside Long; 2^33 positions
    * covers ~8.6B tokens per document, far past any real web
    * document, where the earlier 2^21 pack silently corrupted past
    * ~2M tokens). Documents with fewer than w grams winnow their
    * single short window (pos = 1 survives the full-window filter).
    *
    * Scale shape: gram rows explode narrowly ([[spanGramRowsFrom]]),
    * the sliding min is a doc-partitioned window (parallel across
    * documents, never single-reducer), and only (doc_id, packed)
    * pairs at ~2/(w+1) density reach the distinct's exchange — the
    * text never leaves the scan stage.
    */
  def winnowSelectedFrom(docs: DataFrame, k: Int = WinnowK,
                         w: Int = WinnowW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = spanGramRowsFrom(docs, k) // (doc_id, pos, gh)
    val perDoc = Window.partitionBy("doc_id")
    val slide  = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, w - 1)
    grams
      .withColumn("ng", count(lit(1)).over(perDoc))
      .withColumn("packed",
        min(col("gh") * lit(1L << 33) + (lit(1L << 33) - col("pos")))
          .over(slide))
      .filter(col("pos") === 1 || col("pos") <= col("ng") - (w - 1))
      .select(col("doc_id"), col("ng"), col("packed"))
      .distinct()
      .select(col("doc_id"), col("ng"),
        expr(s"packed div ${1L << 33}").as("gh"),
        (lit(1L << 33) - expr(s"packed % ${1L << 33}")).as("pos"))
  }

  /** Per-document winnowing yield: gram count, selected-fingerprint
    * count, and measured density vs the full-window count (expected
    * ~2/(w+1); bounded in [1/w, 1] since each selection covers at
    * most w windows and every window selects).
    */
  def winnowStats(spark: SparkSession, dir: String): DataFrame =
    winnowSelectedFrom(Tables.documents(spark, dir))
      .groupBy(col("doc_id"), col("ng").as("n_grams"))
      .agg(count(lit(1)).as("n_fp"))
      .select(col("doc_id"), col("n_grams"), col("n_fp"),
        round(col("n_fp").cast("double") /
          greatest(col("n_grams") - (WinnowW - 1), lit(1)), 6).as("density"))
      .orderBy("doc_id")

  /** Document pairs sharing winnowed fingerprints — the partial-
    * overlap detector the fingerprint set exists for: a shared run of
    * >= w + k - 1 tokens is GUARANTEED to surface here, while the
    * join carries only the ~2/(w+1)-density selection, not the gram
    * table. Fingerprints selected in more than [[GramDFCap]]
    * documents (boilerplate) are dropped from pairing like every
    * other gram family here, bounding the self-join fan-out at
    * df-cap x selections — linear in corpus size.
    */
  /** Winnowing density sweep across window sizes w ∈ {4, 8, 16} —
    * the operating-point sweep of this family (the minhash-threshold /
    * substring-gram-size discipline applied to the winnowing window):
    * per w, the corpus-wide measured fingerprint density against the
    * paper's 2/(w+1) expectation. The trade the sweep prices: larger
    * w stores fewer fingerprints but guarantees detection only of
    * longer shared runs (w + k − 1 tokens). One row per w.
    *
    * Scale shape: three independent [[winnowSelectedFrom]] passes
    * (window sizes are not composable — each is an honest re-scan,
    * like [[substringSweep]]'s gram sizes), each collapsing to a
    * per-doc count then a 1-row corpus rollup.
    */
  def winnowSweep(spark: SparkSession, dir: String,
                  ws: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ws.map { w =>
      winnowSelectedFrom(docs, WinnowK, w)
        .groupBy("doc_id", "ng").agg(count(lit(1)).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("ng")).as("n_grams"),
             sum(col("fp")).as("n_fp"),
             sum(greatest(col("ng") - (w - 1), lit(1L))).as("n_windows"))
        .select(lit(w.toLong).as("w"), col("n_docs"), col("n_grams"),
          col("n_fp"),
          round(col("n_fp").cast("double") / col("n_windows"), 6)
            .as("density"),
          round(lit(2.0 / (w + 1)), 6).as("expected_density"))
    }.reduce(_ unionByName _).orderBy("w")
  }

  /** Corpus-wide audit of the winnowing detection GUARANTEE (the
    * Schleimer et al. theorem, measured in this repo's
    * "measure, don't claim" discipline): every document pair sharing
    * a token run of >= w + k - 1 tokens (equivalently, sharing at
    * least one (w+k-1)-token gram) must share at least one winnowed
    * fingerprint — the tie-break-consistency argument makes both
    * documents select the SAME gram of the shared window. Truth pairs
    * come from the exact (w+k-1)-gram equi-join ([[spanGramRowsFrom]]
    * — the substring family's own pairing unit); detection uses the
    * UNCAPPED fingerprint join (the df cap is a pairing-cost policy,
    * not part of the theorem). Output is one row:
    * (n_truth_pairs, n_detected, recall) with recall exactly 1.0 —
    * a measured theorem, not an asserted one.
    */
  def winnowGuaranteeAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = WinnowW + WinnowK - 1
    val docs = Tables.documents(spark, dir)
    val g = spanGramRowsFrom(docs, t).select("doc_id", "gh")
      .dropDuplicates("doc_id", "gh")
    val truth = g.as("a").join(g.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct().localCheckpoint()
    val sel = winnowSelectedFrom(docs).select("doc_id", "gh").distinct()
    val det = sel.as("a").join(sel.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val hit = truth.join(det, Seq("da", "db"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth_pairs"))
      .crossJoin(hit.agg(count(lit(1)).as("n_detected")))
      .select(col("n_truth_pairs"), col("n_detected"),
        round(col("n_detected").cast("double") /
              greatest(col("n_truth_pairs"), lit(1L)), 6).as("recall"))
  }

  def winnowOverlap(spark: SparkSession, dir: String,
                    minShared: Int = 2): DataFrame =
    winnowOverlapFromSelected(
      winnowSelectedFrom(Tables.documents(spark, dir)), minShared)

  /** The pairing step over ANY selected-fingerprint frame
    * `(doc_id, gh, ...)` — the seam [[graft.streaming.StreamingWinnow]]
    * uses to serve the overlap report from its streamed index with the
    * batch operator's exact df-cap and threshold semantics.
    */
  def winnowOverlapFromSelected(selected: DataFrame,
                                minShared: Int = 2): DataFrame = {
    val sel = selected.select("doc_id", "gh").distinct().localCheckpoint()
    val rare = sel.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= GramDFCap).select("gh")
    val kept = sel.join(rare, "gh")
    kept.as("a").join(kept.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }
}
