package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental exact-substring dedup over a document stream — the
  * ingest twin of [[Dedup.substringDedup]] (ExactSubstr family): each
  * micro-batch grams its documents with the exact batch arithmetic
  * ([[Dedup.spanGramRowsFrom]] — same 8-token unit, same PolyHash),
  * probes a durable gram INDEX for cross-document matches, emits the
  * newly-duplicated positions — for the arriving documents AND
  * retroactively for already-indexed ones (duplication is mutual: the
  * first copy of a boilerplate block becomes duplicated the moment the
  * second copy arrives) — then appends the batch's grams to the index.
  *
  * Stream==batch: the distinct emitted `(doc_id, pos)` set over ANY
  * batch split of a corpus equals the batch pipeline's duplicated-
  * position set, because a position is duplicated iff some OTHER doc
  * shares its gram, and whichever member of such a pair arrives later
  * emits both sides in its batch. [[report]] then applies the SAME
  * gaps-and-islands arithmetic as batch ([[Dedup.spanReport]] — one
  * code path, stream and batch cannot drift). Asserted in
  * StreamingSpec under out-of-order splits and replay.
  *
  * Scale shape: the index carries one `(doc_id, pos, gh)` row per
  * corpus token — 20 bytes on storage, ZERO executor state (the
  * compression to positions+hashes IS the state bound; text never
  * lands in the store). Every per-batch join is first scoped to the
  * batch's gram hashes (the `bStats` equi-join), so the index probe
  * reads only matching ghs — at 100 TB the index would be bucketed on
  * gh and this probe becomes a bucket-pruned join; nothing scans the
  * corpus-so-far per batch except that hash-keyed probe. Retroactive
  * emission is bounded by the already-emitted store: positions known
  * duplicated are anti-joined out, so a gram going from 2 to k copies
  * re-emits nothing for the first 2. Exactly-once: the index, the hit
  * store and the anti-join follow [[StoreIO]]'s contract.
  */
object StreamingSubstring {

  private val IndexSchema = "doc_id BIGINT, pos INT, gh BIGINT, batch_id BIGINT"
  private val HitSchema   = "doc_id BIGINT, pos INT, batch_id BIGINT"

  private def read(spark: SparkSession, path: String, schema: String): DataFrame =
    StoreIO.readOrEmpty(spark, path, schema)

  /** The gram index `(doc_id, pos, gh)` of every document seen so far. */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    read(spark, indexPath, IndexSchema).select("doc_id", "pos", "gh")

  /** Distinct duplicated positions discovered so far `(doc_id, pos)`.
    * dropDuplicates because a cross-batch resend of a document may
    * re-emit its (true) hits into a second batch partition.
    */
  def readHits(spark: SparkSession, hitsPath: String): DataFrame =
    read(spark, hitsPath, HitSchema).dropDuplicates("doc_id", "pos")
      .select("doc_id", "pos")

  /** foreachBatch body: gram one micro-batch of `(doc_id, text, ...)`
    * rows, emit newly-duplicated positions (batch-side and retroactive
    * index-side), and fold the batch's grams into the index.
    */
  def hitSink(indexPath: String, hitsPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val (grams, gramIds) = graft.Caches.trackedCheckpoint(
        Dedup.spanGramRowsFrom(batch))
      // per-batch gram reach: distinct docs per gh, plus one witness
      // doc id to decide "a doc OTHER than mine shares this gram"
      // without a pair join (nd >= 2 means a second doc always exists)
      val bStats = grams.select("gh", "doc_id").distinct()
        .groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd_b"), min(col("doc_id")).as("b_one"))
      val index = StoreIO.readOthers(spark, indexPath, IndexSchema, batchId)
        .select("doc_id", "pos", "gh")
      // index probe scoped to the batch's ghs BEFORE any aggregation:
      // only matching index rows are read/aggregated
      val idxRel = index.join(bStats.select("gh"), Seq("gh"))
      val iStats = idxRel.select("gh", "doc_id").distinct()
        .groupBy("gh")
        .agg(countDistinct(col("doc_id")).as("nd_i"), min(col("doc_id")).as("i_one"))
      // batch-side hits: a within-batch second doc, or any index doc
      // other than the position's own (covers the resent-doc case:
      // a doc matching only ITSELF in the index is not duplicated)
      val batchHits = grams
        .join(bStats, Seq("gh"))
        .join(iStats, Seq("gh"), "left")
        .filter(col("nd_b") >= 2 ||
          (col("nd_i").isNotNull &&
           (col("nd_i") >= 2 || col("i_one") =!= col("doc_id"))))
        .select("doc_id", "pos")
      // retroactive hits for indexed docs, minus positions already
      // known duplicated (bounds re-emission)
      val known = StoreIO.readOthers(spark, hitsPath, HitSchema, batchId)
        .select("doc_id", "pos")
      val retroHits = idxRel
        .join(bStats, Seq("gh"))
        .filter(col("nd_b") >= 2 || col("b_one") =!= col("doc_id"))
        .select("doc_id", "pos")
        .join(known, Seq("doc_id", "pos"), "left_anti")
      StoreIO.writeBatch(batchHits.union(retroHits).distinct(), batchId, hitsPath)
      StoreIO.writeBatch(grams, batchId, indexPath)
      graft.Caches.release(spark, gramIds)
      ()
  }

  /** The per-document duplicated-span report over everything streamed
    * so far — batch [[Dedup.substringDedup]]'s output, from the stores
    * alone: totals come from the gram index (`max(pos) + N - 1` IS the
    * token count for any grammed doc), spans from the shared
    * [[Dedup.spanReport]] arithmetic.
    */
  def report(spark: SparkSession, indexPath: String, hitsPath: String): DataFrame = {
    val totals = readIndex(spark, indexPath)
      .groupBy("doc_id")
      .agg((max(col("pos")) + (Dedup.SpanGramN - 1)).cast("long").as("total_tokens"))
    Dedup.spanReport(readHits(spark, hitsPath), totals)
  }
}
