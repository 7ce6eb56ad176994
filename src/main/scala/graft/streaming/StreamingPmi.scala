package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Incremental collocation (PMI) scoring over a document stream — the
  * ingest twin of [[TextAnalysis.tokenPmi]]: each micro-batch counts
  * its adjacent bigrams and unigrams with the batch tokenization seam
  * ([[TextAnalysis.bigramRowsFrom]]/[[TextAnalysis.unigramRowsFrom]])
  * and appends the per-batch counts to durable stores; PMI is served
  * from the summed stores by the batch scoring seam
  * ([[TextAnalysis.tokenPmiFromCounts]] — one code path end to end).
  *
  * Stream==batch is STRUCTURAL here: bigram and unigram counts are
  * additive across any batch split of a corpus, so the summed stores
  * equal the batch counts exactly and the served PMI table is
  * bit-identical to the batch query's (asserted, with replay, in
  * PmiSpec). This is the cleanest member of the twin family — no
  * retroactivity, no ordering contract, no state beyond the counts.
  *
  * Scale shape: per-batch counts are map-side-combined aggregates of
  * the batch only; stores grow with VOCABULARY (vocab² bigrams,
  * vocab unigrams), not stream length (exactly-once: [[StoreIO]]'s
  * contract); the serve-side re-sum is a vocabulary-bounded aggregate.
  */
object StreamingPmi {

  private val BigramSchema  = "a STRING, b STRING, c_ab BIGINT, batch_id BIGINT"
  private val UnigramSchema = "tok STRING, c BIGINT, batch_id BIGINT"

  /** foreachBatch body: fold one micro-batch of `(text, ...)` rows
    * into the bigram/unigram count stores.
    */
  def countsSink(bigPath: String, uniPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(TextAnalysis.bigramRowsFrom(batch)
          .groupBy("a", "b").agg(count(lit(1)).as("c_ab")),
        batchId, bigPath)
      StoreIO.writeBatch(TextAnalysis.unigramRowsFrom(batch)
          .groupBy("tok").agg(count(lit(1)).as("c")),
        batchId, uniPath)
      ()
  }

  /** Batch [[TextAnalysis.tokenPmi]], served from the streamed count
    * stores.
    */
  def pmi(spark: SparkSession, bigPath: String, uniPath: String,
          minCount: Long = 5): DataFrame =
    TextAnalysis.tokenPmiFromCounts(
      StoreIO.readOrEmpty(spark, bigPath, BigramSchema)
        .groupBy("a", "b").agg(sum(col("c_ab")).as("c_ab")),
      StoreIO.readOrEmpty(spark, uniPath, UnigramSchema)
        .groupBy("tok").agg(sum(col("c")).as("c")),
      minCount)
}
