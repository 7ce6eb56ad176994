package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Incremental tokenizer SERVING over a document stream — the
  * tokenizer-lifecycle mirror of [[StreamingPqEncode]]'s vector-store
  * ingest: the batch trainer runs ONCE and publishes its artifact
  * (the `(word, n_pieces)` Viterbi segmentation table —
  * [[TextAnalysis.unigramFit]]'s serve-side output), and every
  * arriving micro-batch of documents is scored against that FIXED
  * table and appended to a per-doc count store. Per-doc counts are
  * per-document facts computed against published artifacts — no
  * cross-batch state — so the union of per-batch rows over ANY split
  * equals the batch [[TextAnalysis.unigramTokenCounts]] exactly
  * (stream==batch asserted in StreamingSpec; the rollup is shared
  * code, [[TextAnalysis.unigramCountsUnder]], not a
  * reimplementation).
  *
  * Scale shape: the published table is VOCABULARY-sized (AQE sizes
  * the join — the vocabulary of a 100 TB corpus is itself large
  * enough that a hard broadcast hint would be wrong, the
  * bpeTokenCounts rule); each batch contributes one 3-long row per
  * document. Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingUnigramCounts {

  private val StoreSchema =
    "doc_id BIGINT, n_tokens BIGINT, n_unigram_tokens BIGINT, batch_id BIGINT"

  /** Batch-train the unigram tokenizer on `dir` ONCE and publish the
    * serve artifact (the word -> piece-count segmentation table).
    */
  def publishModel(spark: SparkSession, dir: String, modelPath: String): Unit =
    TextAnalysis.unigramFit(graft.Tables.documents(spark, dir))
      .segs.select(col("word"), col("n_pieces"))
      .write.mode("overwrite").parquet(modelPath)

  /** foreachBatch body: score one micro-batch of `(doc_id, text, ...)`
    * rows against the published segmentation table and append the
    * per-doc counts.
    */
  def countSink(modelPath: String, storePath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val wl = batch.sparkSession.read.parquet(modelPath)
      StoreIO.writeBatch(TextAnalysis.unigramCountsUnder(batch, wl), batchId, storePath)
      ()
  }

  /** All per-doc counts served so far — identical columns and values
    * to the batch [[TextAnalysis.unigramTokenCounts]] over the same
    * documents.
    */
  def readCounts(spark: SparkSession, storePath: String): DataFrame =
    StoreIO.readOrEmpty(spark, storePath, StoreSchema)
      .select("doc_id", "n_tokens", "n_unigram_tokens")
      .orderBy("doc_id")
}
