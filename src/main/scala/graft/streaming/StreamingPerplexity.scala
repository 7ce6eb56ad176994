package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming perplexity scoring over a PUBLISHED bigram LM — the
  * ingest twin of [[TextAnalysis.bigramScore]], and the deployment
  * shape of CCNet-style quality filtering: train the LM once on a
  * curated corpus ([[TextAnalysis.bigramModel]]), publish the
  * vocabulary-sized artifact, then score every arriving document
  * against the FROZEN model with the SAME code path batch uses, so
  * stream and batch cannot drift. The model's `ctx`/`und` fallback
  * rows are what make the frozen deployment total: arriving text the
  * model never saw is charged the add-1 unseen mass instead of
  * dropping positions.
  *
  * Stream==batch: per-document scoring reads only the doc's own
  * bigrams plus the frozen model, so the streamed score set over ANY
  * split equals the batch scores, in any arrival order — asserted in
  * StreamingSpec along with replay idempotence.
  *
  * Scale shape: zero cross-batch state (the [[StreamingLangId]]
  * class of twin — the store is pure output); the seen-bigram side of
  * the model is vocabulary-sized and AQE-sizes its scoring join.
  * Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingPerplexity {

  private val ScoreSchema =
    "doc_id BIGINT, n_scored BIGINT, n_unseen BIGINT, avg_nll DOUBLE, ppl DOUBLE, batch_id BIGINT"

  /** Train on the corpus at `dir` and publish the model artifact. */
  def publishModel(spark: SparkSession, dir: String, modelPath: String): Unit =
    TextAnalysis.bigramModel(spark, dir)
      .write.mode("overwrite").parquet(modelPath)

  def readModel(spark: SparkSession, modelPath: String): DataFrame =
    spark.read
      .schema("kind STRING, prev STRING, cur STRING, nll DECIMAL(18,6)")
      .parquet(modelPath)

  /** foreachBatch body: score one micro-batch of `(doc_id, text, ...)`
    * rows against the published model.
    */
  def scoreSink(modelPath: String, scoresPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      StoreIO.writeBatch(TextAnalysis.bigramScore(batch, readModel(spark, modelPath)),
        batchId, scoresPath)
      ()
  }

  /** All scores so far — dropDuplicates because a cross-batch resend
    * re-scores (identically: the model is frozen) into a second batch
    * partition.
    */
  def readScores(spark: SparkSession, scoresPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, scoresPath, ScoreSchema)
      .dropDuplicates("doc_id")
      .select("doc_id", "n_scored", "n_unseen", "avg_nll", "ppl")
}
