package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming language-ID over a PUBLISHED trigram profile — the
  * ingest twin of [[TextAnalysis.langIdNgram]]'s scoring phase, and
  * the deployment shape of every profile classifier: train once on a
  * labeled corpus ([[TextAnalysis.langIdProfile]]), publish the
  * langs x profileK model as an artifact, then classify every
  * arriving document against the FROZEN model
  * ([[TextAnalysis.langIdPredict]] — the same code path batch uses,
  * so stream and batch cannot drift).
  *
  * Stream==batch: per-document scoring is independent of batching
  * (each doc's vote reads only its own trigrams plus the frozen
  * profile), so the streamed prediction set over ANY split equals the
  * batch predictions, in any arrival order — asserted in
  * StreamingSpec, along with replay idempotence.
  *
  * Scale shape: the model is langs x profileK rows — it broadcasts
  * into every micro-batch's scoring join, the batch's trigram explode
  * never shuffles for it, and there is ZERO cross-batch state: this
  * is the one twin whose store is pure output. Exactly-once:
  * [[StoreIO]]'s contract.
  */
object StreamingLangId {

  private val PredSchema = "doc_id BIGINT, lang_pred STRING, batch_id BIGINT"

  private def read(spark: SparkSession, path: String, schema: String): DataFrame =
    StoreIO.readOrEmpty(spark, path, schema)

  /** Train on the labeled corpus at `dir` and publish the model. */
  def publishProfile(spark: SparkSession, dir: String, profilePath: String,
                     profileK: Int = 40): Unit =
    TextAnalysis.langIdProfile(spark, dir, profileK)
      .write.mode("overwrite").parquet(profilePath)

  def readProfile(spark: SparkSession, profilePath: String): DataFrame =
    spark.read.schema("plang STRING, tok STRING").parquet(profilePath)

  /** foreachBatch body: classify one micro-batch of
    * `(doc_id, text, ...)` rows against the published profile.
    */
  def predSink(profilePath: String, predsPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      StoreIO.writeBatch(TextAnalysis.langIdPredict(batch, readProfile(spark, profilePath)),
        batchId, predsPath)
      ()
  }

  /** All predictions so far `(doc_id, lang_pred)` — dropDuplicates
    * because a cross-batch resend re-classifies (identically: the
    * model is frozen) into a second batch partition.
    */
  def readPreds(spark: SparkSession, predsPath: String): DataFrame =
    read(spark, predsPath, PredSchema).dropDuplicates("doc_id")
      .select("doc_id", "lang_pred")
}
