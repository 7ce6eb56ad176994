package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-dedup over a document STREAM — the reference's
  * incremental-push semantics (financial_engine.py:329-433 keeps state
  * across polls and emits only what each poll adds) generalized to the
  * dedup product: a durable survivor store grows by exactly the new
  * content hashes each micro-batch contributes, so after any prefix of
  * the stream the store equals the batch [[graft.operators.Dedup.exactDedup]]
  * pass over the documents seen so far (first-arrival survivor; feeding
  * in doc_id order makes it equal to the batch pass's min-doc_id
  * survivor, asserted stream==batch in StreamingSpec).
  *
  * Scale shape: the store carries ONE row per distinct content hash
  * (16-byte md5 + keep_id) — state is bounded by corpus distinctness,
  * not stream length, and lives on storage, not in executor state
  * (zero mapGroupsWithState state to evict or recover). Each batch
  * does one anti-join of its (tiny, pre-aggregated) hash set against
  * the store; at 100 TB the store is a hash-bucketed table so that
  * join is co-located, and the pattern is the standard idempotent
  * foreachBatch upsert.
  *
  * Exactly-once: [[StoreIO]]'s contract ([[survivorSink]] is
  * idempotent per (batch, id), unit-tested by calling it twice).
  */
object StreamingDedup {

  private val StoreSchema = "content_hash STRING, keep_id BIGINT, batch_id BIGINT"

  /** The survivor store as a DataFrame (empty-with-schema before the
    * first batch commits).
    */
  def readStore(spark: SparkSession, storePath: String): DataFrame =
    StoreIO.readOrEmpty(spark, storePath, StoreSchema)

  /** foreachBatch body: fold one micro-batch of `(doc_id, text, ...)`
    * rows into the survivor store at `storePath`. Within-batch dups
    * collapse in the pre-aggregation (min doc_id per hash — the batch
    * operator's survivor rule); cross-batch dups drop in the anti-join
    * against the store (first-arrival wins, the incremental-crawl
    * semantics).
    */
  def survivorSink(storePath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val batchSurv = batch
        .groupBy(md5(encode(col("text"), "UTF-8")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"))
      val seen = StoreIO.readOthers(spark, storePath, StoreSchema, batchId)
        .select("content_hash")
      StoreIO.writeBatch(batchSurv.join(seen, Seq("content_hash"), "left_anti"), batchId, storePath)
  }

  /** Current survivors `(content_hash, keep_id)`, the streaming analog
    * of [[graft.operators.Dedup.exactDedup]]'s keep set.
    */
  def survivors(spark: SparkSession, storePath: String): DataFrame =
    readStore(spark, storePath).select("content_hash", "keep_id")
}
