package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental winnowing-fingerprint index over a document stream —
  * the ingest twin of [[Dedup.winnowStats]]/[[Dedup.winnowOverlap]]:
  * each micro-batch winnows its documents with the exact batch
  * selection ([[Dedup.winnowSelectedFrom]] — same k-gram unit, same
  * window, same packed rightmost tie-break) and appends the selected
  * `(doc_id, gh)` fingerprints to a durable index; the partial-overlap
  * report is then served from the index by the SAME pairing code batch
  * uses ([[Dedup.winnowOverlapFromSelected]] — one code path, stream
  * and batch cannot drift).
  *
  * Stream==batch: selection is per-document and deterministic, so the
  * index over ANY batch split of a corpus equals the batch selection
  * over the union — unlike the substring twin, no retroactive emission
  * is needed (duplication there is a cross-document property
  * discovered late; here the cross-document step happens at SERVE time
  * over the full index, so late arrivals change nothing already
  * stored). Exactly-once: [[StoreIO]]'s contract.
  *
  * Scale shape: the index stores ~2/(w+1) of the corpus gram count as
  * 16-byte `(doc_id, gh)` rows — bounded by the winnowing density
  * theorem, not stream length — with ZERO executor state; the
  * serve-side pairing is the batch operator's df-capped equi-join
  * over the store (at 100 TB: gh-bucketed, bucket-pruned).
  */
object StreamingWinnow {

  private val IndexSchema = "doc_id BIGINT, gh BIGINT, batch_id BIGINT"

  /** Distinct selected fingerprints of every document seen so far.
    * dropDuplicates because a cross-batch resend of a document lands
    * its (identical) selection in a second batch partition.
    */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, indexPath, IndexSchema)
      .dropDuplicates("doc_id", "gh").select("doc_id", "gh")

  /** foreachBatch body: winnow one micro-batch of `(doc_id, text, ...)`
    * rows into the fingerprint index at `indexPath`.
    */
  def indexSink(indexPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(Dedup.winnowSelectedFrom(batch).select("doc_id", "gh").distinct(),
        batchId, indexPath)
      ()
  }

  /** Batch [[Dedup.winnowOverlap]], served from the streamed index. */
  def overlap(spark: SparkSession, indexPath: String,
              minShared: Int = 2): DataFrame =
    Dedup.winnowOverlapFromSelected(readIndex(spark, indexPath), minShared)
}
