package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Streaming cohort-retention ingest — the product-analytics family's
  * twin: each micro-batch of events contributes its distinct
  * `(user_id, day_s)` activity pairs to a durable grid store, and the
  * served matrix runs the SAME [[Analytics.retentionFrom]] arithmetic
  * batch uses over the deduplicated grid, so stream and batch cannot
  * drift. The grid is distinct-additive state: day buckets only ever
  * gain members, first-seen cohorts only ever move EARLIER as late
  * (out-of-order) history arrives — which is why the serve step
  * recomputes cohorts from the full grid instead of freezing them at
  * first sight (a frozen cohort assignment is wrong the moment an
  * older event for the same user arrives; asserted under out-of-order
  * splits in StreamingSpec).
  *
  * Exactly-once: [[StoreIO]]'s contract; cross-batch duplicates (the same user active on the
  * same day in two batches) are collapsed by the serve-side distinct,
  * so replay and re-activity are both harmless.
  *
  * Scale shape: the sink's work per batch is one narrow projection +
  * distinct; the store carries (user, day) pairs — bounded by users x
  * days regardless of event volume; the served matrix is
  * [[Analytics.cohortRetention]]'s shape (user-count rollups, days²
  * output).
  */
object StreamingRetention {

  private val GridSchema = "user_id BIGINT, day_s BIGINT, batch_id BIGINT"

  /** foreachBatch body: append this batch's distinct activity pairs. */
  def gridSink(gridPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .select(col("user_id"),
            date_trunc("day", col("ts")).cast("long").as("day_s"))
          .distinct(),
        batchId, gridPath)
      ()
  }

  /** The deduplicated activity grid accumulated so far. */
  def readGrid(spark: SparkSession, gridPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, gridPath, GridSchema)
      .select("user_id", "day_s").distinct()

  /** The retention matrix served from the streamed grid — same
    * arithmetic as the batch operator, by construction.
    */
  def matrix(spark: SparkSession, gridPath: String): DataFrame =
    Analytics.retentionFrom(readGrid(spark, gridPath).localCheckpoint())
}
