package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Finance.vpin]] — the live
  * flow-toxicity monitor.
  *
  * VPIN's per-tick classification (`d = m − lag(m)`) and the
  * equal-volume bucket cut (`bucket = cum_av div V`) are both
  * functions of the FULL tick order, so no calendar-bounded additive
  * partial can finish them: the sufficient statistic is the compacted
  * tick set itself. Each micro-batch appends its ticks
  * `(symbol, ts_epoch, id, price, volume)` to a durable store keyed by
  * the tick's total-order identity; the fold dedups on that key (so
  * out-of-order splits, overlapping redeliveries, and partition
  * replays all collapse to the same tick set) and the batch operator
  * ([[graft.operators.Finance.vpinFromQuotes]]) finishes it — the
  * cumsum bucket boundaries are recomputed from the folded store, so
  * stream==batch is shared code (the Kendall/OHLC store discipline
  * applied to an order-dependent cumsum fold).
  *
  * Scale: the store is the (columnar, compacted) quote stream itself —
  * the same retention a desk already keeps for tick-level analytics;
  * the fold is one (symbol, ts_epoch, id) hash-agg and the finish is
  * two (symbol) windows + a (symbol, bucket) hash-agg, identical to
  * the batch plan.
  */
object StreamingVpin {

  private val TickSchema =
    "symbol STRING, ts_epoch BIGINT, id BIGINT, price DOUBLE, " +
      "volume BIGINT, batch_id BIGINT"

  /** foreachBatch body: append one micro-batch of quote ticks into the
    * compacted tick store ([[StoreIO]]'s exactly-once contract);
    * cross-batch duplicates are folded away at read time
    * by the (symbol, ts_epoch, id) identity dedup.
    */
  def tickSink(storePath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .select(col("symbol"), col("ts_epoch"), col("id"),
            col("price"), col("volume")),
        batchId, storePath)
      ()
  }

  /** Per-symbol VPIN over everything streamed — identical to
    * [[graft.operators.Finance.vpin]] over the same ticks. */
  def vpin(spark: SparkSession, storePath: String,
           bucketVol: Long = 500L): DataFrame =
    graft.operators.Finance.vpinFromQuotes(
      StoreIO.readOrEmpty(spark, storePath, TickSchema)
        .groupBy("symbol", "ts_epoch", "id")
        .agg(max(col("price")).as("price"), max(col("volume")).as("volume")),
      bucketVol)
}
