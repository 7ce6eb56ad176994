package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Finance

/** Streaming twins of [[graft.operators.Finance.ohlcBars]] and
  * [[graft.operators.Finance.vwap]]: daily bars as watermarked
  * event-time tumbling-window aggregations. Each twin runs the SAME
  * aggregate list as its batch form ([[Finance.ohlcAggs]],
  * [[Finance.vwapAggs]]) — open/close by min_by/max_by over the total
  * tick order (ts_epoch, id) — and differs only in its day key:
  * `window(ts, '1 day')` here, `to_date(ts)` in batch. The window
  * buckets by UTC epoch day while `to_date` uses the session zone, so
  * stream == batch holds only under a UTC session zone (FinanceSpec
  * pins the difference). StreamingSpec asserts that streamed bars
  * equal these bars on identical rows under out-of-order delivery.
  *
  * Scale: state is one (symbol, day) buffer of six scalars —
  * candlesticks, not ticks — hash-partitioned and evicted when the
  * watermark passes the day boundary.
  */
object StreamingOhlc {

  /** `aggs` per (symbol, UTC day window), the window replaced by its
    * start date `day` in place. */
  private def perUtcDay(quotes: DataFrame, aggs: Seq[Column]): DataFrame =
    quotes
      .groupBy(col("symbol"), window(col("ts"), "1 day"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window", to_date(col("window.start")))
      .withColumnRenamed("window", "day")

  /** The shared aggregation — legal on a static frame AND on a
    * watermarked stream (the `quotes` frame must carry symbol, price,
    * volume, ts, ts_epoch, id).
    */
  def bars(quotes: DataFrame): DataFrame = perUtcDay(quotes, Finance.ohlcAggs)

  /** The streaming form: 1-hour watermark bounds how late a tick may
    * arrive and still amend its bar; state for closed days evicts.
    */
  def streamingBars(quotes: DataFrame, lateness: String = "1 hour"): DataFrame =
    bars(quotes.withWatermark("ts", lateness))

  /** VWAP twin — legal on static frames and watermarked streams alike
    * (order-free state: two sums and a count per (symbol, day), so
    * out-of-order arrival needs no sequencing contract at all).
    */
  def vwapBars(quotes: DataFrame): DataFrame =
    Finance.vwapFromSums(perUtcDay(quotes, Finance.vwapAggs))

  def streamingVwap(quotes: DataFrame, lateness: String = "1 hour"): DataFrame =
    vwapBars(quotes.withWatermark("ts", lateness))
}
