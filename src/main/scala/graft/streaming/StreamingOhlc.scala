package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Finance

/** Streaming twin of [[graft.operators.Finance.ohlcBars]]: daily OHLC
  * candlesticks as a watermarked event-time tumbling-window
  * aggregation. Batch picks open/close with two row_numbers (one
  * exchange, reused by the groupBy); a streaming window cannot rank,
  * so the twin picks them with min_by/max_by over the SAME total tick
  * order (ts_epoch, id) — StreamingSpec asserts the two formulations
  * are equal on the real corpus, and that streamed bars equal batch
  * bars on identical rows under out-of-order delivery.
  *
  * Scale: state is one (symbol, day) buffer of six scalars —
  * candlesticks, not ticks — hash-partitioned and evicted when the
  * watermark passes the day boundary.
  */
object StreamingOhlc {

  /** The shared aggregation — legal on a static frame AND on a
    * watermarked stream (the `quotes` frame must carry symbol, price,
    * volume, ts, ts_epoch, id).
    */
  def bars(quotes: DataFrame): DataFrame =
    quotes
      .groupBy(col("symbol"), window(col("ts"), "1 day"))
      .agg(
        min_by(col("price"), struct(col("ts_epoch"), col("id"))).as("open_price"),
        max(col("price")).as("high_price"),
        min(col("price")).as("low_price"),
        max_by(col("price"), struct(col("ts_epoch"), col("id"))).as("close_price"),
        sum(col("volume")).as("bar_volume"),
        count(lit(1)).as("n_ticks"))
      .select(col("symbol"), to_date(col("window.start")).as("day"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("bar_volume"), col("n_ticks"))

  /** The streaming form: 1-hour watermark bounds how late a tick may
    * arrive and still amend its bar; state for closed days evicts.
    */
  def streamingBars(quotes: DataFrame, lateness: String = "1 hour"): DataFrame =
    bars(quotes.withWatermark("ts", lateness))

  /** VWAP twin of [[graft.operators.Finance.vwap]] — the same
    * exact-decimal price·volume sums as a windowed aggregation, legal
    * on static frames and watermarked streams alike (order-free state:
    * two decimal sums and a count per (symbol, day), so out-of-order
    * arrival needs no sequencing contract at all).
    */
  def vwapBars(quotes: DataFrame): DataFrame =
    quotes
      .groupBy(col("symbol"), window(col("ts"), "1 day"))
      .agg(
        sum(col("price").cast("decimal(18,6)") * col("volume").cast("decimal(18,6)"))
          .as("pv"),
        sum(col("volume")).as("day_volume"),
        count(lit(1)).as("n_ticks"))
      .filter(col("day_volume") > 0)
      .select(col("symbol"), to_date(col("window.start")).as("day"),
        Finance.vwapOf(col("pv"), col("day_volume")).as("vwap"),
        col("day_volume"), col("n_ticks"))

  def streamingVwap(quotes: DataFrame, lateness: String = "1 hour"): DataFrame =
    vwapBars(quotes.withWatermark("ts", lateness))
}
