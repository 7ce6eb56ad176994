package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming formulation of the reference hot path — the reference IS a
  * streaming engine (record-at-a-time asyncio push loop,
  * financial_engine.py:358-377), so batch window functions alone are
  * not parity. Count-based per-key sliding windows are NOT expressible
  * with `groupBy(window(...))` (that is time-based); the per-key
  * deque (`financial_engine.py:298,304-307`) maps to the shared
  * [[KeyedScan]] holding the last n prices per key.
  */
object StreamingSma {

  /** One normalized tick (unified record schema, financial_engine.py:186-194).
    * `id` is the arrival sequence — ordering within a micro-batch is
    * restored by sorting on it, mirroring the deterministic batch
    * formulation (Window.orderBy(id)).
    *
    * CONTRACT: ids must sort lexicographically in arrival order —
    * fixed-width / zero-padded (what `Sources.normalizeRate` emits).
    * An unpadded numeric suffix ("ws_10" < "ws_2") would silently
    * reorder SMA windows once a batch crosses a digit-length boundary.
    */
  final case class Tick(id: String, symbol: String, price: Double)

  /** Per-key ring of the most recent prices (deque(maxlen=n)). */
  final case class SmaState(prices: List[Double])

  final case class SmaOut(id: String, symbol: String, price: Double,
                          moving_average: Option[Double])

  /** Emits every tick, with `moving_average` set only once the key has
    * seen >= n prices (warm-up gate, financial_engine.py:308-310) —
    * identical semantics to the batch `RefPipeline.movingAverage`
    * (stream/batch consistency is asserted in StreamingSpec).
    */
  def withMovingAverage(ticks: Dataset[Tick], n: Int): Dataset[SmaOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, _.id, SmaState(Nil)) { (st, t) =>
      val buf = (st.prices :+ t.price).takeRight(n)
      (SmaState(buf), Some(SmaOut(t.id, t.symbol, t.price,
        if (buf.size == n) Some(KeyedScan.round6(buf.sum / n)) else None)))
    }
  }

  /** Time-windowed variant (SURVEY §2.8): hourly tumbling counts with
    * a watermark bounding state for late data — the semantics the
    * reference cannot express at all (ingestion-time only,
    * financial_engine.py:191). Batch twin: Analytics.hourlyEventAgg.
    */
  def hourlyCounts(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Streaming twin of the batch gaps-and-islands `Analytics.sessionize`:
    * `session_window(ts, gap)` merges a user's events into one session
    * while each arrives within `gap` of the previous, with the
    * watermark closing (and bounding the state of) sessions once event
    * time passes end + lateness. Boundaries match the batch form
    * except when an inter-event gap equals `gap` exactly: session
    * windows are right-open ([first, last + gap)), so they split at
    * >= gap where the batch form splits at > gap. StreamingSpec
    * asserts stream == batch on a replayed sequence.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("sum_value"))
}
