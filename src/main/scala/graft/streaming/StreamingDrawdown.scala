package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.operators.Finance.maxDrawdown]] — the
  * live risk monitor: per-symbol state is the single running peak, and
  * every tick emits its drawdown off that peak with the SAME
  * arithmetic the batch cumulative-max window uses, so streamed
  * drawdowns aggregate to the batch per-symbol maxima exactly
  * (StreamingSpec pins it on the real corpus).
  *
  * Ordering contract: the running peak is SEQUENTIAL state — within a
  * micro-batch rows sort by (ts, id) (the batch window's exact tick
  * order); cross-batch parity needs event-time-ordered feeding, the
  * same honest contract as [[StreamingEma]]. Non-positive prices are
  * skipped exactly as batch filters them.
  *
  * Scale: one double per live symbol key in the state store.
  */
object StreamingDrawdown {

  final case class Tick(symbol: String, id: Long,
                        ts: java.sql.Timestamp, price: Double)

  final case class PeakState(peak: Double)

  final case class DdOut(symbol: String, id: Long, price: Double,
                         peak: Double, dd: Double)

  def withDrawdown(ticks: Dataset[Tick]): Dataset[DdOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, t => (t.ts.getTime, t.id),
        PeakState(0.0)) { (st, t) =>
      if (t.price > 0) {
        val peak = math.max(st.peak, t.price)
        (PeakState(peak), Some(DdOut(t.symbol, t.id, t.price, peak, (peak - t.price) / peak)))
      } else (st, None)
    }
  }
}
