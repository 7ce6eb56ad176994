package graft.streaming

import org.apache.spark.sql.Dataset

import graft.operators.Analytics

/** Streaming twin of [[Analytics.emaPerUser]] — the 16-tap truncated
  * EMA (α = 1/2) as per-key streaming state: a ring of the most
  * recent [[Analytics.EmaTaps]] integer-cent values per user
  * ([[StreamingSma]]'s deque shape), each arriving event emitting the
  * SAME exact integer arithmetic batch uses (numerator and
  * denominator are BIGINT sums of power-of-two-weighted cents, one
  * final double division) — so streamed and batch smoothing agree to
  * the last bit, asserted in StreamingSpec over in-order splits.
  *
  * Ordering contract: EMA is SEQUENTIAL state — within a micro-batch
  * rows sort by (ts, event_id) (the batch window's exact ordering),
  * but a late event from before already-consumed history would need
  * retraction; feed event-time-ordered input (or front a watermarked
  * sort) for cross-batch parity. This is the honest statement of what
  * recursive smoothing needs that the order-free twins (counters,
  * grids, survivor stores) do not.
  *
  * Scale: state is one 16-long ring per live user key,
  * hash-partitioned across executors and checkpointed in the state
  * store.
  */
object StreamingEma {

  final case class Ev(user_id: Long, event_id: Long,
                      ts: java.sql.Timestamp, value: Double)

  /** Ring of the most recent cents, oldest first, max EmaTaps. */
  final case class EmaState(cents: List[Long])

  final case class EmaOut(user_id: Long, event_id: Long,
                          value: Double, ema: Double)

  def withEma(events: Dataset[Ev]): Dataset[EmaOut] = {
    import events.sparkSession.implicits._
    val taps = Analytics.EmaTaps
    KeyedScan.scan(events)(_.user_id, e => (e.ts.getTime, e.event_id),
        EmaState(Nil)) { (st, e) =>
      val buf = (st.cents :+ KeyedScan.cents(e.value)).takeRight(taps)
      val m = buf.size
      // age a = 0 is the newest element: weight 2^(taps-1-a)
      val num = buf.zipWithIndex
        .map { case (c, i) => c << (taps - 1 - (m - 1 - i)) }.sum
      val den = (0 until m).map(a => 1L << (taps - 1 - a)).sum
      (EmaState(buf), Some(EmaOut(e.user_id, e.event_id, e.value,
        KeyedScan.round6(num.toDouble / (den * 100L)))))
    }
  }
}
