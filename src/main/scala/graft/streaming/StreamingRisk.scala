package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of the whole-distribution risk pair —
  * [[graft.operators.Finance.omegaRatio]] (integer gain/loss sums
  * over close-to-close moves) and
  * [[graft.operators.Finance.painIndex]] (micro-unit drawdowns off
  * the integer running peak): per-symbol state is six BIGINTs
  * (previous close, gain/loss sums, running peak, drawdown-micro sum
  * and max) advanced with EXACTLY the batch arithmetic — including
  * the HALF_UP micro rounding and the peak-zero guard — so the final
  * emitted row per symbol equals the batch operators' sums on the
  * same bars (StreamingSpec pins it on the real corpus).
  *
  * Input is a CLOSED-BAR stream (symbol, day, close cents) — the
  * output of the watermarked OHLC stage, the composition
  * [[StreamingOhlc]] documents. Ordering contract: bars sort by day
  * within a micro-batch; cross-batch parity needs day-ordered
  * feeding, the same honest contract as [[StreamingEma]] /
  * [[StreamingDrawdown]].
  *
  * Scale: six longs per live symbol in the state store.
  */
object StreamingRisk {

  final case class Bar(symbol: String, day: java.sql.Date, cl: Long)

  final case class RiskState(prev: Long, gains: Long, losses: Long,
                             nMoves: Long, peak: Long, ddSum: Long,
                             ddMax: Long, nBars: Long)

  final case class RiskOut(symbol: String, day: java.sql.Date,
                           n_moves: Long, gains: Long, losses: Long,
                           n_bars: Long, pain_u_sum: Long, dd_u_max: Long)

  /** The batch pain-index micro rounding: Spark `round()` is HALF_UP
    * on the double image — mirrored here exactly. */
  private def ddMicro(peak: Long, cl: Long): Long =
    if (peak > 0)
      BigDecimal((peak - cl).toDouble / peak.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    else 0L

  def withRisk(bars: Dataset[Bar]): Dataset[RiskOut] = {
    import bars.sparkSession.implicits._
    KeyedScan.scan(bars)(_.symbol, _.day.getTime,
        RiskState(Long.MinValue, 0L, 0L, 0L, Long.MinValue, 0L, 0L, 0L)) { (st0, b) =>
      var st = st0
      if (st.prev != Long.MinValue) {
        val d = b.cl - st.prev
        st = st.copy(
          gains = st.gains + math.max(d, 0L),
          losses = st.losses + math.max(-d, 0L),
          nMoves = st.nMoves + 1)
      }
      val peak = math.max(if (st.peak == Long.MinValue) b.cl else st.peak, b.cl)
      val dd = ddMicro(peak, b.cl)
      st = st.copy(prev = b.cl, peak = peak,
        ddSum = st.ddSum + dd, ddMax = math.max(st.ddMax, dd),
        nBars = st.nBars + 1)
      (st, Some(RiskOut(b.symbol, b.day, st.nMoves, st.gains, st.losses,
        st.nBars, st.ddSum, st.ddMax)))
    }
  }
}
