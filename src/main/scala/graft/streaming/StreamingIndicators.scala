package graft.streaming

import org.apache.spark.sql.Dataset

import graft.streaming.KeyedScan.{cents, round6}

/** Streaming twins of the two sliding-frame indicators
  * [[graft.operators.Finance.rsi]] (Cutler 14-period) and
  * [[graft.operators.Finance.bollinger]] (20-tick bands) — the
  * [[StreamingEma]] ring-state shape: per-symbol rings of the most
  * recent frame values, each arriving tick emitting the SAME
  * arithmetic the batch window computes, bit for bit:
  *
  *  - batch `avg(x).over(frame)` is a double sum in frame row order
  *    divided by the count — the twins fold the ring oldest-first;
  *  - batch `stddev_samp(x).over(frame)` is Spark's CentralMomentAgg
  *    Welford recurrence (newN = n+1; delta = x − avg; deltaN =
  *    delta/newN; avg += deltaN; m2 += delta·(delta − deltaN)) run
  *    over the frame rows in order — the twins run the identical
  *    recurrence, so the rounded band edges cannot diverge;
  *  - every rounded output applies round-6 HALF_UP exactly where the
  *    batch expression does (Bollinger rounds sma/sd FIRST, then the
  *    ±2σ arithmetic, then rounds again — the twin mirrors that
  *    sequencing).
  *
  * Ordering contract (same as [[StreamingEma]]): sliding frames are
  * SEQUENTIAL state — rows sort by (ts, id) within each micro-batch,
  * but a late tick from before consumed history would need
  * retraction; feed event-time-ordered input (or front a watermarked
  * sort) for cross-batch parity.
  *
  * Scale: state per live symbol is one ring of ≤ 14 doubles (RSI
  * deltas) or ≤ 20 doubles (Bollinger prices) plus two scalars —
  * hash-partitioned across executors, checkpointed in the state
  * store; emission is 1:1 with input after warm-up.
  */
object StreamingIndicators {

  final case class Tick(symbol: String, id: Long,
                        ts: java.sql.Timestamp, price: Double)

  /** prev price (for the next delta), ring of the last ≤14 deltas
    * oldest-first, ticks seen. */
  final case class RsiState(prev: Double, deltas: List[Double], n: Long)

  final case class RsiOut(symbol: String, id: Long, price: Double, rsi14: Double)

  /** ring of the last ≤20 prices oldest-first, ticks seen. */
  final case class BollState(prices: List[Double], n: Long)

  final case class BollOut(symbol: String, id: Long, price: Double,
                           sma20: Double, upper_band: Double, lower_band: Double,
                           breach_up: Boolean, breach_dn: Boolean)

  /** The tick order every indicator twin folds in: the batch window's
    * exact (ts, id) ordering. */
  private def tickOrder(t: Tick): (Long, Long) = (t.ts.getTime, t.id)

  /** Spark's StddevSamp over a window frame: the CentralMomentAgg
    * recurrence in frame row order, then sqrt(m2 / (n − 1)).
    */
  private def stddevSamp(xs: Seq[Double]): Double = {
    var n = 0.0; var avg = 0.0; var m2 = 0.0
    xs.foreach { x =>
      n += 1.0
      val delta = x - avg
      val deltaN = delta / n
      avg += deltaN
      m2 += delta * (delta - deltaN)
    }
    math.sqrt(m2 / (n - 1.0))
  }

  def withRsi(ticks: Dataset[Tick], period: Int = 14): Dataset[RsiOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder, RsiState(Double.NaN, Nil, 0L)) { (st, t) =>
      val n = st.n + 1
      val deltas =
        if (st.n == 0) Nil
        else (st.deltas :+ (t.price - st.prev)).takeRight(period)
      // batch gate rn >= period + 1: the frame holds `period`
      // non-null deltas exactly
      val out = if (n >= period + 1) {
        // avg over the frame: double sum in frame order / count
        val ag = deltas.map(d => math.max(d, 0.0)).sum / period
        val al = deltas.map(d => math.max(-d, 0.0)).sum / period
        val rsi =
          if (ag + al == 0.0) 50.0
          else 100.0 * ag / (ag + al)
        Some(RsiOut(t.symbol, t.id, t.price, round6(rsi)))
      } else None
      (RsiState(t.price, deltas, n), out)
    }
  }

  def withBollinger(ticks: Dataset[Tick], nTicks: Int = 20): Dataset[BollOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder, BollState(Nil, 0L)) { (st, t) =>
      val prices = (st.prices :+ t.price).takeRight(nTicks)
      val n = st.n + 1
      val out = if (n >= nTicks) {
        // the batch expression sequence: round sma/sd FIRST,
        // then the ±2σ arithmetic, then round the edges
        val sma = round6(prices.sum / nTicks)
        val sd = round6(stddevSamp(prices))
        val upper = round6(sma + sd * 2)
        val lower = round6(sma - sd * 2)
        Some(BollOut(t.symbol, t.id, t.price, sma, upper, lower,
          t.price > upper, t.price < lower))
      } else None
      (BollState(prices, n), out)
    }
  }

  /** The batch truncated-EMA chain ([[graft.operators.Finance.macd]]):
    * sum_j COALESCE(lag_j * w_j, 0) / sum_j (w_j if lag_j present) —
    * folded in ascending j (left-associated, exactly the generated
    * expression order). `ring` is oldest-first; lag j reads from the
    * newest end.
    */
  private def truncEma(ring: IndexedSeq[Double], coefs: Seq[Double]): Double = {
    var num = 0.0; var den = 0.0
    var j = 0
    while (j < coefs.length) {
      val idx = ring.length - 1 - j
      if (idx >= 0) { num += ring(idx) * coefs(j); den += coefs(j) }
      else { num += 0.0; den += 0.0 }
      j += 1
    }
    num / den
  }

  /** ring of the last ≤[[graft.operators.Finance.MacdLags]] cents and
    * of the last ≤MacdLags macd_raw values, both oldest-first. */
  final case class MacdState(ms: List[Double], macds: List[Double])

  final case class MacdOut(symbol: String, id: Long, price: Double,
                           macd: Double, signal_line: Double, histogram: Double)

  /** Streaming twin of [[graft.operators.Finance.macd]]: the same
    * truncated-weight chains over per-symbol rings — adaptive warm-up
    * normalization means every tick emits, from the first. Same
    * sequential-state ordering contract as the RSI/Bollinger twins.
    * State per live symbol: two rings of ≤40 doubles.
    */
  def withMacd(ticks: Dataset[Tick]): Dataset[MacdOut] = {
    import ticks.sparkSession.implicits._
    val lags = graft.operators.Finance.MacdLags
    val fastW = graft.operators.Finance.MacdFastW
    val slowW = graft.operators.Finance.MacdSlowW
    val sigW  = graft.operators.Finance.MacdSignalW
    KeyedScan.scan(ticks)(_.symbol, tickOrder, MacdState(Nil, Nil)) { (st, t) =>
      val ms = (st.ms :+ cents(t.price).toDouble).takeRight(lags)
      val ring = ms.toIndexedSeq
      val macdRaw = truncEma(ring, fastW) - truncEma(ring, slowW)
      val macds = (st.macds :+ macdRaw).takeRight(lags)
      val signal = truncEma(macds.toIndexedSeq, sigW)
      (MacdState(ms, macds), Some(MacdOut(t.symbol, t.id, t.price,
        round6(macdRaw / 100), round6(signal / 100),
        round6((macdRaw - signal) / 100))))
    }
  }

  /** rings of the last ≤MacdLags cents, e1 and e2 values, oldest-first. */
  final case class TrixState(ms: List[Double], e1s: List[Double],
                             e2s: List[Double], prevE3: Double,
                             hasPrev: Boolean)

  final case class TrixOut(symbol: String, id: Long, price: Double,
                           triple_ema: Double, trix_bp: Double)

  /** Streaming twin of [[graft.operators.Finance.trix]]: three chained
    * [[truncEma]] rings (cents → e1 → e2 → e3) with the identical
    * left-associated double arithmetic, then the 1-lag basis-point
    * rate of change off the remembered previous e3. Rows with no
    * previous or a zero previous e3 are skipped exactly as batch
    * drops them.
    */
  def withTrix(ticks: Dataset[Tick]): Dataset[TrixOut] = {
    import ticks.sparkSession.implicits._
    val lags = graft.operators.Finance.MacdLags
    val w = graft.operators.Finance.TrixW
    KeyedScan.scan(ticks)(_.symbol, tickOrder,
        TrixState(Nil, Nil, Nil, 0.0, false)) { (st, t) =>
      val ms  = (st.ms :+ cents(t.price).toDouble).takeRight(lags)
      val e1  = truncEma(ms.toIndexedSeq, w)
      val e1s = (st.e1s :+ e1).takeRight(lags)
      val e2  = truncEma(e1s.toIndexedSeq, w)
      val e2s = (st.e2s :+ e2).takeRight(lags)
      val e3  = truncEma(e2s.toIndexedSeq, w)
      val out =
        if (st.hasPrev && st.prevE3 != 0.0)
          Some(TrixOut(t.symbol, t.id, t.price, round6(e3 / 100),
            round6(10000.0 * (e3 - st.prevE3) / st.prevE3)))
        else None
      (TrixState(ms, e1s, e2s, e3, hasPrev = true), out)
    }
  }

  /** ring of the last ≤16 cents (oldest-first) plus running
    * (n, Σd, Σd²) triples for lags 1/2/4/8/16, in that order. */
  final case class HurstState(ring: List[Long], ns: List[Long],
                              ss: List[Long], qs: List[Long])

  final case class HurstOut(symbol: String, id: Long, n_moves: Long,
                            hurst: Double)

  /** Streaming twin of [[graft.operators.Finance.hurst]]: the five
    * per-lag (n, Σd, Σd²) triples accumulate incrementally off a
    * 16-deep cent ring, and each tick re-evaluates the SAME
    * literal-ordered 5-point OLS the batch aggregate computes — so
    * the emission at a symbol's final tick is bit-identical to the
    * batch row (parity compares exactly those). Ticks where any lag
    * variance is ≤ 0 or n₁₆ < 2 emit nothing, the batch drop rule.
    */
  def withHurst(ticks: Dataset[Tick]): Dataset[HurstOut] = {
    import ticks.sparkSession.implicits._
    val ks = List(1, 2, 4, 8, 16)
    val ln2 = 0.6931471805599453
    KeyedScan.scan(ticks)(_.symbol, tickOrder,
        HurstState(Nil, List.fill(5)(0L), List.fill(5)(0L), List.fill(5)(0L))) { (st, t) =>
      val m = cents(t.price)
      val (ns, ss, qs) = (st.ns.toArray, st.ss.toArray, st.qs.toArray)
      ks.zipWithIndex.foreach { case (k, i) =>
        if (st.ring.length >= k) {
          val d = m - st.ring(st.ring.length - k)
          ns(i) += 1; ss(i) += d; qs(i) += d * d
        }
      }
      val varNums = (0 until 5).map(i => ns(i) * qs(i) - ss(i) * ss(i))
      val out = if (ns(4) >= 2 && varNums.forall(_ > 0)) {
        val ys = (0 until 5).map(i =>
          math.log(varNums(i).toDouble / (ns(i) * (ns(i) - 1)).toDouble))
        val sy  = ys.reduce(_ + _)
        val sxy = ys.zipWithIndex.map { case (y, i) => y * i.toDouble }
          .reduce(_ + _)
        Some(HurstOut(t.symbol, t.id, ns(0),
          round6((5.0 * sxy - 10.0 * sy) / 50.0 / (2.0 * ln2))))
      } else None
      (HurstState((st.ring :+ m).takeRight(16), ns.toList, ss.toList, qs.toList), out)
    }
  }

  /** prev cents + prev move (for the lagged product) and the running
    * (n, Σx, Σy, Σxy) serial-covariance sums. */
  final case class RollState(prevM: Long, hasM: Boolean, prevX: Long,
                             hasX: Boolean, n: Long, sx: Long, sy: Long,
                             sxy: Long)

  final case class RollOut(symbol: String, id: Long, n_move_pairs: Long,
                           serial_cov: Double, roll_spread: Double)

  /** Streaming twin of [[graft.operators.Finance.rollSpread]]:
    * running all-integer covariance sums, emitting (only) while the
    * serial covariance is negative — the batch definedness rule, so
    * a symbol's final-tick emission equals the batch row exactly.
    */
  def withRollSpread(ticks: Dataset[Tick]): Dataset[RollOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder,
        RollState(0L, false, 0L, false, 0L, 0L, 0L, 0L)) { (st0, t) =>
      var st = st0
      val m = cents(t.price)
      if (st.hasM) {
        val x = m - st.prevM
        if (st.hasX) {
          st = st.copy(n = st.n + 1, sx = st.sx + x, sy = st.sy + st.prevX,
            sxy = st.sxy + x * st.prevX)
        }
        st = st.copy(prevX = x, hasX = true)
      }
      st = st.copy(prevM = m, hasM = true)
      val num = st.n * st.sxy - st.sx * st.sy
      val out = if (st.n >= 2 && num < 0) {
        val cov = num.toDouble / (st.n * (st.n - 1)).toDouble
        Some(RollOut(t.symbol, t.id, st.n, round6(cov),
          round6(2.0 * math.sqrt(-cov) / 100.0)))
      } else None
      (st, out)
    }
  }

  /** Open bar (epoch day, close cents), previous close, signed-move
    * ring oldest-first, closed-move count. */
  final case class CmoState(day: Long, cl: Long, prevCl: Long,
                            hasPrev: Boolean, ds: List[Long], nMoves: Long)

  final case class CmoOut(symbol: String, day: java.sql.Date, cmo: Double)

  /** Streaming twin of [[graft.operators.Finance.chandeMomentum]]: the
    * per-symbol open-bar state of [[withAtr]] reduced to closes; each
    * closed bar appends its signed close-to-close move to the ≤period
    * ring and, once `period` moves have closed, emits the all-integer
    * up/down ratio with the batch's single divide (zero-movement
    * frames skipped on both sides). The last open bar never closes —
    * the [[withAtr]] Append-mode contract.
    */
  def withCmo(ticks: Dataset[Tick], period: Int = 14): Dataset[CmoOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder,
        CmoState(Long.MinValue, 0L, 0L, false, Nil, 0L)) { (st, t) =>
      val m = cents(t.price)
      val day = utcDay(t)
      if (day == st.day) (st.copy(cl = m), None)
      else if (st.day == Long.MinValue) (st.copy(day = day, cl = m), None)
      else if (!st.hasPrev)
        (st.copy(day = day, cl = m, prevCl = st.cl, hasPrev = true), None)
      else {
        // close the open bar: its signed close-to-close move joins the ring
        val ds = (st.ds :+ (st.cl - st.prevCl)).takeRight(period)
        val nMoves = st.nMoves + 1
        val up = ds.collect { case d if d > 0 => d }.sum
        val dn = ds.collect { case d if d < 0 => -d }.sum
        val out =
          if (nMoves >= period && up + dn > 0)
            Some(CmoOut(t.symbol, epochDate(st.day),
              round6(100.0 * (up - dn).toDouble / (up + dn).toDouble)))
          else None
        (st.copy(day = day, cl = m, prevCl = st.cl, ds = ds, nMoves = nMoves), out)
      }
    }
  }

  /** ring of the last ≤14 cents and the last ≤3 %K values (both
    * oldest-first), ticks seen. */
  final case class StochState(ms: List[Long], ks: List[Double], n: Long)

  final case class StochOut(symbol: String, id: Long, price: Double,
                            pct_k: Double, pct_d: Double)

  /** Streaming twin of [[graft.operators.Finance.stochastic]]: %K from
    * the integer min/max of the cents ring (partial frames at warm-up
    * exactly like the batch 13-PRECEDING frame), %D as the explicit
    * current + lag1 + lag2 mean in the batch's association order.
    * Emits once both frames are full (n >= 16).
    */
  def withStochastic(ticks: Dataset[Tick], period: Int = 14): Dataset[StochOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder, StochState(Nil, Nil, 0L)) { (st, t) =>
      val m = cents(t.price)
      val ms = (st.ms :+ m).takeRight(period)
      val mn = ms.min; val mx = ms.max
      val k =
        if (mx == mn) 50.0
        else round6(100.0 * (m - mn) / (mx - mn))
      val ks = (st.ks :+ k).takeRight(3)
      val n = st.n + 1
      // batch order: (current + lag1 + lag2) / 3
      val out =
        if (n >= period + 2)
          Some(StochOut(t.symbol, t.id, t.price, k, round6((ks(2) + ks(1) + ks(0)) / 3)))
        else None
      (StochState(ms, ks, n), out)
    }
  }

  /** prev price (for the next return) and the ring of the last
    * ≤MacdLags squared returns, oldest-first. */
  final case class EwmaVolState(prev: Double, hasPrev: Boolean, rsqs: List[Double])

  final case class EwmaVolOut(symbol: String, id: Long, price: Double, ewma_vol: Double)

  /** Streaming twin of [[graft.operators.Finance.ewmaVolatility]]:
    * the RiskMetrics truncated weight chain over a per-symbol ring of
    * squared log returns — emission starts at each symbol's SECOND
    * tick (the first has no return), matching the batch pre-window
    * filter. State per live symbol: one double + a ring of ≤40.
    */
  def withEwmaVol(ticks: Dataset[Tick]): Dataset[EwmaVolOut] = {
    import ticks.sparkSession.implicits._
    val w = graft.operators.Finance.EwmaVolW
    KeyedScan.scan(ticks)(_.symbol, tickOrder,
        EwmaVolState(Double.NaN, false, Nil)) { (st, t) =>
      // price <= 0 ticks are dropped BEFORE the return lag in
      // batch, so they neither emit nor advance prev
      if (t.price <= 0) (st, None)
      else if (!st.hasPrev) (EwmaVolState(t.price, true, Nil), None)
      else {
        val ret = math.log(t.price / st.prev)
        val rsqs = (st.rsqs :+ ret * ret).takeRight(graft.operators.Finance.MacdLags)
        (EwmaVolState(t.price, true, rsqs), Some(EwmaVolOut(t.symbol, t.id, t.price,
          round6(math.sqrt(truncEma(rsqs.toIndexedSeq, w))))))
      }
    }
  }

  final case class VTick(symbol: String, id: Long,
                         ts: java.sql.Timestamp, price: Double, volume: Long)

  /** prev cents (for the next delta) and the running OBV. */
  final case class ObvState(prev: Long, hasPrev: Boolean, obv: Long)

  final case class ObvOut(symbol: String, id: Long, price: Double, obv: Long)

  /** Streaming twin of [[graft.operators.Finance.obv]]: pure integer
    * running state (prev cents + the on-balance volume), one row out
    * per tick from the first (the batch's first-row NULL delta takes
    * the 0 branch). State per live symbol: two longs.
    */
  def withObv(ticks: Dataset[VTick]): Dataset[ObvOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, t => (t.ts.getTime, t.id),
        ObvState(0L, false, 0L)) { (st, t) =>
      val m = cents(t.price)
      val sv =
        if (!st.hasPrev) 0L
        else if (m > st.prev) t.volume
        else if (m < st.prev) -t.volume
        else 0L
      val obv = st.obv + sv
      (ObvState(m, true, obv), Some(ObvOut(t.symbol, t.id, t.price, obv)))
    }
  }

  /** ring of the last ≤25 (cents, absolute tick index), oldest-first. */
  final case class AroonState(ms: List[Long], rns: List[Long], n: Long)

  final case class AroonOut(symbol: String, id: Long,
                            aroon_up: Long, aroon_down: Long, oscillator: Long)

  /** Streaming twin of [[graft.operators.Finance.aroon]]: the batch
    * packed argmax (max price, most recent on ties) and argmin (min
    * price, most recent on ties) over the 25-tick frame become plain
    * ring scans — exact integers end to end, emission once the frame
    * is full. State per live symbol: ≤25 (long, long) pairs.
    */
  def withAroon(ticks: Dataset[Tick], period: Int = 25): Dataset[AroonOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder, AroonState(Nil, Nil, 0L)) { (st, t) =>
      val n = st.n + 1
      val ms = (st.ms :+ cents(t.price)).takeRight(period)
      val rns = (st.rns :+ n).takeRight(period)
      val out = if (n >= period) {
        val pairs = ms.zip(rns)
        // batch pack max(m·2^33 + rn): highest price, latest tick
        val (_, rnHi) = pairs.maxBy { case (m0, rn0) => (m0, rn0) }
        // batch pack min(m·2^33 + (2^33−1−rn)): lowest, latest
        val (_, rnLo) = pairs.minBy { case (m0, rn0) => (m0, -rn0) }
        val up = 4L * (period - (n - rnHi))
        val dn = 4L * (period - (n - rnLo))
        Some(AroonOut(t.symbol, t.id, up, dn, up - dn))
      } else None
      (AroonState(ms, rns, n), out)
    }
  }

  /** prev cents, current run direction and length. */
  final case class StreakState(prev: Long, hasPrev: Boolean,
                               dir: Long, len: Long)

  final case class StreakOut(symbol: String, id: Long, dir: Long, run_len: Long)

  /** Streaming twin of [[graft.operators.Finance.directionStreaks]]'
    * per-tick layer: each tick after the first emits its move
    * direction (−1/0/+1 on cents) and the current run length — the
    * batch gaps-and-islands groups are exactly the rows sharing a
    * (symbol, dir, run start), so the batch per-direction rollups
    * (n_runs = rows with run_len 1, max_run, total_ticks) aggregate
    * the emitted rows bit-exactly (StreamingSpec pins it). State per
    * live symbol: three longs.
    */
  def withStreaks(ticks: Dataset[Tick]): Dataset[StreakOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder, StreakState(0L, false, 2L, 0L)) { (st, t) =>
      val m = cents(t.price)
      if (st.hasPrev) {
        val d = java.lang.Long.signum(m - st.prev).toLong
        val len = if (st.len > 0 && d == st.dir) st.len + 1 else 1L
        (StreakState(m, true, d, len), Some(StreakOut(t.symbol, t.id, d, len)))
      } else (StreakState(m, true, st.dir, 0L), None)
    }
  }

  final case class UlcerDdOut(symbol: String, id: Long, dd6: Double)

  /** Streaming twin of [[graft.operators.Finance.ulcerIndex]]'s
    * per-tick layer: integer running peak in cents, each tick emitting
    * the batch expression's round-6 drawdown percent
    * (100.0 · (peak − m) / peak). The batch Ulcer index is the RMS of
    * exactly these rounded values through exact decimal squares, so
    * aggregating the stream reproduces it bit for bit (StreamingSpec).
    * State per live symbol: one long.
    */
  def withUlcerDd(ticks: Dataset[Tick]): Dataset[UlcerDdOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder, 0L) { (peak0, t) =>
      val m = cents(t.price)
      val peak = math.max(peak0, m)
      (peak, if (peak > 0)
        Some(UlcerDdOut(t.symbol, t.id, round6(100.0 * (peak - m).toDouble / peak)))
        else None)
    }
  }

  /** Open bar (epoch day, hi, lo, close cents), previous close, TR
    * ring oldest-first, closed-day count. */
  final case class AtrState(day: Long, hi: Long, lo: Long, cl: Long,
                            prevCl: Long, hasPrev: Boolean,
                            trs: List[Long], nDays: Long)

  final case class AtrOut(symbol: String, day: java.sql.Date,
                          tr_cents: Long, atr: Double)

  /** Streaming twin of [[graft.operators.Finance.atr]]: per-symbol
    * open-bar state folds hi/lo/close in tick order; a tick on a NEW
    * day closes the previous bar — its true range (exact integer
    * cents, same greatest/abs arithmetic) joins the ≤period TR ring
    * and, once `period` bars have closed, emits that day's ATR with
    * the batch's single divide. The stream never closes its LAST open
    * bar (no end-of-stream in Append mode) — the documented
    * difference from batch, which sees the corpus end; parity tests
    * compare on the closed days.
    */
  def withAtr(ticks: Dataset[Tick], period: Int = 14): Dataset[AtrOut] = {
    import ticks.sparkSession.implicits._
    KeyedScan.scan(ticks)(_.symbol, tickOrder,
        AtrState(Long.MinValue, 0L, 0L, 0L, 0L, false, Nil, 0L)) { (st, t) =>
      val m = cents(t.price)
      val day = utcDay(t)
      if (day == st.day)
        (st.copy(hi = math.max(st.hi, m), lo = math.min(st.lo, m), cl = m), None)
      else if (st.day == Long.MinValue) (st.copy(day = day, hi = m, lo = m, cl = m), None)
      else {
        // close the open bar: its true range joins the TR ring
        val tr =
          if (!st.hasPrev) st.hi - st.lo
          else math.max(st.hi - st.lo,
            math.max(math.abs(st.hi - st.prevCl), math.abs(st.lo - st.prevCl)))
        val trs = (st.trs :+ tr).takeRight(period)
        val nDays = st.nDays + 1
        val out =
          if (nDays >= period)
            Some(AtrOut(t.symbol, epochDate(st.day), tr,
              round6(trs.sum.toDouble / period / 100.0)))
          else None
        (AtrState(day, m, m, m, st.cl, true, trs, nDays), out)
      }
    }
  }

  /** The UTC calendar day of a tick, as an epoch day. */
  private def utcDay(t: Tick): Long =
    t.ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay

  private def epochDate(day: Long): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day))

}
