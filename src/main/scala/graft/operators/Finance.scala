package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Financial time-series analytics over the normalized quote stream.
  *
  * The reference engine's whole purpose is market-data analytics (its
  * one aggregation is the count-window SMA, financial_engine.py:293-312)
  * — this module is the surface a user of that engine reaches for next:
  * OHLC candlestick bars, VWAP, log-return volatility, drawdown, RSI,
  * and a Benford first-digit audit. Quotes derive from `events` exactly
  * as the reference normalizes its feeds (symbol from the entity id,
  * price from the native numeric, volume from the JSON side-channel —
  * financial_engine.py:114-180): one projection, no UDFs, so every query
  * below stays a pushdown-friendly scan → window/agg Catalyst plan.
  *
  * Scale shape: every window partitions by (symbol[, bar]) — millions of
  * independent series at 100 TB, no global ordering anywhere; the only
  * unbounded-group operation is the 9-row Benford digit rollup.
  * Determinism-for-oracle: tick order is the total order (ts, id);
  * float outputs round(.,6); integer volumes sum exactly.
  */
object Finance {

  /** The normalized quote stream: one row per tick.
    * Column pruning reaches the parquet scan (5 of 6 event columns).
    */
  def quotes(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id").as("id"),
        concat(lit("u"), col("user_id")).as("symbol"),
        col("value").as("price"),
        get_json_object(col("props"), "$.k").cast("bigint").as("volume"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        col("ts"))

  /** The aggregate list of one OHLC bar, shared by [[ohlcBars]] and its
    * streaming twin [[graft.streaming.StreamingOhlc.bars]] (the two
    * differ only in their day key). Open and close are the first and
    * last price in tick order (ts_epoch, id) via min_by/max_by: the
    * order is total, so there is no tie for either to break, and a
    * null price on the first or last tick opens or closes the bar null.
    */
  val ohlcAggs: Seq[Column] = {
    val tickOrder = struct(col("ts_epoch"), col("id"))
    Seq(
      min_by(col("price"), tickOrder).as("open_price"),
      max(col("price")).as("high_price"),
      min(col("price")).as("low_price"),
      max_by(col("price"), tickOrder).as("close_price"),
      sum(col("volume")).as("bar_volume"),
      count(lit(1)).as("n_ticks"))
  }

  /** The aggregate list of one VWAP bar, shared by [[vwap]] and
    * [[graft.streaming.StreamingOhlc.vwapBars]]: the exact-decimal
    * price·volume sum (volume an exact BIGINT, price 2-decimal, so both
    * engines aggregate identically), the volume and the tick count.
    * [[vwapFromSums]] turns them into the bar.
    */
  val vwapAggs: Seq[Column] = Seq(
    sum(col("price").cast("decimal(18,6)") * col("volume").cast("decimal(18,6)")).as("pv"),
    sum(col("volume")).as("day_volume"),
    count(lit(1)).as("n_ticks"))

  /** VWAP bars `(symbol, day, vwap, day_volume, n_ticks)` from
    * [[vwapAggs]] rows keyed by `symbol` and `day`: zero-volume bars are
    * dropped rather than divided (ANSI mode). */
  def vwapFromSums(sums: DataFrame): DataFrame =
    sums.filter(col("day_volume") > 0)
      .select(col("symbol"), col("day"),
        vwapOf(col("pv"), col("day_volume")).as("vwap"),
        col("day_volume"), col("n_ticks"))

  /** Daily OHLC candlestick bars per symbol: [[ohlcAggs]] in one
    * aggregate over (symbol, day), one hash exchange, no window and no
    * self-join. At 100 TB: days × symbols bars, each built from its own
    * partition slice — embarrassingly parallel.
    *
    * `day` is `to_date(ts)` in the SESSION time zone. The streaming twin
    * buckets by `window(ts, '1 day')`, i.e. by UTC epoch day, so the two
    * agree only when the session zone is UTC (FinanceSpec pins both).
    */
  def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    quotes(spark, dir)
      .groupBy(col("symbol"), to_date(col("ts")).as("day"))
      .agg(ohlcAggs.head, ohlcAggs.tail: _*)
      .orderBy("symbol", "day")

  /** Volume-weighted average price per symbol per day: [[vwapAggs]] in
    * one plain two-key hash aggregate (partial map-side combine, one
    * tiny shuffle), then [[vwapFromSums]]. Days are session-zone dates;
    * the streaming twin's UTC days equal them only under UTC, as for
    * [[ohlcBars]]. */
  def vwap(spark: SparkSession, dir: String): DataFrame =
    vwapFromSums(quotes(spark, dir)
        .groupBy(col("symbol"), to_date(col("ts")).as("day"))
        .agg(vwapAggs.head, vwapAggs.tail: _*))
      .orderBy("symbol", "day")

  /** The VWAP division shared by [[vwap]] and its streaming twin
    * [[graft.streaming.StreamingOhlc.vwapBars]]: the exact price·volume
    * sum divided in DECIMAL and rounded once, HALF_UP at 6 decimals. A
    * double quotient can land just below a half-way tie at the 7th
    * decimal (pv 17140.53 / 160 = 107.1283125 divides to
    * 107.12831249999999 and would round down). `pv` has at most 6
    * decimals (decimal(18,6) prices times integer volumes), so the cast
    * is exact and leaves the quotient at scale 6.
    */
  def vwapOf(pv: Column, volume: Column): Column =
    round(pv.cast("decimal(38,6)") / volume, 6).cast("double")

  /** Per-symbol log-return volatility: r_t = ln(p_t / p_{t-1}) over the
    * total tick order, then stddev_samp per symbol. The lag window and
    * the aggregation share the symbol partitioning (one exchange).
    * Symbols with <2 positive ticks produce no returns and are dropped
    * by the HAVING-style filter — deterministic across engines. */
  def logReturnVolatility(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("prev_price", lag(col("price"), 1).over(w))
      .withColumn("ret", log(col("price") / col("prev_price")))
      .groupBy("symbol")
      .agg(
        count(col("ret")).as("n_returns"),
        round(stddev_samp(col("ret")), 6).as("vol"),
        round(avg(col("ret")), 6).as("mean_ret"))
      .filter(col("n_returns") >= 2)
      .orderBy("symbol")
  }

  /** Maximum drawdown per symbol: peak-to-trough decline off the
    * running maximum of the tick-ordered price series. The running max
    * is a rank-less cumulative window (Spark evaluates it streaming
    * within each partition — no per-row rescan), and the final
    * per-symbol rollup reuses the same partitioning. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol")
      .orderBy(col("ts_epoch").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("peak", max(col("price")).over(w))
      .withColumn("dd", (col("peak") - col("price")) / col("peak"))
      .groupBy("symbol")
      .agg(
        round(max(col("dd")), 6).as("max_drawdown"),
        round(max(col("peak")), 6).as("peak_price"),
        count(lit(1)).as("n_ticks"))
      .orderBy("symbol")
  }

  /** 14-period RSI (Cutler's simple-moving-average form — deterministic,
    * no recursive smoothing) per symbol per tick. Emitted only once 14
    * deltas exist (rn >= 15), so the sliding frame is always full and
    * NULL-free. avg gain / (avg gain + avg loss) avoids the divide-by-
    * zero of the classic gain/loss ratio; an all-flat window (both
    * averages zero) is the conventional RSI 50. One partitioning
    * (symbol) serves the lag, the row_number, and both sliding frames. */
  def rsi(spark: SparkSession, dir: String): DataFrame = {
    val ord   = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val frame = ord.rowsBetween(-13, 0)
    quotes(spark, dir)
      .withColumn("rn", row_number().over(ord))
      .withColumn("delta", col("price") - lag(col("price"), 1).over(ord))
      .withColumn("gain", greatest(col("delta"), lit(0.0)))
      .withColumn("loss", greatest(-col("delta"), lit(0.0)))
      .withColumn("avg_gain", avg(col("gain")).over(frame))
      .withColumn("avg_loss", avg(col("loss")).over(frame))
      .filter(col("rn") >= 15)
      .select(
        col("symbol"), col("id"), col("price"),
        round(
          when(col("avg_gain") + col("avg_loss") === 0, lit(50.0))
            .otherwise(lit(100.0) * col("avg_gain") / (col("avg_gain") + col("avg_loss"))),
          6).as("rsi14"))
      .orderBy("symbol", "id")
  }

  /** Top day-over-day VWAP movers: the market-screen query. Builds on
    * [[vwap]]'s round-6 dailies (engine-exact, so the percent change
    * divides identical doubles), lags within each symbol, and takes
    * the global top-k by |change| via TakeOrdered — never a global
    * window over the (symbol, day) matrix. Ties break on
    * (symbol, day) so the cut is total-ordered.
    */
  def topMovers(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("day")
    val daily = vwap(spark, dir)
      .select("symbol", "day", "vwap")
      .withColumn("prev_vwap", lag(col("vwap"), 1).over(w))
      .filter(col("prev_vwap").isNotNull && col("prev_vwap") =!= 0)
      .withColumn("pct_change",
        round((col("vwap") - col("prev_vwap")) / col("prev_vwap"), 6))
    val top = daily
      .orderBy(abs(col("pct_change")).desc, col("symbol"), col("day"))
      .limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit
      // cut, never the (symbol, day) panel
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("pct_change")).desc, col("symbol"), col("day")))
        .cast("bigint"))
      .select("rk", "symbol", "day", "prev_vwap", "vwap", "pct_change")
      .orderBy("rk")
  }

  /** Pairwise return correlation across the most-traded symbols — the
    * co-movement screen. The symbol universe is capped at the top
    * `nSymbols` by tick count (TakeOrdered, broadcast back), so the
    * pair fan-out is nSymbols², a CONSTANT chosen by the analyst —
    * never all-symbols². Daily means are exact-decimal averages
    * (identical doubles in both engines); the self-join aligns pairs
    * on shared days only.
    */
  def pairCorrelation(spark: SparkSession, dir: String,
                      nSymbols: Int = 10, minDays: Int = 10): DataFrame = {
    val daily = quotes(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("symbol", "day")
      .agg((sum(col("price").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_price"),
           count(lit(1)).as("n_ticks"))
      .localCheckpoint()
    val top = daily.groupBy("symbol").agg(sum(col("n_ticks")).as("total"))
      .orderBy(col("total").desc, col("symbol")).limit(nSymbols)
      .select("symbol")
    val universe = daily.join(broadcast(top), "symbol")
      .select("symbol", "day", "mean_price")
    universe.as("a").join(universe.as("b"),
        col("a.day") === col("b.day") && col("a.symbol") < col("b.symbol"))
      .groupBy(col("a.symbol").as("sym_a"), col("b.symbol").as("sym_b"))
      .agg(count(lit(1)).as("n_days"),
           round(corr(col("a.mean_price"), col("b.mean_price")), 6).as("price_corr"))
      .filter(col("n_days") >= minDays)
      .orderBy("sym_a", "sym_b")
  }

  /** 20-tick Bollinger bands with breach flags. The band edges are
    * built from the ROUNDED sma/stddev (round-6 first, then the ±2σ
    * arithmetic, then round again), so the breach comparisons test
    * price against bit-identical edges in both engines — no float
    * boundary can flip a flag. Emitted only at a full 20-tick frame
    * (rn >= 20). Same single (symbol) partitioning as the RSI family.
    */
  def bollinger(spark: SparkSession, dir: String, nTicks: Int = 20): DataFrame = {
    val ord   = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val frame = ord.rowsBetween(-(nTicks - 1), 0)
    quotes(spark, dir)
      .withColumn("rn", row_number().over(ord))
      .withColumn("sma20", round(avg(col("price")).over(frame), 6))
      .withColumn("sd20", round(stddev_samp(col("price")).over(frame), 6))
      .filter(col("rn") >= nTicks)
      .withColumn("upper_band", round(col("sma20") + col("sd20") * 2, 6))
      .withColumn("lower_band", round(col("sma20") - col("sd20") * 2, 6))
      .select(col("symbol"), col("id"), col("price"), col("sma20"),
        col("upper_band"), col("lower_band"),
        (col("price") > col("upper_band")).as("breach_up"),
        (col("price") < col("lower_band")).as("breach_dn"))
      .orderBy("symbol", "id")
  }

  /** Benford first-significant-digit audit of order totals — the
    * classic fraud screen. The digit is extracted from the integer
    * cents STRING (no float log10 at bin boundaries), so binning is
    * exact in both engines; expected mass is log10(1 + 1/d). The
    * grand-total window runs over the 9-row aggregate, not the fact
    * table — bounded at any scale. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 0)
      .select(
        substring(round(col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1)
          .cast("bigint").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_orders"))
    val total = Window.partitionBy()
    digits
      .withColumn("obs_freq", round(col("n_orders") / sum(col("n_orders")).over(total), 6))
      .withColumn("exp_freq", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("abs_dev", round(abs(col("obs_freq") - col("exp_freq")), 6))
      .select("digit", "n_orders", "obs_freq", "exp_freq", "abs_dev")
      .orderBy("digit")
  }

  /** Lag-1 autocorrelation of per-symbol tick log-returns — the
    * mean-reversion/momentum diagnostic (negative ACF(1) = reverting
    * series, positive = trending) that completes the volatility/
    * drawdown/RSI risk panel. Returns derive exactly as in
    * [[logReturnVolatility]]; the lagged pair shares the SAME (symbol)
    * window partitioning, so the lag, the second lag, and the final
    * rollup ride one exchange. `corr` is the order-sensitive double
    * pair of the panel — rounded at 6 like x_stats_corr (the tracked
    * tolerance class). Symbols with <3 return pairs are dropped
    * (corr undefined / degenerate) — deterministic across engines.
    */
  def autocorr(spark: SparkSession, dir: String, lagN: Int = 1): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("prev_price", lag(col("price"), 1).over(w))
      .withColumn("ret", log(col("price") / col("prev_price")))
      .withColumn("ret_lag", lag(col("ret"), lagN).over(w))
      .filter(col("ret").isNotNull && col("ret_lag").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_pairs"),
           round(corr(col("ret"), col("ret_lag")), 6).as("acf1"),
           stddev_samp(col("ret")).as("sd_ret"),
           stddev_samp(col("ret_lag")).as("sd_lag"))
      // Zero-variance groups (constant price) are degenerate: Spark's
      // corr yields NaN where DuckDB yields NULL, so the engines would
      // diverge on exactly that input. Drop them on BOTH sides — the
      // same determinism contract as the n_pairs >= 3 floor.
      .filter(col("n_pairs") >= 3 && col("sd_ret") > 0 && col("sd_lag") > 0)
      .drop("sd_ret", "sd_lag")
      .orderBy("symbol")
  }

  /** Truncation depth for the explicit-weight EMA family ([[macd]]):
    * 40 lags keeps the largest dropped weight below 2.3e-3 of the
    * slow EMA's mass while the weighted sum stays a flat, codegen'd
    * expression chain — the non-recursive formulation Spark windows
    * can evaluate (a true recursive EMA needs per-row state; the
    * streaming twin has it, batch uses the same truncated weights in
    * BOTH engines so the oracle is engine-exact by construction).
    */
  val MacdLags = 40

  /** MACD(12, 26, 9) weight ladders, alpha = 2/(span+1). These Doubles
    * are THE shared contract: the DataFrame plan multiplies them as
    * `lit`s and the oracle SQL prints them via `toString` (shortest
    * round-trip repr, so DuckDB parses back the identical binary) —
    * every product, the left-associated sum chain, and the final
    * divide run the same IEEE ops on the same bits in both engines.
    */
  private[graft] val MacdFastW: Seq[Double] =
    (0 until MacdLags).map(j => (2.0 / 13) * math.pow(11.0 / 13, j))
  private[graft] val MacdSlowW: Seq[Double] =
    (0 until MacdLags).map(j => (2.0 / 27) * math.pow(25.0 / 27, j))
  private[graft] val MacdSignalW: Seq[Double] =
    (0 until MacdLags).map(j => (2.0 / 10) * math.pow(8.0 / 10, j))

  /** The last [[MacdLags]] values of `src` (oldest first, current row
    * last) as ONE sliding collect_list frame — the truncated-EMA
    * input window.
    *
    * Why an array frame and not 40 `lag(src, j)` columns: Spark
    * groups offset window functions by OFFSET, so 40 distinct lags
    * are 40 separate window frames, each with its own iterator over
    * the partition buffer — per layer, every row is touched 40 times
    * and reassembled into a ~50-column output row. Three smoothing
    * layers made x_trix a flat 8-9 s at EVERY corpus size (the
    * scale ladder's 0.11-0.23 tails said constant; the telemetry
    * said zero gc/spill/shuffle — it was all frame-pass CPU). The
    * single aggregate frame touches each row once per layer and the
    * dot product is a flat codegen'd projection.
    *
    * PRECONDITION: `src` is never null on the frame (collect_list
    * drops nulls, which would silently shift the lag alignment).
    * All four users guarantee it: cents `m` comes from non-null
    * price ([[macd]]/[[trix]]), each EMA layer's output has a
    * strictly positive weight denominator, rsq is filtered non-null
    * ([[ewmaVolatility]]), and [[elderRay]]'s daily close `cl` is the
    * max over each day's rn=1 row of non-null cents. The guard below
    * enforces it LOUDLY: a null would otherwise produce
    * wrong-but-plausible EMAs for every downstream indicator
    * (ADVICE r14 — the knnJlSweep silent-skew class).
    */
  private def emaArr(src: Column,
                     ord: org.apache.spark.sql.expressions.WindowSpec): Column =
    collect_list(
      when(src.isNull, raise_error(lit(
        "emaArr: null src on an EMA frame — collect_list would drop it and desync lag alignment")))
        .otherwise(src))
      .over(ord.rowsBetween(-(MacdLags - 1), 0))

  /** Truncated-EMA dot product over an [[emaArr]] window: value j
    * lags behind the current row by j positions, i.e. sits at
    * 1-based index size-j. Numerator and denominator accumulate in
    * ascending-j LEFT-FOLD order — bit-identical to the oracle's
    * unrolled `w0*lag0 + w1*lag1 + ...` chain (the shared-Double
    * contract; summation order is part of it).
    */
  private def truncEma(arr: Column, coefs: Seq[Double]): Column = {
    val s = size(arr)
    val num = coefs.zipWithIndex.map { case (w, j) =>
      when(lit(j) < s, element_at(arr, s - lit(j)) * lit(w))
        .otherwise(lit(0.0)) }.reduce(_ + _)
    val den = coefs.zipWithIndex.map { case (w, j) =>
      when(lit(j) < s, lit(w)).otherwise(lit(0.0)) }.reduce(_ + _)
    num / den
  }

  /** MACD(12, 26, 9) per symbol per tick: fast EMA minus slow EMA,
    * a signal EMA of the MACD line, and the histogram — the standard
    * momentum triple on top of [[rsi]]/[[bollinger]]. All three EMAs
    * are the [[MacdLags]]-truncated explicit-weight form over integer
    * cents, so the whole computation is deterministic double
    * arithmetic shared bit-for-bit with the oracle.
    *
    * Scale shape: ONE (symbol) exchange serves all three window
    * layers (same partitioning, Catalyst reuses the sort); the lag
    * chains are flat projections inside whole-stage codegen — no
    * joins, no state, millions of symbols in parallel.
    */
  def macd(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val base = quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
    // fast and slow EMAs share ONE window array; the signal EMA's
    // array is the only second frame
    val layered = base
      .withColumn("am", emaArr(col("m"), ord))
      .withColumn("macd_raw",
        truncEma(col("am"), MacdFastW) - truncEma(col("am"), MacdSlowW))
      .drop("am")
    layered
      .withColumn("as", emaArr(col("macd_raw"), ord))
      .withColumn("signal_raw", truncEma(col("as"), MacdSignalW))
      .select(col("symbol"), col("id"), col("price"),
        round(col("macd_raw") / 100, 6).as("macd"),
        round(col("signal_raw") / 100, 6).as("signal_line"),
        round((col("macd_raw") - col("signal_raw")) / 100, 6).as("histogram"))
      .orderBy("symbol", "id")
  }

  /** TRIX(15) weight ladder, alpha = 2/16 — shared Double contract
    * with the oracle exactly as [[MacdFastW]]. */
  private[graft] val TrixW: Seq[Double] =
    (0 until MacdLags).map(j => (2.0 / 16) * math.pow(14.0 / 16, j))

  /** TRIX(15) per symbol per tick: the 1-lag rate of change of a
    * TRIPLE-smoothed EMA of price, in basis points — the
    * momentum-of-trend indicator whose triple smoothing filters
    * single-tick noise MACD still passes. Each smoothing layer is the
    * [[MacdLags]]-truncated explicit-weight EMA over the PREVIOUS
    * layer's output (the [[macd]] discipline, one layer deeper), so
    * the whole three-deep composition is deterministic double
    * arithmetic shared bit-for-bit with the oracle's nested CTEs.
    * Rows whose previous triple-EMA is 0 or absent drop on both
    * engines.
    *
    * Scale shape: one (symbol) exchange serves all three lag-chain
    * layers and the final lag — Catalyst sorts once; each layer is a
    * flat codegen'd projection over [[MacdLags]] window lags.
    */
  def trix(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val base = quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
    val e1 = base.withColumn("a1", emaArr(col("m"), ord))
      .withColumn("e1", truncEma(col("a1"), TrixW)).drop("a1")
    val e2 = e1.withColumn("a2", emaArr(col("e1"), ord))
      .withColumn("e2", truncEma(col("a2"), TrixW)).drop("a2")
    e2.withColumn("a3", emaArr(col("e2"), ord))
      .withColumn("e3", truncEma(col("a3"), TrixW)).drop("a3")
      .withColumn("e3_prev", lag(col("e3"), 1).over(ord))
      .filter(col("e3_prev").isNotNull && col("e3_prev") =!= 0.0)
      .select(col("symbol"), col("id"), col("price"),
        round(col("e3") / 100, 6).as("triple_ema"),
        round(lit(10000.0) * (col("e3") - col("e3_prev")) / col("e3_prev"), 6)
          .as("trix_bp"))
      .orderBy("symbol", "id")
  }

  /** Stochastic oscillator %K(14) / %D(3) per symbol per tick. %K is
    * exact integer arithmetic until one divide (cents vs the rolling
    * 14-tick min/max); a flat window (max = min) is the conventional
    * 50. %D is the explicit 3-lag mean of the ROUNDED %K — lag chain,
    * not avg(), so the summation order is pinned in both engines.
    * Emitted once both frames are full (rn >= 16). Same single
    * (symbol) exchange as the RSI family.
    */
  def stochastic(spark: SparkSession, dir: String): DataFrame = {
    val ord   = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val frame = ord.rowsBetween(-13, 0)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("rn", row_number().over(ord))
      .withColumn("mn", min(col("m")).over(frame))
      .withColumn("mx", max(col("m")).over(frame))
      .withColumn("pct_k",
        when(col("mx") === col("mn"), lit(50.0))
          .otherwise(round(lit(100.0) * (col("m") - col("mn")) / (col("mx") - col("mn")), 6)))
      .withColumn("pct_d",
        round((col("pct_k") + lag(col("pct_k"), 1).over(ord) +
               lag(col("pct_k"), 2).over(ord)) / 3, 6))
      .filter(col("rn") >= 16)
      .select("symbol", "id", "price", "pct_k", "pct_d")
      .orderBy("symbol", "id")
  }

  /** Per-symbol Sharpe ratio on per-tick log returns (risk-free rate
    * 0): mean/stddev, the scale-free risk screen beside [[logReturnVolatility]].
    * Same degenerate-group discipline as [[autocorr]]: constant-price
    * symbols (sd = 0) are dropped on both engines. round-6 is the
    * tracked tolerance class for moment aggregates (summation order).
    */
  def sharpe(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("ret", log(col("price") / lag(col("price"), 1).over(w)))
      .filter(col("ret").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_returns"),
           round(avg(col("ret")) / stddev_samp(col("ret")), 6).as("sharpe"),
           stddev_samp(col("ret")).as("sd"))
      .filter(col("n_returns") >= 3 && col("sd") > 0)
      .drop("sd")
      .orderBy("symbol")
  }

  /** Per-symbol market beta: covariance of the symbol's daily return
    * with the equal-weight market return over the shared days, over
    * the market variance. Daily returns are round-6 BEFORE the
    * market average (identical doubles in), the market mean is an
    * exact decimal-sum divide, and the final moment ratio is round-6
    * (tolerance class).
    *
    * Scale shape: the fact-table work is one (symbol, day) aggregate;
    * the market table is one row per DAY — bounded by the calendar,
    * not the corpus — so it broadcasts to the per-symbol join at any
    * scale. No symbol x symbol pairing anywhere (contrast
    * [[pairCorrelation]], which caps its universe instead).
    */
  def beta(spark: SparkSession, dir: String, minDays: Int = 10): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy("day")
    val daily = quotes(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("symbol", "day")
      .agg((sum(col("price").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_price"))
      .withColumn("prev", lag(col("mean_price"), 1).over(byDay))
      .filter(col("prev").isNotNull && col("prev") > 0 && col("mean_price") > 0)
      .withColumn("ret", round(log(col("mean_price") / col("prev")), 6))
      .select("symbol", "day", "ret")
      .localCheckpoint()
    val market = daily.groupBy("day")
      .agg((sum(col("ret").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mkt_ret"))
    daily.join(broadcast(market), "day")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           round(covar_samp(col("ret"), col("mkt_ret")) /
                 var_samp(col("mkt_ret")), 6).as("beta"),
           var_samp(col("mkt_ret")).as("v"))
      .filter(col("n_days") >= minDays && col("v") > 0)
      .drop("v")
      .orderBy("symbol")
  }

  /** On-balance volume per symbol per tick: the running sum of
    * sign(price change) x volume — all integer arithmetic on cents
    * and volumes, exact at any scale. One (symbol) exchange serves
    * the lag, the sign, and the running sum.
    */
  def obv(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("delta", col("m") - lag(col("m"), 1).over(ord))
      .withColumn("signed_vol",
        when(col("delta") > 0, col("volume"))
          .when(col("delta") < 0, -col("volume"))
          .otherwise(lit(0L)))
      .withColumn("obv", sum(col("signed_vol")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .select("symbol", "id", "price", "obv")
      .orderBy("symbol", "id")
  }

  /** Per-symbol OLS price trend: slope/intercept of cents against the
    * tick index, from the closed-form normal equations on BIGINT
    * power sums promoted to DECIMAL(19,0) (n*Sxy overflows int64 at
    * ~1e5-tick series; 19-digit operands keep every product inside
    * the 38-digit decimal both engines share, exact through ~1e6-tick
    * series at 6-digit prices). The only doubles are
    * the two final divides of identical decimals — engine-exact, with
    * round-6 for presentation only.
    *
    * Scale shape: one (symbol) exchange for the row_number, then a
    * plain per-symbol hash aggregate of 5 sums — the textbook
    * map-side-combine shape, no window over the full series needed
    * beyond the index.
    */
  def regrTrend(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val dec = "decimal(19,0)"
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("x", row_number().over(ord).cast("long"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_ticks"),
           sum(col("x")).cast(dec).as("sx"),
           sum(col("m")).cast(dec).as("sy"),
           sum(col("x") * col("x")).cast(dec).as("sxx"),
           sum(col("x") * col("m")).cast(dec).as("sxy"))
      .withColumn("den", col("n_ticks").cast(dec) * col("sxx") - col("sx") * col("sx"))
      .filter(col("n_ticks") >= 3 && col("den") =!= 0)
      .select(col("symbol"), col("n_ticks"),
        round((col("n_ticks").cast(dec) * col("sxy") - col("sx") * col("sy")).cast("double") /
              col("den").cast("double") / 100, 6).as("slope_per_tick"),
        round((col("sy").cast("double") -
               (col("n_ticks").cast(dec) * col("sxy") - col("sx") * col("sy")).cast("double") /
               col("den").cast("double") * col("sx").cast("double")) /
              col("n_ticks") / 100, 6).as("intercept"))
      .orderBy("symbol")
  }

  /** RiskMetrics EWMA weight ladder (lambda = 0.94): the J.P. Morgan
    * volatility standard. Shared Doubles, the [[MacdFastW]] contract.
    */
  private[graft] val EwmaVolW: Seq[Double] =
    (0 until MacdLags).map(j => 0.06 * math.pow(0.94, j))

  /** RiskMetrics EWMA volatility per symbol per tick:
    * sigma_t = sqrt((1-lambda) * sum_j lambda^j * r^2_{t-j}), the
    * [[MacdLags]]-truncated explicit-weight form over squared log
    * returns with adaptive warm-up normalization — the same machinery
    * as [[macd]], so the whole chain is engine-exact double
    * arithmetic (each symbol's FIRST tick has no return and is
    * dropped before the window, keeping the weight denominator
    * strictly positive).
    *
    * Scale shape: one (symbol) exchange serves the return lag and the
    * 40 weight lags; flat codegen'd projections otherwise.
    */
  def ewmaVolatility(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val base = quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("ret", log(col("price") / lag(col("price"), 1).over(ord)))
      .filter(col("ret").isNotNull)
      .withColumn("rsq", col("ret") * col("ret"))
    base
      .withColumn("ar", emaArr(col("rsq"), ord))
      .select(col("symbol"), col("id"), col("price"),
        round(sqrt(truncEma(col("ar"), EwmaVolW)), 6).as("ewma_vol"))
      .orderBy("symbol", "id")
  }

  /** Historical 95% VaR and expected shortfall per symbol, as ORDER
    * STATISTICS: k = ceil(n/20) picked with pure integer arithmetic
    * ((n+19) div 20), VaR = the k-th smallest return, ES = the mean of
    * the k smallest — no percentile interpolation, whose formula
    * differs between engines. The tail mean sums round-6 DECIMAL
    * returns (order-independent), then rounds the mean to 6 decimals
    * IN INTEGER MICRO-UNITS — `round(sum/k, 6)` on the double
    * quotient hit an exact half boundary at sf0.01 (-16.715538/4 =
    * -4.1788845) where Spark's decimal-string HALF_UP and DuckDB's
    * binary-value rounding disagree; (2|num| + k) div 2k with the
    * sign re-applied is the same half-away-from-zero rule with no
    * float in sight.
    *
    * Scale shape: one (symbol) exchange for the return lag, the rank,
    * and both aggregates; the tail filter drops 95% of rows before
    * the final rollup.
    */
  def historicalVar(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val byRet = Window.partitionBy("symbol").orderBy(col("ret").asc, col("id").asc)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("ret", log(col("price") / lag(col("price"), 1).over(ord)))
      .filter(col("ret").isNotNull)
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("k", greatest(expr("(n + 19) div 20"), lit(1L)))
      .withColumn("rn", row_number().over(byRet))
      .filter(col("rn") <= col("k") && col("n") >= 20)
      .groupBy("symbol")
      .agg(max(col("n")).as("n_returns"),
           max(col("k")).as("k_tail"),
           round(max(when(col("rn") === col("k"), col("ret"))), 6).as("var95"),
           (sum(round(col("ret"), 6).cast("decimal(18,6)")) * 1000000)
             .cast("long").as("num"))
      .withColumn("es_micro",
        expr("""CASE WHEN num >= 0 THEN (2 * num + k_tail) div (2 * k_tail)
               |     ELSE -((2 * -num + k_tail) div (2 * k_tail)) END""".stripMargin))
      .select(col("symbol"), col("n_returns"), col("k_tail"), col("var95"),
        (col("es_micro").cast("double") / 1000000).as("es95"))
      .orderBy("symbol")
  }

  /** Amihud (2002) illiquidity per symbol: mean of |return| per unit
    * of dollar volume, the standard price-impact proxy. Each term is
    * scaled by 1e9 (the literature's convention for readable
    * magnitudes) and quantized at 6 decimals into an exact DECIMAL
    * sum; the mean then rounds in integer micro-units — the
    * [[historicalVar]] ES discipline, so no float aggregation order
    * and no round-half divergence anywhere. (Scale 6, not 9: the
    * decimal x 10^k widening must keep p <= 38 AFTER Spark's
    * precision-cap rules, which silently shave scale — and therefore
    * exactness — past it.) Dollar volume is integer cents x volume.
    */
  def amihudIlliquidity(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .filter(col("price") > 0 && col("volume") > 0)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("ret", log(col("price") / lag(col("price"), 1).over(ord)))
      .filter(col("ret").isNotNull)
      .withColumn("term",
        round(lit(1.0e9) * abs(col("ret")) / (col("m") * col("volume")), 6)
          .cast("decimal(18,6)"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_returns"),
           (sum(col("term")) * 1000000).cast("long").as("num"))
      .filter(col("n_returns") >= 3)
      .withColumn("micro",
        expr("""CASE WHEN num >= 0 THEN (2 * num + n_returns) div (2 * n_returns)
               |     ELSE -((2 * -num + n_returns) div (2 * n_returns)) END""".stripMargin))
      .select(col("symbol"), col("n_returns"),
        (col("micro").cast("double") / 1000000).as("amihud_x1e9"))
      .orderBy("symbol")
  }

  /** Longest underwater spell per symbol: the maximum run of
    * consecutive ticks strictly below the running peak — drawdown
    * DURATION beside [[maxDrawdown]]'s depth. Pure integer
    * gaps-and-islands (island id = global rn minus per-state rn) on
    * cents; one (symbol) exchange serves the peak window, both
    * row_numbers, and the rollup.
    */
  def underwaterSpells(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val byState = Window.partitionBy("symbol", "uw").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("peak", max(col("m")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("uw", col("m") < col("peak"))
      .withColumn("grp", row_number().over(ord) - row_number().over(byState))
      .filter(col("uw"))
      .groupBy(col("symbol"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_spells"),
           max(col("len")).as("max_underwater_ticks"),
           sum(col("len")).as("total_underwater_ticks"))
      .orderBy("symbol")
  }

  /** Per-symbol higher moments (skewness, excess kurtosis) computed
    * from EXACT power sums, not the engines' built-in skewness/
    * kurtosis aggregates — Spark's are population moments and
    * DuckDB's are bias-corrected sample moments, so the built-ins
    * can never agree; the power-sum route makes the definition the
    * operator's own and the arithmetic engine-exact: integer cents →
    * s1..s4 as DECIMAL sums (per-term m² stays in int64; m³/m⁴ are
    * promoted through DECIMAL(19,0) products so nothing overflows
    * through ~$10k prices and billion-tick series), then ONE shared
    * double expression per moment. m2^1.5 is spelled m2·sqrt(m2)
    * (sqrt is correctly rounded IEEE in both engines; pow is not
    * guaranteed to be).
    *
    * Scale shape: a pure per-symbol hash aggregate of five sums —
    * map-side combine, one exchange, no windows at all.
    */
  def moments(spark: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val d38 = "decimal(38,0)"
    val q = quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("m2", col("m") * col("m"))
      .withColumn("m3d", (col("m2").cast(d19) * col("m").cast(d19)).cast(d38))
      .withColumn("m4d", (col("m2").cast(d19) * col("m2").cast(d19)).cast(d38))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_ticks"),
           sum(col("m")).cast(d19).as("s1"),
           sum(col("m2")).cast(d19).as("s2"),
           sum(col("m3d")).cast(d38).as("s3"),
           sum(col("m4d")).cast(d38).as("s4"))
    val n  = col("n_ticks").cast("double")
    val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
    val s3 = col("s3").cast("double"); val s4 = col("s4").cast("double")
    val mean = s1 / n
    val m2 = s2 / n - mean * mean
    val m3 = s3 / n - lit(3.0) * mean * (s2 / n) + lit(2.0) * mean * mean * mean
    val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
             lit(6.0) * mean * mean * (s2 / n) -
             lit(3.0) * mean * mean * mean * mean
    q.withColumn("v", m2)
      .filter(col("n_ticks") >= 3 && col("v") > 0)
      .select(col("symbol"), col("n_ticks"),
        round(mean / 100, 6).as("mean_price"),
        round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
        round(m4 / (m2 * m2) - 3, 6).as("excess_kurtosis"))
      .orderBy("symbol")
  }

  /** Per-symbol CUSUM changepoint screen: the tick index t maximizing
    * |n*S_t - t*S_n| (the mean-shift CUSUM statistic scaled through
    * by n to stay in INTEGER cents — no mean subtraction, no floats
    * anywhere). Reports the changepoint tick and the normalized
    * statistic. Ties on |dev| break to the earliest tick. One
    * (symbol) exchange serves the cumulative sum, the totals, and the
    * argmax row_number.
    */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val ord  = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byDev = Window.partitionBy("symbol")
      .orderBy(abs(col("dev")).desc, col("t").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("m")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("total", sum(col("m")).over(full))
      .withColumn("dev", col("n") * col("cum") - col("t") * col("total"))
      .withColumn("rk", row_number().over(byDev))
      .filter(col("rk") === 1 && col("n") >= 3)
      .select(col("symbol"), col("n").as("n_ticks"),
        col("t").as("cp_tick"), col("id").as("cp_id"),
        abs(col("dev")).as("abs_dev"),
        round(abs(col("dev")).cast("double") /
              (col("n").cast("double") * col("n").cast("double")) / 100, 6)
          .as("cusum_stat"))
      .orderBy("symbol")
  }

  /** Daily bars in integer cents — the shared base for the range
    * indicators ([[atr]], [[parkinson]]): hi/lo/close per (symbol,
    * day) from the cent-rounded tick stream, close picked by the
    * descending row_number trick from [[ohlcBars]] (no min_by tie
    * divergence). One (symbol, day) exchange serves the window AND
    * the aggregation. */
  private def centBars(spark: SparkSession, dir: String): DataFrame = {
    val desc = Window.partitionBy("symbol", "day")
      .orderBy(col("ts_epoch").desc, col("id").desc)
    quotes(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy("symbol", "day")
      .agg(max(col("m")).as("hi"),
           min(col("m")).as("lo"),
           max(when(col("rn_d") === 1, col("m"))).as("cl"),
           count(lit(1)).as("n_ticks"),
           sum(coalesce(col("volume"), lit(0L))).as("vol"))
  }

  /** Money Flow Index over daily bars: volume-weighted RSI. The raw
    * flow rides 3·typicalPrice·volume = (hi+lo+cl)·vol — EXACT
    * integers (the 3 cancels in the ratio); a bar is positive or
    * negative by the sign of the typical-price move (flat bars join
    * neither side, the standard convention). Over the `period`-bar
    * frame MFI = 100·pos/(pos+neg) — one divide at the end, integer
    * everywhere else. Frames with zero total flow drop on both
    * engines. One (symbol) exchange serves the bar lag, the frame
    * sums, and the row_number gate.
    */
  def mfi(spark: SparkSession, dir: String, period: Int = 14): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("s", col("hi") + col("lo") + col("cl"))
      .withColumn("prev_s", lag(col("s"), 1).over(byDay))
      .filter(col("prev_s").isNotNull)
      .withColumn("f", col("s") * col("vol"))
      .withColumn("pos", sum(when(col("s") > col("prev_s"), col("f"))
        .otherwise(lit(0L))).over(frame))
      .withColumn("neg", sum(when(col("s") < col("prev_s"), col("f"))
        .otherwise(lit(0L))).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period && col("pos") + col("neg") > 0)
      .select(col("symbol"), col("day"), col("pos").as("pos_flow3"),
        col("neg").as("neg_flow3"),
        round(lit(100.0) * col("pos").cast("double") /
              (col("pos") + col("neg")).cast("double"), 6).as("mfi"))
      .orderBy("symbol", "day")
  }

  /** Chaikin Money Flow over daily bars: Σ(mfm·vol)/Σvol on the
    * `period`-bar frame, mfm = ((cl−lo)−(hi−cl))/(hi−lo). The per-bar
    * money-flow volume is one IEEE divide of integer terms, rounded
    * to 12 and LOCKED into DECIMAL(18,12) so the frame sum is exact
    * decimal arithmetic (the Parkinson ln² discipline); the volume
    * sum is integer. Bars with hi = lo contribute exactly 0 (the
    * standard degenerate-range convention). Emitted once the frame
    * is full; zero-volume frames drop on both engines.
    */
  def chaikinMoneyFlow(spark: SparkSession, dir: String,
                       period: Int = 20): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("mfv",
        when(col("hi") === col("lo"), lit(0.0).cast("decimal(18,12)"))
          .otherwise(round(
            ((lit(2L) * col("cl") - col("lo") - col("hi")) * col("vol"))
              .cast("double") / (col("hi") - col("lo")).cast("double"), 12)
            .cast("decimal(18,12)")))
      .withColumn("mfv_sum", sum(col("mfv")).over(frame)) // exact decimal sum
      .withColumn("vol_sum", sum(col("vol")).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period && col("vol_sum") > 0)
      .select(col("symbol"), col("day"), col("vol_sum").as("frame_volume"),
        round(col("mfv_sum").cast("double") / col("vol_sum").cast("double"), 6)
          .as("cmf"))
      .orderBy("symbol", "day")
  }

  /** Williams %R over daily bars: −100·(frameHigh − close)/(frameHigh
    * − frameLow) — the inverted stochastic. Pure integer ratio (cents
    * end to end), one divide, round-6; degenerate flat frames
    * (hi = lo) drop on both engines. One (symbol) exchange.
    */
  def williamsR(spark: SparkSession, dir: String, period: Int = 14): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("fh", max(col("hi")).over(frame))
      .withColumn("fl", min(col("lo")).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period && col("fh") > col("fl"))
      .select(col("symbol"), col("day"),
        round(lit(-100.0) * (col("fh") - col("cl")).cast("double") /
              (col("fh") - col("fl")).cast("double"), 6).as("williams_r"))
      .orderBy("symbol", "day")
  }

  /** Ichimoku lines over daily bars, periods scaled to this corpus's
    * ~25-bar symbol histories (5/10/20 for the classic 9/26/52; the
    * ratios, not the absolute spans, carry the indicator's meaning).
    * Each line is a Donchian midpoint — (frameHigh + frameLow)/2 —
    * EXACT integer half-cents until one divide per line: tenkan (p1),
    * kijun (p2), senkou B (p3), senkou A = (tenkan+kijun)/2 in
    * quarter-cents. The chart-plot displacement (+p2 forward for the
    * cloud, −p2 back for chikou) is a RENDERING offset, not a data
    * transform — lines are emitted at their computation bar and the
    * chikou line (a pure plot shift of close) is not duplicated.
    * Emitted once the longest frame fills. One (symbol) exchange
    * serves all three frames.
    */
  def ichimoku(spark: SparkSession, dir: String, p1: Int = 5,
               p2: Int = 10, p3: Int = 20): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    def mid2(p: Int) = // frameHigh + frameLow: integer double-midpoint
      max(col("hi")).over(byDay.rowsBetween(-(p - 1), 0)) +
        min(col("lo")).over(byDay.rowsBetween(-(p - 1), 0))
    centBars(spark, dir)
      .withColumn("t2", mid2(p1))
      .withColumn("k2", mid2(p2))
      .withColumn("b2", mid2(p3))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= p3)
      .select(col("symbol"), col("day"),
        round(col("t2").cast("double") / 200.0, 6).as("tenkan"),
        round(col("k2").cast("double") / 200.0, 6).as("kijun"),
        round((col("t2") + col("k2")).cast("double") / 400.0, 6).as("senkou_a"),
        round(col("b2").cast("double") / 200.0, 6).as("senkou_b"))
      .orderBy("symbol", "day")
  }

  /** Commodity Channel Index over daily bars, in EXACT integer
    * arithmetic until one final divide: with s = hi+lo+cl (3·typical
    * price — the 3 cancels in CCI's scale-free ratio) and
    * S = Σ_frame s, CCI = (s−mean)/(0.015·meandev) rewrites to
    * (p·s_i − S_i)·200p / (3·Σ_j |p·s_j − S_i|) — numerator and
    * denominator both integers, no float mean or deviation anywhere.
    * The mean-absolute-deviation needs the frame against its OWN
    * frame sum, which no single window expresses: the frame sum rides
    * one (symbol) window, then a BOUNDED `period`-row band self-join
    * on the bar table supplies Σ|20·s_j − S_i|. Bars are days ×
    * symbols — many orders below the tick fact at every scale — so
    * the ≤period-× fan-out is a dim-sized range join, not a fact
    * blow-up. Constant frames (zero deviation) drop on both engines.
    */
  def cci(spark: SparkSession, dir: String, period: Int = 20): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    val p = period.toLong
    val bars = centBars(spark, dir)
      .withColumn("s", col("hi") + col("lo") + col("cl"))
      .withColumn("rn", row_number().over(byDay).cast("long"))
      .withColumn("ssum", sum(col("s")).over(frame))
      .localCheckpoint() // one bar pass serves both join sides
    val i = bars.filter(col("rn") >= p)
      .select(col("symbol"), col("day"), col("rn"), col("s"), col("ssum"))
    val j = bars.select(col("symbol").as("j_symbol"), col("rn").as("j_rn"),
      col("s").as("j_s"))
    i.join(j, col("symbol") === col("j_symbol") &&
            col("j_rn").between(col("rn") - (p - 1), col("rn")))
      .groupBy(col("symbol"), col("day"), col("s"), col("ssum"))
      .agg(sum(abs(lit(p) * col("j_s") - col("ssum"))).as("adev"))
      .filter(col("adev") > 0)
      .select(col("symbol"), col("day"),
        round(((lit(p) * col("s") - col("ssum")) * lit(p * 200L)).cast("double") /
              (lit(3L) * col("adev")).cast("double"), 6).as("cci"))
      .orderBy("symbol", "day")
  }

  /** Average True Range over daily bars: TR = max(hi−lo, |hi−prevCl|,
    * |lo−prevCl|) in EXACT integer cents (first bar falls back to
    * hi−lo), ATR = the `period`-bar simple mean of TR (the SMA
    * variant — Wilder's recursive smoothing would force a running
    * state; the SMA form stays one window frame and is the
    * documented operating point). Integer until the single final
    * divide. Emitted once the frame is full.
    */
  def atr(spark: SparkSession, dir: String, period: Int = 14): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("prev_cl", lag(col("cl"), 1).over(byDay))
      .withColumn("tr",
        when(col("prev_cl").isNull, col("hi") - col("lo"))
          .otherwise(greatest(col("hi") - col("lo"),
            abs(col("hi") - col("prev_cl")), abs(col("lo") - col("prev_cl")))))
      .withColumn("rn", row_number().over(byDay))
      .withColumn("tr_sum", sum(col("tr")).over(frame))
      .filter(col("rn") >= period)
      .select(col("symbol"), col("day"), col("tr").as("tr_cents"),
        round(col("tr_sum").cast("double") / period / 100.0, 6).as("atr"))
      .orderBy("symbol", "day")
  }

  /** Donchian-channel breakout census: a tick breaks out when it
    * exceeds the max (falls below the min) of the PREVIOUS `period`
    * ticks — the frame ends at -1, so the comparison never sees the
    * current tick. All-integer cents; per symbol the count of up/down
    * breakouts and the last up-breakout tick id. One (symbol)
    * exchange for the window and the rollup.
    */
  def donchianBreakouts(spark: SparkSession, dir: String,
                        period: Int = 20): DataFrame = {
    val ord  = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val prev = ord.rowsBetween(-period, -1)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("rn", row_number().over(ord))
      .withColumn("ch_hi", max(col("m")).over(prev))
      .withColumn("ch_lo", min(col("m")).over(prev))
      .filter(col("rn") > period)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_eval"),
           sum(when(col("m") > col("ch_hi"), 1L).otherwise(0L)).as("n_breakout_up"),
           sum(when(col("m") < col("ch_lo"), 1L).otherwise(0L)).as("n_breakout_down"),
           max(when(col("m") > col("ch_hi"), col("id"))).as("last_up_id"))
      .orderBy("symbol")
  }

  /** Aroon(25) indicator per tick: 100·(period − ticksSinceHigh)/period,
    * EXACT in integers because period = 25 divides 100 (the score is
    * 4·(25 − age)). The "last position of the frame max" is a packed
    * argmax — m·2^33 + rn under max() picks the highest price, most
    * RECENT tick on ties; the min side packs (2^33−1−rn) so min()
    * picks lowest price, most recent tick. Same pack discipline as
    * the winnowing fingerprints (order-independent, decode by mod).
    * Headroom: cents < 2^30 (~$10M) as in [[moments]].
    */
  def aroon(spark: SparkSession, dir: String, period: Int = 25): DataFrame = {
    val B = 8589934592L // 2^33
    val ord   = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val frame = ord.rowsBetween(-(period - 1), 0)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("pack_hi", max(col("m") * B + col("rn")).over(frame))
      .withColumn("pack_lo", min(col("m") * B + (lit(B - 1) - col("rn"))).over(frame))
      .filter(col("rn") >= period)
      .select(col("symbol"), col("id"),
        (lit(4L) * (lit(period.toLong) - (col("rn") - col("pack_hi") % B)))
          .as("aroon_up"),
        (lit(4L) * (lit(period.toLong) -
          (col("rn") - (lit(B - 1) - col("pack_lo") % B)))).as("aroon_down"))
      .withColumn("oscillator", col("aroon_up") - col("aroon_down"))
      .orderBy("symbol", "id")
  }

  /** Per-symbol Sortino ratio: mean log return over DOWNSIDE
    * deviation (root mean square of the negative returns only, zeros
    * for up ticks) — the risk screen that does not punish upside,
    * beside [[sharpe]]. Moment aggregates are the round-6 tolerance
    * class; symbols with no down tick are dropped on both engines.
    */
  def sortino(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .filter(col("price") > 0)
      .withColumn("ret", log(col("price") / lag(col("price"), 1).over(w)))
      .filter(col("ret").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_returns"),
           avg(col("ret")).as("mean_ret"),
           avg(when(col("ret") < 0, col("ret") * col("ret")).otherwise(lit(0.0)))
             .as("dvar"))
      .filter(col("n_returns") >= 3 && col("dvar") > 0)
      .select(col("symbol"), col("n_returns"),
        round(col("mean_ret") / sqrt(col("dvar")), 6).as("sortino"))
      .orderBy("symbol")
  }

  /** Per-symbol Ulcer index: root-mean-square percent drawdown below
    * the running peak. Each tick's drawdown percent is rounded to 6
    * BEFORE squaring (identical doubles in), the square is EXACT
    * decimal arithmetic, and the sum is an exact decimal sum — so the
    * only engine-shared float ops are one divide and one sqrt. Peak
    * is the integer running max (the [[maxDrawdown]] discipline).
    */
  def ulcerIndex(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("peak", max(col("m")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("peak") > 0)
      .withColumn("dd6",
        round(lit(100.0) * (col("peak") - col("m")).cast("double") / col("peak"), 6)
          .cast("decimal(12,6)"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_ticks"),
           sum(col("dd6") * col("dd6")).as("sq")) // exact decimal(24,12) sum
      .select(col("symbol"), col("n_ticks"),
        round(sqrt(col("sq").cast("double") / col("n_ticks")), 6).as("ulcer_index"))
      .orderBy("symbol")
  }

  /** Parkinson range volatility over daily bars:
    * sqrt(Σ ln(hi/lo)² / (4·ln2·n)). The per-bar ln² is IEEE-identical
    * (integer-cent ratio through one ln and one multiply), rounded to
    * 12 and summed as EXACT decimals (the bigram-ppl discipline);
    * 4·ln2 is a hardcoded double literal so neither engine's ln(2)
    * rounding enters. Bars with hi = lo contribute exactly 0.
    */
  def parkinson(spark: SparkSession, dir: String): DataFrame = {
    val ln2x4 = 2.772588722239781 // 4 * ln(2), fixed literal in both engines
    centBars(spark, dir)
      .filter(col("lo") > 0)
      .withColumn("l", log(col("hi").cast("double") / col("lo")))
      .withColumn("l2", round(col("l") * col("l"), 12).cast("decimal(18,12)"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           sum(col("l2")).as("s")) // exact decimal sum
      .filter(col("n_days") >= 2)
      .select(col("symbol"), col("n_days"),
        round(sqrt(col("s").cast("double") / (lit(ln2x4) * col("n_days"))), 6)
          .as("parkinson_vol"))
      .orderBy("symbol")
  }

  /** Tick-direction streaks per symbol: maximal runs of consecutive
    * up (+1), down (−1), or flat (0) tick-to-tick moves — the
    * gaps-and-islands twin of [[underwaterSpells]] keyed on move
    * direction instead of drawdown state. All-integer; one (symbol)
    * exchange serves both row_numbers and the rollups.
    */
  def directionStreaks(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val byDir = Window.partitionBy("symbol", "dir")
      .orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("dir", signum((col("m") - lag(col("m"), 1).over(ord)).cast("double"))
        .cast("bigint"))
      .filter(col("dir").isNotNull)
      .withColumn("grp", row_number().over(ord) - row_number().over(byDir))
      .groupBy(col("symbol"), col("dir"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy("symbol", "dir")
      .agg(count(lit(1)).as("n_runs"),
           max(col("len")).as("max_run"),
           sum(col("len")).as("total_ticks"))
      .orderBy("symbol", "dir")
  }

  /** Keltner channels in Chester Keltner's ORIGINAL formulation:
    * center = SMA(typical price, p), band = SMA(hi−lo, p),
    * upper/lower = center ± band. Chosen over the later EMA±ATR
    * variant precisely because it is frame-sum-only — no recursive
    * state, so the whole indicator is exact integer cents until one
    * divide per line: with s = hi+lo+cl (3·typical) and r = hi−lo,
    * center = Σs/(300p), upper = (Σs+3Σr)/(300p), lower symmetric —
    * all-integer numerators. Emitted once the frame fills. One
    * (symbol) exchange serves both frame sums.
    */
  def keltner(spark: SparkSession, dir: String, period: Int = 10): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    val d = 300.0 * period
    centBars(spark, dir)
      .withColumn("ssum", sum(col("hi") + col("lo") + col("cl")).over(frame))
      .withColumn("rsum", sum(col("hi") - col("lo")).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period)
      .select(col("symbol"), col("day"),
        round(col("ssum").cast("double") / d, 6).as("center"),
        round((col("ssum") + lit(3L) * col("rsum")).cast("double") / d, 6)
          .as("upper_band"),
        round((col("ssum") - lit(3L) * col("rsum")).cast("double") / d, 6)
          .as("lower_band"))
      .orderBy("symbol", "day")
  }

  /** Vortex indicator over daily bars: VI+ = Σ|hi−prevLo| / ΣTR,
    * VI− = Σ|lo−prevHi| / ΣTR on the `period`-bar frame, TR as in
    * [[atr]]. First bar (no previous close) is excluded so every
    * term has a real predecessor. All-integer frame sums, two final
    * divides, round-6; zero-range frames (ΣTR = 0) drop on both
    * engines. One (symbol) exchange serves the lags and all three
    * frame sums.
    */
  def vortex(spark: SparkSession, dir: String, period: Int = 14): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("prev_cl", lag(col("cl"), 1).over(byDay))
      .withColumn("prev_hi", lag(col("hi"), 1).over(byDay))
      .withColumn("prev_lo", lag(col("lo"), 1).over(byDay))
      .filter(col("prev_cl").isNotNull)
      .withColumn("tr", greatest(col("hi") - col("lo"),
        abs(col("hi") - col("prev_cl")), abs(col("lo") - col("prev_cl"))))
      .withColumn("vmp", abs(col("hi") - col("prev_lo")))
      .withColumn("vmm", abs(col("lo") - col("prev_hi")))
      .withColumn("tr_sum", sum(col("tr")).over(frame))
      .withColumn("vmp_sum", sum(col("vmp")).over(frame))
      .withColumn("vmm_sum", sum(col("vmm")).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period && col("tr_sum") > 0)
      .select(col("symbol"), col("day"),
        round(col("vmp_sum").cast("double") / col("tr_sum").cast("double"), 6)
          .as("vi_plus"),
        round(col("vmm_sum").cast("double") / col("tr_sum").cast("double"), 6)
          .as("vi_minus"))
      .orderBy("symbol", "day")
  }

  /** Chande Momentum Oscillator over daily closes:
    * 100·(Σup − Σdown)/(Σup + Σdown) on the `period`-move frame — the
    * unsmoothed, symmetric cousin of RSI (reads ±100 at one-way
    * runs). Close-to-close moves are exact integer cents; one divide
    * at the end. Frames with no movement (denominator 0) drop on
    * both engines. One (symbol) exchange.
    */
  def chandeMomentum(spark: SparkSession, dir: String,
                     period: Int = 14): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("d", col("cl") - lag(col("cl"), 1).over(byDay))
      .filter(col("d").isNotNull)
      .withColumn("up", sum(when(col("d") > 0, col("d")).otherwise(lit(0L)))
        .over(frame))
      .withColumn("dn", sum(when(col("d") < 0, -col("d")).otherwise(lit(0L)))
        .over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period && col("up") + col("dn") > 0)
      .select(col("symbol"), col("day"),
        round(lit(100.0) * (col("up") - col("dn")).cast("double") /
              (col("up") + col("dn")).cast("double"), 6).as("cmo"))
      .orderBy("symbol", "day")
  }

  /** Elder's Force Index, SMA-smoothed: per-bar force = (cl −
    * prevCl)·volume (integer cents × exact BIGINT volume), the
    * reported index its `period`-bar mean in dollar·share units —
    * one divide by 100p at the end. The SMA form (not Elder's EMA)
    * keeps it a single window frame, per the [[atr]] rationale.
    * Emitted once the frame fills; first bar excluded (no previous
    * close). One (symbol) exchange.
    */
  def forceIndex(spark: SparkSession, dir: String, period: Int = 13): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("prev_cl", lag(col("cl"), 1).over(byDay))
      .filter(col("prev_cl").isNotNull)
      .withColumn("f", (col("cl") - col("prev_cl")) * col("vol"))
      .withColumn("fsum", sum(col("f")).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period)
      .select(col("symbol"), col("day"), col("f").as("force_raw_centshares"),
        round(col("fsum").cast("double") / (100.0 * period), 6)
          .as("force_index"))
      .orderBy("symbol", "day")
  }

  /** Per-symbol Calmar-style ratio on daily closes: total return over
    * maximum drawdown. Both components are IEEE divides of EXACT
    * integer cents — (clN−cl1)/cl1 and max over bars of
    * (peak−cl)/peak — so MAX over deterministic doubles and the final
    * ratio are engine-identical (the same discipline as
    * [[maxDrawdown]]). Symbols that never draw down (maxdd = 0) or
    * with a single bar drop on both engines.
    */
  def calmar(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    centBars(spark, dir)
      .withColumn("peak", max(col("cl")).over(
        byDay.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("peak") > 0) // drop an all-zero-close prefix (sf0.1 has 0.00 ticks)
      .withColumn("dd", (col("peak") - col("cl")).cast("double") /
        col("peak").cast("double"))
      .withColumn("rn", row_number().over(byDay))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           max(when(col("rn") === 1, col("cl"))).as("first_cl"),
           max(col("rn") * lit(1L << 33) + col("cl")).as("pack_last"),
           max(col("dd")).as("maxdd"))
      .filter(col("n_days") >= 2 && col("maxdd") > 0)
      .withColumn("last_cl", col("pack_last") % lit(1L << 33))
      .select(col("symbol"), col("n_days"),
        round((col("last_cl") - col("first_cl")).cast("double") /
              col("first_cl").cast("double"), 6).as("total_return"),
        round(col("maxdd"), 6).as("max_drawdown"),
        round(((col("last_cl") - col("first_cl")).cast("double") /
               col("first_cl").cast("double")) / col("maxdd"), 6).as("calmar"))
      .orderBy("symbol")
  }

  /** Theil–Sen robust trend per symbol over daily closes: the median
    * of all pairwise slopes (cl_j − cl_i)/(j − i) — the estimator a
    * single flash-crash bar cannot drag, beside the least-squares
    * [[regrTrend]]. Slopes are exact integer fractions; their sort
    * key is the IEEE ratio of small ints (deterministic in both
    * engines) with the full (d, g, i, j) integer tie-break, and the
    * reported median is the LOWER median (rank ⌈n/2⌉ — no averaging,
    * so the output is one of the exact slopes). The pair join is
    * bars × bars WITHIN a symbol — days are calendar-bounded, so the
    * fan-out is dim-sized at any corpus scale (the [[cci]]
    * rationale); one (symbol) exchange serves bars, pairs, and the
    * rank cut.
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val bars = centBars(spark, dir)
      .withColumn("rn", row_number().over(byDay).cast("long"))
      .select(col("symbol"), col("rn"), col("cl"))
      .localCheckpoint() // one bar pass serves both join sides
    val j = bars.select(col("symbol").as("j_symbol"), col("rn").as("j_rn"),
      col("cl").as("j_cl"))
    val pairs = bars.join(j, col("symbol") === col("j_symbol") &&
        col("j_rn") > col("rn"))
      .select(col("symbol"), (col("j_cl") - col("cl")).as("d"),
        (col("j_rn") - col("rn")).as("g"), col("rn").as("i"), col("j_rn").as("jj"))
    val bySlope = Window.partitionBy("symbol")
      .orderBy((col("d").cast("double") / col("g")).asc,
        col("d").asc, col("g").asc, col("i").asc, col("jj").asc)
    val cnt = Window.partitionBy("symbol")
    pairs
      .withColumn("rk", row_number().over(bySlope).cast("long"))
      .withColumn("np", count(lit(1)).over(cnt))
      // floor((np+1)/2): Column./ is DOUBLE division, so the raw form
      // only matches rk on odd pair counts
      .filter(col("rk") === floor((col("np") + 1) / 2))
      .select(col("symbol"), col("np").as("n_pairs"),
        round(col("d").cast("double") / col("g") / 100.0, 6)
          .as("theil_sen_slope"))
      .orderBy("symbol")
  }

  /** Roll's implied bid–ask spread per symbol: 2·√(−cov(Δp_t,
    * Δp_{t−1})) — the microstructure estimator that reads the
    * bounce between bid and ask out of the serial covariance of tick
    * moves (Roll 1984). Moves and their lag-1 products are exact
    * integer cents; the sample covariance expands to the all-integer
    * form (nΣxy − ΣxΣy)/(n(n−1)) ([[varianceRatio]] discipline,
    * same ~2⁶⁰ headroom), and the estimator is defined only where
    * the covariance is NEGATIVE (positive serial covariance carries
    * no bounce — those symbols drop on both engines, the standard
    * convention). One (symbol) exchange.
    */
  def rollSpread(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("x", col("m") - lag(col("m"), 1).over(ord))
      .withColumn("y", lag(col("x"), 1).over(ord))
      .filter(col("y").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
           sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"))
      .filter(col("n") >= 2 &&
        col("n") * col("sxy") - col("sx") * col("sy") < 0)
      .select(col("symbol"), col("n").as("n_move_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * (col("n") - 1)).cast("double"), 6).as("serial_cov"),
        round(lit(2.0) * sqrt(-((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / (col("n") * (col("n") - 1)).cast("double"))) /
          100.0, 6).as("roll_spread"))
      .orderBy("symbol")
  }

  /** Day-of-week seasonality: the close-to-close move census pooled
    * across symbols per ISO weekday — mean move, up-share, and the
    * move dispersion, all from exact integer cents with one divide
    * per output column. A 7-row result off one (symbol) window pass
    * and one bounded rollup.
    */
  def dowEffect(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    centBars(spark, dir)
      .withColumn("d", col("cl") - lag(col("cl"), 1).over(byDay))
      .filter(col("d").isNotNull)
      .withColumn("dow", dayofweek(col("day")).cast("bigint"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_moves"),
           sum(col("d")).as("sd"), sum(col("d") * col("d")).as("sdd"),
           sum(when(col("d") > 0, 1L).otherwise(0L)).as("n_up"))
      .filter(col("n_moves") >= 2)
      .select(col("dow"), col("n_moves"),
        round(col("sd").cast("double") / col("n_moves") / 100.0, 6)
          .as("mean_move"),
        round(col("n_up").cast("double") / col("n_moves"), 6).as("up_share"),
        round(sqrt((col("n_moves") * col("sdd") - col("sd") * col("sd"))
            .cast("double") /
          (col("n_moves") * (col("n_moves") - 1)).cast("double")) / 100.0, 6)
          .as("move_std"))
      .orderBy("dow")
  }

  /** Aggregated-variance Hurst exponent per symbol: the OLS slope of
    * ln Var(m_t − m_{t−k}) against ln k over k ∈ {1,2,4,8,16},
    * halved — H ≈ 0.5 random walk, > 0.5 trending, < 0.5 mean-
    * reverting; the long-memory companion of [[varianceRatio]]'s
    * two-point test. Each variance is the all-integer
    * (nΣd² − (Σd)²)/(n(n−1)) form; the ks are PIVOTED into fixed
    * columns of ONE hash aggregate, so the 5-point OLS is a single
    * literal-ordered double expression (no 5-row sub-aggregation
    * whose float summation order could drift): with x_i = i = log₂k,
    * slope = (5Σxy − 10Σy)/50 and H = slope/(2·ln 2) with a
    * hardcoded ln 2 (the [[parkinson]] literal discipline). Symbols
    * missing any operating point (any var ≤ 0 or n_16 < 2) drop on
    * both engines. One (symbol) exchange.
    */
  def hurst(spark: SparkSession, dir: String): DataFrame = {
    val ln2 = 0.6931471805599453 // shared literal in both engines
    val ks = Seq(1, 2, 4, 8, 16)
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val withDiffs = ks.foldLeft(
      quotes(spark, dir).withColumn("m", round(col("price") * 100).cast("bigint"))) {
      case (df, k) => df.withColumn(s"d$k", col("m") - lag(col("m"), k).over(ord))
    }
    val aggs = ks.flatMap { k =>
      Seq(count(col(s"d$k")).as(s"n$k"), sum(col(s"d$k")).as(s"s$k"),
        sum(col(s"d$k") * col(s"d$k")).as(s"q$k"))
    }
    def varOf(k: Int): Column =
      (col(s"n$k") * col(s"q$k") - col(s"s$k") * col(s"s$k")).cast("double") /
        (col(s"n$k") * (col(s"n$k") - 1)).cast("double")
    val g = withDiffs.groupBy("symbol").agg(aggs.head, aggs.tail: _*)
      .filter(col("n16") >= 2 &&
        ks.map(k => col(s"n$k") * col(s"q$k") - col(s"s$k") * col(s"s$k") > 0)
          .reduce(_ && _))
    // literal-ordered 5-term sums: ((((y0+y1)+y2)+y3)+y4)
    val ys  = ks.map(k => log(varOf(k)))
    val sy  = ys.reduce(_ + _)
    val sxy = ys.zipWithIndex.map { case (y, i) => y * lit(i.toDouble) }
      .reduce(_ + _)
    g.select(col("symbol"), col("n1").as("n_moves"),
        round((lit(5.0) * sxy - lit(10.0) * sy) / lit(50.0) / (2.0 * ln2), 6)
          .as("hurst"))
      .orderBy("symbol")
  }

  /** Kyle's lambda per symbol: the OLS slope of the tick price move
    * on the signed trade volume (order flow) — the price-impact
    * coefficient that prices "how many cents does a thousand shares
    * move this symbol" (Kyle 1985), beside [[rollSpread]] and
    * [[amihudIlliquidity]]. Moves are exact cents, signed volume an
    * exact BIGINT (sign(move)·volume — the tick-rule flow proxy);
    * the slope is the all-integer (nΣdv − ΣdΣv)/(nΣv² − (Σv)²) form
    * reported in cents per 1000 shares (·1000 before the round-6 so
    * small impacts survive the rounding). Flow-less symbols
    * (zero flow variance) drop on both engines. One (symbol)
    * exchange.
    */
  def kyleLambda(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("d", col("m") - lag(col("m"), 1).over(ord))
      .filter(col("d").isNotNull)
      .withColumn("v", signum(col("d").cast("double")).cast("bigint") *
        coalesce(col("volume"), lit(0L)))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd"),
           sum(col("v")).as("sv"),
           sum((col("d") * col("v")).cast("decimal(38,0)")).as("sdv"),
           sum((col("v") * col("v")).cast("decimal(38,0)")).as("svv"))
      .filter(col("n") >= 3 &&
        col("n") * col("svv") - col("sv").cast("decimal(38,0)") * col("sv") > 0)
      .select(col("symbol"), col("n").as("n_moves"),
        round(lit(1000.0) *
          (col("n") * col("sdv") - col("sd").cast("decimal(38,0)") * col("sv"))
            .cast("double") /
          (col("n") * col("svv") - col("sv").cast("decimal(38,0)") * col("sv"))
            .cast("double"), 6).as("kyle_lambda_per_kshare"))
      .orderBy("symbol")
  }

  /** Autocorrelation profile per symbol: the ACF of cent prices at
    * lags 1/2/4/8 — the memory-structure fingerprint one number
    * ([[autocorr]]'s lag-1 on returns) cannot show. Each lag's
    * Pearson correlation is computed over the PAIRED window (x = m_t
    * for t > k, y = m_{t−k}) in the all-integer expansion
    * (nΣxy − ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) with the big power
    * sums accumulated as DECIMAL(38,0) (the emb_dim_stats overflow
    * discipline — matching DuckDB's HUGEINT promotion); the four
    * lags are PIVOTED into one hash aggregate ([[hurst]]). Symbols
    * with a degenerate window (either variance 0) at any lag drop on
    * both engines. One (symbol) exchange.
    */
  def acfProfile(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(1, 2, 4, 8)
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val withLags = ks.foldLeft(
      quotes(spark, dir).withColumn("m", round(col("price") * 100).cast("bigint"))) {
      case (df, k) => df.withColumn(s"y$k", lag(col("m"), k).over(ord))
    }
    val big = (c: Column) => c.cast("decimal(38,0)")
    val aggs = ks.flatMap { k =>
      val x = when(col(s"y$k").isNotNull, col("m"))
      val y = col(s"y$k")
      Seq(count(y).as(s"n$k"), sum(x).as(s"sx$k"), sum(y).as(s"sy$k"),
        sum(big(x * x)).as(s"qx$k"), sum(big(y * y)).as(s"qy$k"),
        sum(big(x * y)).as(s"xy$k"))
    }
    def varX(k: Int) = col(s"n$k") * col(s"qx$k") - big(col(s"sx$k")) * col(s"sx$k")
    def varY(k: Int) = col(s"n$k") * col(s"qy$k") - big(col(s"sy$k")) * col(s"sy$k")
    def acf(k: Int) =
      round((col(s"n$k") * col(s"xy$k") - big(col(s"sx$k")) * col(s"sy$k"))
          .cast("double") /
        sqrt(varX(k).cast("double") * varY(k).cast("double")), 6)
    withLags.groupBy("symbol").agg(aggs.head, aggs.tail: _*)
      .filter(col("n8") >= 2 &&
        ks.map(k => varX(k) > 0 && varY(k) > 0).reduce(_ && _))
      .select(col("symbol") +: col("n1").as("n_pairs_1") +:
        ks.map(k => acf(k).as(s"acf_$k")): _*)
      .orderBy("symbol")
  }

  /** One-way ANOVA of daily close-to-close moves by ISO weekday — the
    * significance companion of [[dowEffect]]'s means: η² (variance
    * explained by weekday) and the F statistic. The seven groups are
    * PIVOTED into fixed columns of ONE corpus aggregate (the [[hurst]]
    * move), so every between/within sum of squares is a
    * literal-ordered double expression over exact integer
    * (n_g, Σd, Σd²) triples — empty weekdays contribute exact zeros,
    * no cross-row float summation exists. Output is one row.
    */
  def dowAnova(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val moves = centBars(spark, dir)
      .withColumn("d", col("cl") - lag(col("cl"), 1).over(byDay))
      .filter(col("d").isNotNull)
      .withColumn("dow", dayofweek(col("day")))
    val dows = 1 to 7
    val aggs = Seq(count(lit(1)).as("n"), sum(col("d")).as("s"),
      sum(col("d") * col("d")).as("q")) ++
      dows.flatMap { i =>
        Seq(sum(when(col("dow") === i, 1L).otherwise(0L)).as(s"n$i"),
          sum(when(col("dow") === i, col("d")).otherwise(lit(0L))).as(s"s$i"))
      }
    val g = moves.agg(aggs.head, aggs.tail: _*)
    // Σ_g S_g²/n_g, literal-ordered over the 7 fixed weekday columns
    val groupTerm = dows.map { i =>
      when(col(s"n$i") > 0,
        col(s"s$i").cast("double") * col(s"s$i").cast("double") /
          col(s"n$i").cast("double")).otherwise(lit(0.0))
    }.reduce(_ + _)
    val kGroups = dows.map(i =>
      when(col(s"n$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    g.withColumn("gt", groupTerm)
      .withColumn("k", kGroups)
      .withColumn("grand", col("s").cast("double") * col("s").cast("double") /
        col("n").cast("double"))
      .withColumn("ssb", col("gt") - col("grand"))
      .withColumn("ssw", col("q").cast("double") - col("gt"))
      .withColumn("sst", col("q").cast("double") - col("grand"))
      .filter(col("k") >= 2 && col("n") > col("k") && col("sst") > 0 &&
        col("ssw") > 0)
      .select(col("n").as("n_moves"), col("k").as("k_groups"),
        round(col("ssb") / col("sst"), 6).as("eta_sq"),
        round((col("ssb") / (col("k") - 1).cast("double")) /
              (col("ssw") / (col("n") - col("k")).cast("double")), 6)
          .as("f_stat"))
  }

  /** Lo–MacKinlay variance-ratio diagnostic on tick-level cent
    * moves: VR(k) = Var(m_t − m_{t−k}) / (k · Var(m_t − m_{t−1}))
    * with overlapping k-differences — 1 for a random walk, <1 mean
    * reversion, >1 trending. Sample variances expand to the
    * all-integer form (nΣd² − (Σd)²)/(n(n−1)): Σd and Σd² are EXACT
    * longs (cents < 2³⁰ per [[moments]], so d² < 2⁶⁰/n headroom
    * holds to ~10⁸ ticks per symbol), and the final expression is
    * one deterministic double formula of exact integer terms.
    * Degenerate symbols (zero 1-tick variance or fewer than k+2
    * ticks) drop on both engines. One (symbol) exchange serves both
    * lags and the rollup.
    */
  def varianceRatio(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("d1", col("m") - lag(col("m"), 1).over(ord))
      .withColumn("dk", col("m") - lag(col("m"), k).over(ord))
      .groupBy("symbol")
      .agg(count(col("d1")).as("n1"), sum(col("d1")).as("s1"),
           sum(col("d1") * col("d1")).as("q1"),
           count(col("dk")).as("nk"), sum(col("dk")).as("sk"),
           sum(col("dk") * col("dk")).as("qk"))
      .filter(col("nk") >= 2 && col("n1") * col("q1") - col("s1") * col("s1") > 0)
      .select(col("symbol"), col("n1").as("n_moves"),
        round(((col("nk") * col("qk") - col("sk") * col("sk")).cast("double") /
               (col("nk") * (col("nk") - 1)).cast("double")) /
              (lit(k.toDouble) *
               (col("n1") * col("q1") - col("s1") * col("s1")).cast("double") /
               (col("n1") * (col("n1") - 1)).cast("double")), 6)
          .as(s"vr_$k"))
      .orderBy("symbol")
  }

  /** Directional movement system (Wilder 1978, frame-sum variant)
    * over daily bars: +DM/-DM pick the larger of the two directional
    * moves (zero when inside days), TR as in [[atr]]; DI+/- are
    * 100 * frame-sum ratios, DX = 100*|DI+ - DI-|/(DI+ + DI-)
    * collapses to a pure integer ratio of the SAME frame sums, and
    * ADX is the `period`-bar mean of micro-unit-rounded DX — an exact
    * BIGINT sum (the [[Stats]] micro-unit discipline), so the nested
    * smoothing never sums raw doubles. The frame-sum (SMA) smoothing
    * replaces Wilder's recursive smoothing — the standard
    * non-recursive variant, chosen because it keeps every term
    * integer; the recursion lives in the streaming twins' state shape
    * if ever needed. Rows emit once BOTH windows are warm
    * (rn >= 2*period - 1). A frame with zero directional movement
    * contributes DX = 0 (documented; both engines agree by
    * construction). One (symbol) exchange serves the lags, the frame
    * sums, and the ADX window.
    */
  def adxDmi(spark: SparkSession, dir: String, period: Int = 14): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("prev_hi", lag(col("hi"), 1).over(byDay))
      .withColumn("prev_lo", lag(col("lo"), 1).over(byDay))
      .withColumn("prev_cl", lag(col("cl"), 1).over(byDay))
      .filter(col("prev_cl").isNotNull)
      .withColumn("up", col("hi") - col("prev_hi"))
      .withColumn("dn", col("prev_lo") - col("lo"))
      .withColumn("pdm", when(col("up") > col("dn") && col("up") > 0, col("up"))
        .otherwise(lit(0L)))
      .withColumn("mdm", when(col("dn") > col("up") && col("dn") > 0, col("dn"))
        .otherwise(lit(0L)))
      .withColumn("tr", greatest(col("hi") - col("lo"),
        abs(col("hi") - col("prev_cl")), abs(col("lo") - col("prev_cl"))))
      .withColumn("sp", sum(col("pdm")).over(frame))
      .withColumn("sm", sum(col("mdm")).over(frame))
      .withColumn("st", sum(col("tr")).over(frame))
      .withColumn("dx_u", when(col("sp") + col("sm") > 0,
        round(lit(100.0) * abs(col("sp") - col("sm")).cast("double") /
              (col("sp") + col("sm")).cast("double") * 1e6).cast("bigint"))
        .otherwise(lit(0L)))
      .withColumn("adx_u", sum(col("dx_u")).over(frame))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= 2 * period - 1 && col("st") > 0)
      .select(col("symbol"), col("day"),
        round(lit(100.0) * col("sp").cast("double") / col("st").cast("double"), 6)
          .as("di_plus"),
        round(lit(100.0) * col("sm").cast("double") / col("st").cast("double"), 6)
          .as("di_minus"),
        round(col("dx_u").cast("double") / 1e6, 6).as("dx"),
        round(col("adx_u").cast("double") / (lit(period.toDouble) * 1e6), 6)
          .as("adx"))
      .orderBy("symbol", "day")
  }

  /** Detrended price oscillator: close minus the `period`-bar SMA
    * displaced `period/2 + 1` bars back — the classic cycle isolator.
    * The displaced SMA is a lag of the frame sum, so the whole
    * indicator is the exact integer `period*cl - lagged_sum` with one
    * divide by 100*period at the end. Emits once the displaced frame
    * exists (rn >= period + period/2 + 1). One (symbol) exchange.
    */
  def dpo(spark: SparkSession, dir: String, period: Int = 10): DataFrame = {
    val shift = period / 2 + 1
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val frame = byDay.rowsBetween(-(period - 1), 0)
    centBars(spark, dir)
      .withColumn("s", sum(col("cl")).over(frame))
      .withColumn("s_shift", lag(col("s"), shift).over(byDay))
      .withColumn("rn", row_number().over(byDay))
      .filter(col("rn") >= period + shift)
      .select(col("symbol"), col("day"),
        round((lit(period.toLong) * col("cl") - col("s_shift")).cast("double") /
              (lit(100.0) * period), 6).as("dpo"))
      .orderBy("symbol", "day")
  }

  /** Elder Ray (Elder 1993): bull power = high - EMA13(close), bear
    * power = low - EMA13(close), over daily bars. The EMA rides the
    * [[truncEma]] explicit-weight ladder ([[ElderW]], published
    * alpha = 2/14) over pre-projected integer-cent lag columns — the
    * [[macd]] discipline, warm-up-adaptive, engine-exact because both
    * engines multiply the same Double literals in the same order.
    */
  def elderRay(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    centBars(spark, dir)
      .withColumn("ac", emaArr(col("cl"), byDay))
      .withColumn("ema", truncEma(col("ac"), ElderW))
      .select(col("symbol"), col("day"),
        round((col("hi").cast("double") - col("ema")) / 100, 6).as("bull_power"),
        round((col("lo").cast("double") - col("ema")) / 100, 6).as("bear_power"))
      .orderBy("symbol", "day")
  }

  /** Omega ratio at threshold 0 over daily close-to-close moves:
    * sum of gains over sum of losses — the whole-distribution
    * risk-reward ratio (Keating & Shadwick 2002). Moves are exact
    * integer cents; two integer frame-free sums, one divide. Symbols
    * that never lose (zero denominator) drop on both engines.
    */
  def omegaRatio(spark: SparkSession, dir: String, minDays: Int = 10): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    centBars(spark, dir)
      .withColumn("d", col("cl") - lag(col("cl"), 1).over(byDay))
      .filter(col("d").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           sum(when(col("d") > 0, col("d")).otherwise(lit(0L))).as("gains"),
           sum(when(col("d") < 0, -col("d")).otherwise(lit(0L))).as("losses"))
      .filter(col("n_days") >= minDays && col("losses") > 0)
      .select(col("symbol"), col("n_days"),
        round(col("gains").cast("double") / col("losses").cast("double"), 6)
          .as("omega"),
        round(col("gains").cast("double") /
              (col("gains") + col("losses")).cast("double"), 6)
          .as("upside_share"))
      .orderBy("symbol")
  }

  /** Pain index (mean drawdown ratio) per symbol over daily closes:
    * per day the drawdown from the running peak as a micro-unit
    * BIGINT, then the exact integer mean — the "average suffering"
    * companion to [[drawdown]]'s worst case. The running peak is an
    * integer running max; one divide per day, integer sums after.
    */
  def painIndex(spark: SparkSession, dir: String, minDays: Int = 5): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val run = byDay.rowsBetween(Window.unboundedPreceding, 0)
    centBars(spark, dir)
      .withColumn("peak", max(col("cl")).over(run))
      // an all-zero-price prefix gives peak = 0: define its drawdown 0
      // (guard keeps ANSI division alive on both engines)
      .withColumn("dd_u", when(col("peak") > 0,
        round((col("peak") - col("cl")).cast("double") /
          col("peak").cast("double") * 1e6).cast("bigint")).otherwise(lit(0L)))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           sum(col("dd_u")).as("pain_u"),
           max(col("dd_u")).as("max_u"))
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"),
        round(col("pain_u").cast("double") / col("n_days").cast("double") / 1e6, 6)
          .as("pain_index"),
        round(col("max_u").cast("double") / 1e6, 6).as("max_drawdown"))
      .orderBy("symbol")
  }

  /** Coppock curve (Coppock 1962), daily adaptation: the 10-bar
    * front-weighted WMA of ROC(14) + ROC(11) on daily closes. Each
    * ROC is rounded to micro-percent BIGINT (one divide), their sum
    * stays BIGINT, and the WMA's integer weights (10..1, total 55)
    * make the weighted sum EXACT — the only remaining double is the
    * final divide by 55e6. Emits when the slowest ROC lag chain is
    * full (rn >= 24). One (symbol) exchange serves every lag.
    */
  def coppock(spark: SparkSession, dir: String,
              roc1: Int = 14, roc2: Int = 11, wma: Int = 10): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val rocU = (k: Int) => {
      val prev = lag(col("cl"), k).over(byDay)
      // prev = 0 is a real corpus state (sub-cent prices round to 0);
      // the guard keeps ANSI mode from faulting and drops the row's
      // ROC to NULL on both engines
      when(prev > 0,
        round((col("cl") - prev).cast("double") / prev.cast("double") * 1e8)
          .cast("bigint")).otherwise(lit(null).cast("bigint"))
    }
    val base = centBars(spark, dir)
      .withColumn("s_u", rocU(roc1) + rocU(roc2))
      .withColumn("rn", row_number().over(byDay))
    val withLags = (0 until wma).foldLeft(base) { (d, j) =>
      d.withColumn(s"s_$j", lag(col("s_u"), j).over(byDay)) }
    val num = (0 until wma).map(j => col(s"s_$j") * lit((wma - j).toLong))
      .reduce(_ + _)
    withLags
      .filter(col("rn") >= roc1 + wma)
      .withColumn("num", num)
      .select(col("symbol"), col("day"),
        round(col("num").cast("double") /
              (lit((wma * (wma + 1) / 2).toDouble) * 1e6), 6).as("coppock"))
      .orderBy("symbol", "day")
  }

  /** Treynor ratio per symbol: mean daily log-return over [[beta]],
    * risk-free rate 0 — systematic-risk-adjusted performance. Daily
    * and market returns are micro-unit BIGINTs (round-6 log returns
    * x 1e6, the market's equal-weight mean re-rounded to micro),
    * so beta collapses to the all-integer ratio
    * `(n*Sxy - Sx*Sy) / (n*Syy - Sy^2)` — the (n-1)s cancel — and
    * Treynor is one fixed double expression over four exact BIGINTs.
    * The market table is day-count-bounded and broadcast.
    */
  def treynor(spark: SparkSession, dir: String, minDays: Int = 10): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy("day")
    val daily = quotes(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("symbol", "day")
      .agg((sum(col("price").cast("decimal(18,6)")).cast("double") /
            count(lit(1))).as("mean_price"))
      .withColumn("prev", lag(col("mean_price"), 1).over(byDay))
      .filter(col("prev").isNotNull && col("prev") > 0 && col("mean_price") > 0)
      .withColumn("r_u", round(round(log(col("mean_price") / col("prev")), 6) * 1e6)
        .cast("bigint"))
      .select("symbol", "day", "r_u")
      .localCheckpoint()
    val market = daily.groupBy("day")
      .agg(round(sum(col("r_u")).cast("double") / count(lit(1))).cast("bigint")
        .as("y_u"))
    daily.join(broadcast(market), "day")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           sum(col("r_u")).as("sx"), sum(col("y_u")).as("sy"),
           sum(col("r_u") * col("y_u")).as("sxy"),
           sum(col("y_u") * col("y_u")).as("syy"))
      .withColumn("bnum", col("n_days") * col("sxy") - col("sx") * col("sy"))
      .withColumn("bden", col("n_days") * col("syy") - col("sy") * col("sy"))
      .filter(col("n_days") >= minDays && col("bden") > 0 && col("bnum") =!= 0)
      .select(col("symbol"), col("n_days"),
        round(col("bnum").cast("double") / col("bden").cast("double"), 6)
          .as("beta"),
        round(col("sx").cast("double") /
              (col("n_days").cast("double") * 1e6) *
              (col("bden").cast("double") / col("bnum").cast("double")), 6)
          .as("treynor"))
      .orderBy("symbol")
  }

  /** Jarque-Bera normality test per symbol on daily micro-unit
    * log-returns: JB = n/6 * (S^2 + K^2/4) from skewness S and excess
    * kurtosis K — the screen that says whether a Gaussian risk model
    * ([[logReturnVolatility]], VaR) is even admissible for this
    * symbol. Micro-returns ride the [[treynor]] derivation (round-6
    * log returns x 1e6 as BIGINT); power sums promote through
    * DECIMAL(19/38) exactly like [[moments]] (r^4 of a +/-1e6-micro
    * return needs 25 digits); each moment and the final statistic is
    * ONE fixed double expression. m2^1.5 spelled m2*sqrt(m2).
    */
  def jarqueBera(spark: SparkSession, dir: String, minDays: Int = 10): DataFrame =
    jarqueBeraFromDaily(dailyPriceSums(spark, dir), minDays)

  /** Per-(symbol, day) additive price partials — the shared
    * sufficient statistic of [[jarqueBera]] and [[ljungBoxDaily]]:
    * psum (exact DECIMAL) and pcnt are additive across arbitrary
    * splits, so the streaming twins store per-batch partials of
    * exactly this shape and fold by summation.
    */
  private[graft] def dailyPriceSums(spark: SparkSession, dir: String): DataFrame =
    quotes(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .groupBy("symbol", "day")
      .agg(sum(col("price").cast("decimal(18,6)")).as("psum"),
           count(lit(1)).as("pcnt"))

  /** [[jarqueBera]] from the (symbol, day, psum, pcnt) sufficient
    * statistic. mean_price = psum/pcnt reproduces the batch daily
    * mean bit-for-bit (decimal sum, one double divide); everything
    * downstream is the identical moment expression.
    */
  private[graft] def jarqueBeraFromDaily(dailySums: DataFrame,
                                         minDays: Int = 10): DataFrame = {
    val d19 = "decimal(19,0)"; val d38 = "decimal(38,0)"
    val byDay = Window.partitionBy("symbol").orderBy("day")
    val daily = dailySums
      .select(col("symbol"), col("day"),
        (col("psum").cast("double") / col("pcnt")).as("mean_price"))
      .withColumn("prev", lag(col("mean_price"), 1).over(byDay))
      .filter(col("prev").isNotNull && col("prev") > 0 && col("mean_price") > 0)
      .withColumn("r", round(round(log(col("mean_price") / col("prev")), 6) * 1e6)
        .cast("bigint"))
    val q = daily
      .withColumn("r2", col("r") * col("r"))
      .withColumn("r3d", (col("r2").cast(d19) * col("r").cast(d19)).cast(d38))
      .withColumn("r4d", (col("r2").cast(d19) * col("r2").cast(d19)).cast(d38))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
           sum(col("r")).cast(d19).as("s1"),
           sum(col("r2")).cast(d19).as("s2"),
           sum(col("r3d")).cast(d38).as("s3"),
           sum(col("r4d")).cast(d38).as("s4"))
    val n  = col("n_days").cast("double")
    val s1 = col("s1").cast("double"); val s2 = col("s2").cast("double")
    val s3 = col("s3").cast("double"); val s4 = col("s4").cast("double")
    val mean = s1 / n
    val m2 = s2 / n - mean * mean
    val m3 = s3 / n - lit(3.0) * mean * (s2 / n) + lit(2.0) * mean * mean * mean
    val m4 = s4 / n - lit(4.0) * mean * (s3 / n) +
             lit(6.0) * mean * mean * (s2 / n) -
             lit(3.0) * mean * mean * mean * mean
    val skew = m3 / (m2 * sqrt(m2))
    val exk  = m4 / (m2 * m2) - 3
    q.withColumn("v", m2)
      .filter(col("n_days") >= minDays && col("v") > 0)
      .select(col("symbol"), col("n_days"),
        round(skew, 6).as("skewness"),
        round(exk, 6).as("excess_kurtosis"),
        round(n / 6 * (skew * skew + exk * exk / 4), 6).as("jb_stat"))
      .orderBy("symbol")
  }

  /** Page-Hinkley drift statistic per symbol (Page 1954; the
    * streaming-drift detector of the MOA/river libraries, delta = 0):
    * PH = max_t (m_t - min_{s<=t} m_s) where m_t is the cumulative
    * deviation from the series mean. Scaling every term by n keeps it
    * in INTEGER cents — n*m_t = n*S_t - t*S_n, the [[cusum]] dev —
    * so the running min, the gap, and the max are exact BIGINT; one
    * final divide normalizes by n^2 (mirroring cusum_stat's units).
    * Where [[cusum]] reports the argmax |deviation| (the changepoint
    * LOCATION), PH reports the largest sustained upward drift (the
    * alarm MAGNITUDE a monitor thresholds). One (symbol) exchange
    * serves the cumulative sum, the totals, the running min, and the
    * final aggregate.
    */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame = {
    val ord  = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val run  = ord.rowsBetween(Window.unboundedPreceding, 0)
    quotes(spark, dir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("m")).over(run))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("total", sum(col("m")).over(full))
      .withColumn("dev", col("n") * col("cum") - col("t") * col("total"))
      .withColumn("runmin", min(col("dev")).over(run))
      .groupBy("symbol")
      .agg(max(col("n")).as("n_ticks"),
           max(col("dev") - col("runmin")).as("ph_raw"))
      .filter(col("n_ticks") >= 3)
      .select(col("symbol"), col("n_ticks"),
        round(col("ph_raw").cast("double") /
              (col("n_ticks").cast("double") * col("n_ticks").cast("double")) / 100, 6)
          .as("ph_stat"))
      .orderBy("symbol")
  }

  /** Ljung-Box portmanteau whiteness test per symbol over tick
    * prices, lags 1..5: Q = n(n+2) * sum_k rho_k^2/(n-k) — the
    * significance statistic on top of [[acfProfile]]'s raw ACF curve
    * (is this series distinguishable from white noise at all?). Each
    * rho_k is the textbook mean-centered autocovariance ratio,
    * cleared of the rational mean by multiplying through by n^2:
    * `rho_k = (n^2*Sxy_k - n*s*(Sa_k+Sb_k) + (n-k)*s^2) / (n*(n*q - s^2))`
    * — every term an exact DECIMAL(38,0) product of BIGINT sums (the
    * [[acfProfile]] promotion discipline), so the five lag pivots and
    * the literal-ordered Q expression are engine-exact. One (symbol)
    * exchange serves all five lag columns and the aggregate.
    */
  def ljungBox(spark: SparkSession, dir: String, maxLag: Int = 5): DataFrame =
    lbOver(quotes(spark, dir)
        .withColumn("m", round(col("price") * 100).cast("bigint")),
      Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc),
      maxLag, "n_ticks")

  /** [[ljungBox]]'s daily-bar variant: the same portmanteau Q over
    * the per-(symbol, day) mean-price series in cents, lags
    * 1..maxLag — the granularity a streaming whiteness monitor can
    * maintain EXACTLY, because the daily series derives from the
    * additive [[dailyPriceSums]] store (the tick-ordered variant's
    * lag products are not a bounded fold under out-of-order
    * arrival; the day-keyed series is).
    */
  def ljungBoxDaily(spark: SparkSession, dir: String, maxLag: Int = 5): DataFrame =
    ljungBoxFromDaily(dailyPriceSums(spark, dir), maxLag)

  /** [[ljungBoxDaily]] from the (symbol, day, psum, pcnt) sufficient
    * statistic — shared verbatim with the streaming twin
    * ([[graft.streaming.StreamingStats.ljungBoxDaily]]). */
  private[graft] def ljungBoxFromDaily(dailySums: DataFrame,
                                       maxLag: Int = 5): DataFrame =
    lbOver(dailySums.select(col("symbol"), col("day"),
        round((col("psum").cast("double") / col("pcnt")) * 100)
          .cast("bigint").as("m")),
      Window.partitionBy("symbol").orderBy(col("day").asc),
      maxLag, "n_days")

  /** The shared Ljung-Box tail: lag columns 1..maxLag over `ord`,
    * exact DECIMAL(38,0) pivot sums, the mean-cleared rho_k ratios,
    * and the literal-ordered Q — identical expressions whichever
    * series granularity feeds it. */
  private def lbOver(withM: DataFrame,
                     ord: org.apache.spark.sql.expressions.WindowSpec,
                     maxLag: Int, nName: String): DataFrame = {
    val ks = 1 to maxLag
    val withLags = ks.foldLeft(withM) {
      case (df, k) => df.withColumn(s"y$k", lag(col("m"), k).over(ord))
    }
    val big = (c: Column) => c.cast("decimal(38,0)")
    val aggs = Seq(count(lit(1)).as("n"), sum(col("m")).as("s"),
        sum(big(col("m") * col("m"))).as("q")) ++
      ks.flatMap { k =>
        val x = when(col(s"y$k").isNotNull, col("m"))
        Seq(sum(big(x * col(s"y$k"))).as(s"xy$k"),
            sum(x).as(s"sa$k"), sum(col(s"y$k")).as(s"sb$k"))
      }
    val g = withLags.groupBy("symbol").agg(aggs.head, aggs.tail: _*)
    val bden = col("n") * (col("n") * col("q") - big(col("s")) * col("s"))
    def rho(k: Int) =
      (col("n") * (col("n") * col(s"xy$k")) -
        col("n") * (big(col("s")) * (col(s"sa$k") + col(s"sb$k"))) +
        (col("n") - lit(k.toLong)) * (big(col("s")) * col("s"))).cast("double") /
      bden.cast("double")
    val nD = col("n").cast("double")
    val qTerm = ks.map(k => rho(k) * rho(k) / (nD - lit(k.toDouble)))
      .reduce(_ + _)
    g.filter(col("n") > maxLag &&
        col("n") * col("q") - big(col("s")) * col("s") > 0)
      .select(col("symbol"), col("n").as(nName),
        round(nD * (nD + 2) * qTerm, 6).as("q_lb"),
        lit(maxLag.toLong).as("df"))
      .orderBy("symbol")
  }

  /** Tick-rule order-flow imbalance per (symbol, day): buy volume
    * minus sell volume over total, with ticks signed by the price
    * move (Lee-Ready without quotes — the tick rule [[kyleLambda]]
    * already uses). All integer cent moves and BIGINT volumes; one
    * divide per day. The microstructure pressure gauge beside Kyle's
    * lambda (impact per share) and [[rollSpread]] (cost per trade).
    */
  def tickImbalance(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    quotes(spark, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("d", col("m") - lag(col("m"), 1).over(ord))
      .filter(col("d").isNotNull)
      .withColumn("sv",
        when(col("d") > 0, coalesce(col("volume"), lit(0L)))
          .when(col("d") < 0, -coalesce(col("volume"), lit(0L)))
          .otherwise(lit(0L)))
      .withColumn("av", when(col("d") =!= 0, coalesce(col("volume"), lit(0L)))
        .otherwise(lit(0L)))
      .groupBy("symbol", "day")
      .agg(count(lit(1)).as("n_moves"),
           sum(col("sv")).as("net_vol"),
           sum(col("av")).as("classified_vol"))
      .filter(col("classified_vol") > 0)
      .select(col("symbol"), col("day"), col("n_moves"),
        col("net_vol"),
        round(col("net_vol").cast("double") /
              col("classified_vol").cast("double"), 6).as("imbalance"))
      .orderBy("symbol", "day")
  }

  /** VPIN — volume-synchronized probability of informed trading
    * (Easley, López de Prado & O'Hara 2012): classify each tick's
    * volume by the tick rule (the [[tickImbalance]] convention —
    * zero-tick volume stays unclassified, a documented simplification
    * of the paper's carry-forward that both engines replicate
    * trivially), slice the per-symbol CLASSIFIED-volume stream into
    * equal-volume buckets (`bucket = cum_av div bucketVol`, whole-tick
    * assignment), and report per symbol the volume-weighted mean and
    * the worst per-bucket order-flow imbalance `|net| / vol` — the
    * flow-toxicity gauge a market-making desk monitors next to Kyle's
    * lambda and the Roll spread.
    *
    * Exactness: signed/absolute volumes and the bucket cumsum are
    * BIGINT; the per-bucket ratio rounds once and the rollup is one
    * fixed expression — engine-exact throughout.
    *
    * Scale shape: two (symbol)-partitioned windows (lag + exclusive
    * cumsum) and a (symbol, bucket) hash-agg — embarrassingly
    * parallel across symbols, per-symbol depth corpus-bounded (the
    * amplifier re-keys symbols, matching production sharding).
    */
  def vpin(spark: SparkSession, dir: String, bucketVol: Long = 500L): DataFrame =
    vpinFromQuotes(quotes(spark, dir), bucketVol)

  /** [[vpin]] over ANY `(symbol, ts_epoch, id, price, volume)` frame —
    * the seam the streaming twin's compacted tick store finishes
    * through, so stream==batch is shared code. */
  private[graft] def vpinFromQuotes(q: DataFrame, bucketVol: Long): DataFrame = {
    val ord = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val ticks = q
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("d", col("m") - lag(col("m"), 1).over(ord))
      .filter(col("d").isNotNull)
      .withColumn("sv",
        when(col("d") > 0, coalesce(col("volume"), lit(0L)))
          .when(col("d") < 0, -coalesce(col("volume"), lit(0L)))
          .otherwise(lit(0L)))
      .withColumn("av", when(col("d") =!= 0, coalesce(col("volume"), lit(0L)))
        .otherwise(lit(0L)))
    val cum = Window.partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ticks
      .withColumn("cum_av", coalesce(sum(col("av")).over(cum), lit(0L)))
      .withColumn("bucket", expr(s"cum_av div $bucketVol"))
      .groupBy("symbol", "bucket")
      .agg(sum(col("sv")).as("net"), sum(col("av")).as("vol"))
      .filter(col("vol") > 0)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_buckets"),
           sum(col("vol")).as("classified_vol"),
           round(sum(abs(col("net"))).cast("double") /
                 sum(col("vol")).cast("double"), 6).as("vpin"),
           max(round(abs(col("net")).cast("double") /
                     col("vol").cast("double"), 6)).as("worst_bucket"))
      .orderBy("symbol")
  }

  /** SAX motif census (Lin, Keogh et al. 2003 — Symbolic Aggregate
    * approXimation): per symbol, daily closes are z-normalized (mean
    * and std from exact DECIMAL power sums — one fixed expression),
    * PAA-compressed over tumbling 4-day segments (integer sums, one
    * dyadic /4.0), mapped to a 4-letter alphabet at the published
    * Gaussian breakpoints (-0.6745, 0, 0.6745 as shared literals),
    * and slid into 4-segment SAX words; the census reports the top
    * motifs corpus-wide — the discretized-shape index that turns
    * "find recurring price patterns" into an equi-groupBy instead of
    * a subsequence scan. Breakpoint comparisons run on identical
    * doubles in both engines; everything before them is exact.
    *
    * Scale shape: one (symbol) exchange for rn + segments + the word
    * window, per-symbol stats join back BROADCAST (symbol-bounded),
    * the census is a word-keyed aggregate with a TakeOrdered cut.
    */
  def saxMotifs(spark: SparkSession, dir: String,
                segLen: Int = 4, wordLen: Int = 4, topK: Int = 10): DataFrame = {
    val byDay = Window.partitionBy("symbol").orderBy(col("day").asc)
    val bySeg = Window.partitionBy("symbol").orderBy(col("seg").asc)
    val bars = centBars(spark, dir)
      .withColumn("rn", row_number().over(byDay))
      .withColumn("seg", ((col("rn") - 1) / segLen).cast("bigint"))
      .localCheckpoint() // consumers: stats aggregate + segment means
    val stats = bars.groupBy("symbol")
      .agg(count(lit(1)).as("n"),
           sum(col("cl")).cast("decimal(19,0)").as("s"),
           sum((col("cl") * col("cl")).cast("decimal(28,0)")).cast("decimal(28,0)")
             .as("q"))
      .filter(col("n") >= segLen * wordLen)
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sig", sqrt((col("q").cast("double") -
        col("s").cast("double") * col("s").cast("double") / col("n").cast("double")) /
        (col("n") - lit(1L)).cast("double")))
      .filter(col("sig") > 0)
      .select("symbol", "mu", "sig")
    val segs = bars.groupBy("symbol", "seg")
      .agg(count(lit(1)).as("cnt"), sum(col("cl")).as("segsum"))
      .filter(col("cnt") === segLen)
      .join(broadcast(stats), "symbol")
      .withColumn("z", (col("segsum").cast("double") / segLen.toDouble - col("mu")) /
        col("sig"))
      .withColumn("letter",
        when(col("z") < -0.6745, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    val words = (1 until wordLen).foldLeft(
        segs.withColumn("w0", col("letter"))) { (d, j) =>
        d.withColumn(s"w$j", lead(col("letter"), j).over(bySeg))
      }
      .filter((1 until wordLen).map(j => col(s"w$j").isNotNull).reduce(_ && _))
      .withColumn("word", concat((0 until wordLen).map(j => col(s"w$j")): _*))
    val census = words.groupBy("word")
      .agg(count(lit(1)).as("n_occurrences"),
           countDistinct(col("symbol")).as("n_symbols"))
    val top = census.orderBy(col("n_occurrences").desc, col("word").asc).limit(topK)
    broadcast(top)
      // bounded: the global rank window runs over the topK-row limit
      // cut, never the word census
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("word").asc)).cast("bigint"))
      .select("rk", "word", "n_occurrences", "n_symbols")
      .orderBy("rk")
  }

  /** EMA13 weight ladder for [[elderRay]] — alpha = 2/(13+1). Same
    * shared-Double-literal contract as [[MacdFastW]]. */
  private[graft] val ElderW: Seq[Double] =
    (0 until MacdLags).map(j => (2.0 / 14) * math.pow(12.0 / 14, j))
}
