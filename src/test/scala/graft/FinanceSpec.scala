package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.operators.Finance

/** Financial time-series family: value invariants on the driver corpus
  * plus the plan shapes the 100 TB design depends on (every query is a
  * single (symbol[, day]) hash exchange shared by its windows and its
  * final aggregation — no joins, no global windows over fact rows).
  */
class FinanceSpec extends SparkSuite {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def hashExchanges(df: DataFrame): Int =
    formatted(df).linesIterator.count(_.contains("Arguments: hashpartitioning"))

  test("OHLC bars: open/close bracketed by low/high, volume conserved") {
    val bars = Finance.ohlcBars(spark, sfDir).cache()
    try {
      val bad = bars.filter(
        col("open_price") > col("high_price") || col("open_price") < col("low_price") ||
        col("close_price") > col("high_price") || col("close_price") < col("low_price") ||
        col("low_price") > col("high_price")).count()
      assert(bad === 0)
      // every tick lands in exactly one bar
      val ticks = bars.agg(sum("n_ticks")).head.getLong(0)
      assert(ticks === Tables.events(spark, sfDir).count())
      // single-tick bars are degenerate: open = high = low = close
      val deg = bars.filter(col("n_ticks") === 1 &&
        (col("open_price") =!= col("close_price") ||
         col("high_price") =!= col("low_price"))).count()
      assert(deg === 0)
    } finally bars.unpersist()
  }

  test("OHLC/vwap/volatility/drawdown/rsi: one hash exchange each (windows and agg share the key)") {
    assert(hashExchanges(Finance.ohlcBars(spark, sfDir)) === 1)
    assert(hashExchanges(Finance.vwap(spark, sfDir)) === 1)
    assert(hashExchanges(Finance.logReturnVolatility(spark, sfDir)) === 1)
    assert(hashExchanges(Finance.maxDrawdown(spark, sfDir)) === 1)
    assert(hashExchanges(Finance.rsi(spark, sfDir)) === 1)
  }

  private def tick(id: Long, ts: String, user: Long, price: Option[Double]) =
    (id, ts, user, Option("tick"), price, s"""{"k": ${id % 7}}""")

  private def ohlcRows(dir: String) = Finance.ohlcBars(spark, dir).collect().toSeq

  test("OHLC: a null first or last price opens or closes the bar null, as in the row_number form") {
    val dir = eventsDir(Seq(
      tick(1, "2024-01-01 09:00:00", 1, None),        // opens day 1 of u1
      tick(2, "2024-01-01 10:00:00", 1, Some(100.0)),
      tick(3, "2024-01-01 11:00:00", 1, Some(101.0)),
      tick(4, "2024-01-02 09:00:00", 1, Some(102.0)),
      tick(5, "2024-01-02 10:00:00", 1, None),        // closes day 2 of u1
      tick(7, "2024-01-02 10:00:00", 2, Some(51.0)),  // same second: the id orders
      tick(6, "2024-01-02 10:00:00", 2, Some(50.0))))
    val bars = ohlcRows(dir)
    assert(bars == ReplacedForms.ohlcBars(Finance.quotes(spark, dir)).collect().toSeq)
    val openClose = bars.map(r => (r.getString(0), r.getDate(1).toString,
      Option(r.get(2)), Option(r.get(5))))
    assert(openClose == Seq(
      ("u1", "2024-01-01", None, Some(101.0)),
      ("u1", "2024-01-02", Some(102.0), None),
      ("u2", "2024-01-02", Some(50.0), Some(51.0))))
    assert(graft.streaming.StreamingOhlc.bars(Finance.quotes(spark, dir))
      .orderBy("symbol", "day").collect().toSeq == bars)
  }

  test("property: ohlcBars equals the two-row_number form (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // ids are drawn independently of time, so only (ts_epoch, id) orders
    // the ticks; few distinct seconds make ts_epoch ties common
    val row = for {
      day <- Gen.choose(1, 3)
      sec <- Gen.oneOf(0, 1, 59, 3600, 86399)
      user <- Gen.choose(1L, 3L)
      price <- Gen.option(Gen.choose(1, 20000).map(_ / 100.0))
    } yield (f"2024-01-0$day ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d", user, price)
    val gen = for {
      n <- Gen.choose(1, 30)
      rs <- Gen.listOfN(n, row)
      ids <- Gen.pick(n, 0L until 1000L)
    } yield rs.zip(ids)
    // no shrinking: every case writes a table and runs Spark jobs
    val prop = Prop.forAllNoShrink(gen) { rs =>
      val dir = eventsDir(rs.map { case ((ts, u, p), id) => tick(id, ts, u, p) })
      ohlcRows(dir) == ReplacedForms.ohlcBars(Finance.quotes(spark, dir)).collect().toSeq
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("OHLC and VWAP days are session-zone dates; the UTC-window twins agree only under UTC") {
    // 03:00 and 05:00 UTC on Jan 2 are 22:00 Jan 1 and 00:00 Jan 2 in New York
    val dir = eventsDir(Seq(
      tick(1, "2024-01-02 03:00:00", 1, Some(100.0)),
      tick(2, "2024-01-02 05:00:00", 1, Some(101.0))))
    def days(df: DataFrame) = df.collect().map(r => r.getAs[java.sql.Date]("day").toString).toSeq
    def stream(df: DataFrame) = df.orderBy("symbol", "day").collect().toSeq
    val zone = "spark.sql.session.timeZone"
    assert(days(Finance.ohlcBars(spark, dir)) == Seq("2024-01-02"))
    assert(stream(graft.streaming.StreamingOhlc.bars(Finance.quotes(spark, dir))) == ohlcRows(dir))
    spark.conf.set(zone, "America/New_York")
    try {
      assert(days(Finance.ohlcBars(spark, dir)) == Seq("2024-01-01", "2024-01-02"))
      assert(days(Finance.vwap(spark, dir)) == Seq("2024-01-01", "2024-01-02"))
      assert(stream(graft.streaming.StreamingOhlc.bars(Finance.quotes(spark, dir))) != ohlcRows(dir))
      assert(stream(graft.streaming.StreamingOhlc.vwapBars(Finance.quotes(spark, dir))) !=
        Finance.vwap(spark, dir).collect().toSeq)
    } finally spark.conf.set(zone, "UTC")
  }

  test("vwap sits inside each bar's [low, high] envelope") {
    val bars = Finance.ohlcBars(spark, sfDir)
    val v    = Finance.vwap(spark, sfDir)
    val bad = v.join(bars, Seq("symbol", "day"))
      .filter(col("vwap") < col("low_price") - 1e-6 ||
              col("vwap") > col("high_price") + 1e-6)
      .count()
    assert(bad === 0)
  }

  test("drawdown is a fraction of peak in [0, 1); peak is the series max") {
    val dd = Finance.maxDrawdown(spark, sfDir)
    assert(dd.filter(col("max_drawdown") < 0 || col("max_drawdown") >= 1).count() === 0)
    val priceMax = Finance.quotes(spark, sfDir).filter(col("price") > 0)
      .groupBy("symbol").agg(max("price").as("pmax"))
    val bad = dd.join(priceMax, "symbol")
      .filter(abs(col("peak_price") - round(col("pmax"), 6)) > 1e-6).count()
    assert(bad === 0)
  }

  test("RSI stays in [0, 100] and needs exactly 14 deltas of warm-up") {
    val r = Finance.rsi(spark, sfDir).cache()
    try {
      assert(r.filter(col("rsi14") < 0 || col("rsi14") > 100).count() === 0)
      // warm-up gate: per symbol, emitted rows = max(0, n_ticks - 14)
      val perSym = Finance.quotes(spark, sfDir)
        .groupBy("symbol").agg(count(lit(1)).as("n"))
      val emitted = r.groupBy("symbol").agg(count(lit(1)).as("m"))
      val bad = perSym.join(emitted, Seq("symbol"), "left")
        .filter(coalesce(col("m"), lit(0L)) =!= greatest(col("n") - 14, lit(0L)))
        .count()
      assert(bad === 0)
    } finally r.unpersist()
  }

  test("Bollinger: ordered bands, full-frame warm-up, breach flags consistent") {
    val b = Finance.bollinger(spark, sfDir).cache()
    try {
      assert(b.filter(col("upper_band") < col("sma20") ||
                      col("lower_band") > col("sma20")).count() === 0)
      val perSym = Finance.quotes(spark, sfDir)
        .groupBy("symbol").agg(count(lit(1)).as("n"))
      val emitted = b.groupBy("symbol").agg(count(lit(1)).as("m"))
      val bad = perSym.join(emitted, Seq("symbol"), "left")
        .filter(coalesce(col("m"), lit(0L)) =!= greatest(col("n") - 19, lit(0L)))
        .count()
      assert(bad === 0)
      val flagBad = b.filter(
        (col("breach_up") && col("price") <= col("upper_band")) ||
        (col("breach_dn") && col("price") >= col("lower_band"))).count()
      assert(flagBad === 0)
    } finally b.unpersist()
  }

  test("top movers: k rows, ranked by |pct change|, change consistent with vwaps") {
    val m = Finance.topMovers(spark, sfDir).collect()
    assert(m.length === 10)
    assert(m.map(_.getAs[Long]("rk")).toSeq === (1L to 10L))
    val mags = m.map(r => math.abs(r.getAs[Double]("pct_change")))
    assert(mags.zip(mags.tail).forall { case (a, b) => a >= b })
    m.foreach { r =>
      val recomputed = BigDecimal((r.getAs[Double]("vwap") - r.getAs[Double]("prev_vwap")) /
        r.getAs[Double]("prev_vwap")).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(recomputed === r.getAs[Double]("pct_change"))
    }
  }

  test("pair correlation: bounded universe, correlations in [-1, 1], symmetric-free pairs") {
    val p = Finance.pairCorrelation(spark, sfDir).collect()
    assert(p.nonEmpty && p.length <= 45) // C(10, 2)
    assert(p.forall(r => r.getAs[Double]("price_corr") >= -1.000001 &&
                         r.getAs[Double]("price_corr") <= 1.000001))
    assert(p.forall(r => r.getAs[String]("sym_a") < r.getAs[String]("sym_b")))
    assert(p.forall(_.getAs[Long]("n_days") >= 10))
  }

  test("as-of tolerance masks stale matches but keeps fresh ones identical to the base join") {
    import graft.operators.AsOfJoin
    val base = AsOfJoin.clickEnrichedWithLastView(spark, sfDir)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Double]("asof_view_value")),
         Option(r.getAs[java.lang.Long]("asof_view_event_id")))).toMap
    val tol = AsOfJoin.clickEnrichedWithLastViewWithin(spark, sfDir).collect()
    assert(tol.length === base.size)
    var masked = 0
    tol.foreach { r =>
      val eid = r.getAs[Long]("event_id")
      val (bv, bid) = base(eid)
      val fresh = bid.exists(id => eid - id <= 100)
      if (fresh) {
        assert(Option(r.getAs[java.lang.Double]("asof_view_value")) === bv)
      } else {
        assert(r.isNullAt(r.fieldIndex("asof_view_value")))
        if (bid.isDefined) masked += 1
      }
    }
    assert(masked > 0, "fixture should contain at least one stale match to mask")
  }

  test("Benford digit audit: 9 digits, frequencies sum to ~1 on both axes") {
    // plan shape first — the window that computes the total runs over
    // the 9-row aggregate, never the fact table (checked before cache()
    // so InMemoryRelation doesn't double-count the exchanges)
    val plan = formatted(Finance.benfordDigits(spark, sfDir))
    assert(plan.contains("SinglePartition"), plan)
    assert(plan.linesIterator.count(_.contains("Arguments: hashpartitioning")) === 1, plan)
    val b = Finance.benfordDigits(spark, sfDir).cache()
    try {
      assert(b.count() <= 9)
      assert(b.filter(col("digit") < 1 || col("digit") > 9).count() === 0)
      val Array(obs, exp) = b.agg(sum("obs_freq"), sum("exp_freq"))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      assert(math.abs(obs - 1.0) < 1e-4, s"obs mass $obs")
      assert(math.abs(exp - 1.0) < 1e-4, s"exp mass $exp")
    } finally b.unpersist()
  }

  test("MACD: histogram = macd - signal, one exchange, truncated weights normalize to 1") {
    val m = Finance.macd(spark, sfDir).cache()
    try {
      // histogram is the rounded difference of the (unrounded) lines —
      // it must sit within a rounding ulp of the rounded lines' diff
      val bad = m.filter(
        abs(col("histogram") - (col("macd") - col("signal_line"))) > 2e-6).count()
      assert(bad === 0)
      assert(m.count() === Tables.events(spark, sfDir).count(),
        "adaptive warm-up normalization defines MACD from the first tick")
    } finally m.unpersist()
    // after unpersist: the cached InMemoryRelation would otherwise
    // double-print the exchange in the explain
    assert(hashExchanges(Finance.macd(spark, sfDir)) === 1)
    // the weight ladders are geometric alpha*(1-alpha)^j, sum < 1,
    // and the 40-lag truncation loss is the documented bound
    Seq(Finance.MacdFastW -> (2.0 / 13), Finance.MacdSlowW -> (2.0 / 27),
        Finance.MacdSignalW -> (2.0 / 10)).foreach { case (w, alpha) =>
      assert(math.abs(w.head - alpha) < 1e-15)
      assert(w.sum < 1.0 && w.sum > 1.0 - math.pow(1 - alpha, Finance.MacdLags) - 1e-12)
    }
  }

  test("stochastic: %K in [0,100], flat windows read 50, warm-up drops 15 rows per symbol") {
    val s = Finance.stochastic(spark, sfDir).cache()
    try {
      assert(s.filter(col("pct_k") < 0 || col("pct_k") > 100).count() === 0)
      assert(s.filter(col("pct_d") < 0 || col("pct_d") > 100).count() === 0)
      val perSym = s.groupBy("symbol").count()
        .join(Finance.quotes(spark, sfDir).groupBy("symbol").count()
          .withColumnRenamed("count", "n_ticks"), "symbol")
        .filter(col("count") =!= greatest(col("n_ticks") - 15, lit(0L))).count()
      assert(perSym === 0)
    } finally s.unpersist()
  }

  test("sharpe/beta drop degenerate groups; obv conserves signed volume") {
    val sh = Finance.sharpe(spark, sfDir)
    assert(sh.filter(col("n_returns") < 3).count() === 0)
    val b = Finance.beta(spark, sfDir)
    assert(b.filter(col("n_days") < 10).count() === 0)
    // OBV final value per symbol == the direct signed-volume sum
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy(col("ts_epoch").asc, col("id").asc)
    val direct = Finance.quotes(spark, sfDir)
      .withColumn("m", round(col("price") * 100).cast("bigint"))
      .withColumn("delta", col("m") - lag(col("m"), 1).over(ord))
      .withColumn("sv", when(col("delta") > 0, col("volume"))
        .when(col("delta") < 0, -col("volume")).otherwise(lit(0L)))
      .groupBy("symbol").agg(sum(col("sv")).as("expected"))
    val byLast = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy(col("id").desc)
    val last = Finance.obv(spark, sfDir)
      .withColumn("rn", row_number().over(byLast))
      .filter(col("rn") === 1)
    assert(last.join(direct, "symbol")
      .filter(col("obv") =!= col("expected")).count() === 0)
  }

  test("ewma vol non-negative and zero exactly on constant-price runs; VaR bounds ES") {
    val v = Finance.ewmaVolatility(spark, sfDir)
    assert(v.filter(col("ewma_vol") < 0).count() === 0)
    val vh = Finance.historicalVar(spark, sfDir).collect()
    assert(vh.nonEmpty)
    vh.foreach { r =>
      // ES averages the k worst returns, the k-th of which IS the VaR:
      // the tail mean can never exceed the tail's best member
      assert(r.getAs[Double]("es95") <= r.getAs[Double]("var95") + 1e-9)
      assert(r.getAs[Long]("k_tail") === (r.getAs[Long]("n_returns") + 19) / 20)
    }
  }

  test("amihud positive; underwater spells consistent with drawdown depth") {
    val am = Finance.amihudIlliquidity(spark, sfDir)
    assert(am.filter(col("amihud_x1e9") < 0).count() === 0)
    val uw = Finance.underwaterSpells(spark, sfDir).cache()
    try {
      assert(uw.filter(col("max_underwater_ticks") >
        col("total_underwater_ticks")).count() === 0)
      // a symbol with a strictly positive max drawdown must spend at
      // least one tick underwater, and vice versa
      val dd = Finance.maxDrawdown(spark, sfDir)
        .select(col("symbol"), col("max_drawdown"))
      val joined = dd.join(uw, Seq("symbol"), "left")
      assert(joined.filter(col("max_drawdown") > 0 &&
        col("total_underwater_ticks").isNull).count() === 0)
    } finally uw.unpersist()
  }

  test("moments: symmetric two-point series has zero skew and kurtosis -2") {
    import spark.implicits._
    // alternating 1.00 / 3.00: mean 2.00, symmetric -> skewness 0;
    // two-point distribution -> excess kurtosis exactly -2
    val alt = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) 1.0 else 3.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("mom").toString
    alt.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = Finance.moments(spark, dir).head()
    assert(m.getAs[Double]("mean_price") === 2.0)
    assert(m.getAs[Double]("skewness") === 0.0)
    assert(m.getAs[Double]("excess_kurtosis") === -2.0)
  }

  test("regr_trend recovers an exact synthetic line; cusum pins a mean shift") {
    import spark.implicits._
    // y = 300 + 7x cents over 50 ticks: slope exactly 0.07 dollars/tick
    val line = (1 to 50).map(i => (i.toLong, 3.0 + 0.07 * i))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("trend").toString
    line.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val t = Finance.regrTrend(spark, dir).head()
    assert(t.getAs[Double]("slope_per_tick") === 0.07)
    assert(t.getAs[Double]("intercept") === 3.0)
    // step series: 100 ticks at 1.00 then 100 at 2.00 — CUSUM changepoint
    // is the boundary (tick 100), where |n*S_t - t*S_n| peaks
    val step = (1 to 200).map(i => (i.toLong, if (i <= 100) 1.0 else 2.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir2 = java.nio.file.Files.createTempDirectory("cusum").toString
    step.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir2/events.parquet")
    val c = Finance.cusum(spark, dir2).head()
    assert(c.getAs[Long]("cp_tick") === 100L)
  }

  /** One tick per day per the given price path — the daily-bar
    * indicator fixtures below all derive from this degenerate
    * (hi = lo = cl) shape so each indicator's value is hand-computable. */
  private def dailySeries(prices: Seq[Double], vol: Long = 10L): String = {
    import spark.implicits._
    val df = prices.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id") * 86400L))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit(s"""{"k": $vol}"""))
    val dir = java.nio.file.Files.createTempDirectory("fin").toString
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("keltner: degenerate bars collapse the channel onto the SMA; corpus bands ordered") {
    // monotone ramp, single-tick days: hi=lo=cl -> band width 0,
    // center = 10-day SMA = price - 0.045 (cents ramp of +1/day)
    val dir = dailySeries((1 to 30).map(i => 1.0 + 0.01 * i))
    val k = Finance.keltner(spark, dir).orderBy("day").collect()
    assert(k.length === 21)
    k.zipWithIndex.foreach { case (r, i) =>
      val m = 1.0 + 0.01 * (i + 10) // close on the emitting day
      assert(math.abs(r.getAs[Double]("center") - (m - 0.045)) < 1e-9)
      assert(r.getAs[Double]("upper_band") === r.getAs[Double]("center"))
      assert(r.getAs[Double]("lower_band") === r.getAs[Double]("center"))
    }
    val corpus = Finance.keltner(spark, sfDir)
      .filter(col("lower_band") > col("center") ||
              col("center") > col("upper_band")).count()
    assert(corpus === 0)
  }

  test("vortex: monotone single-tick days read VI+ = VI- = 1; corpus VIs non-negative") {
    val dir = dailySeries((1 to 30).map(i => 1.0 + 0.01 * i))
    val v = Finance.vortex(spark, dir).collect()
    assert(v.nonEmpty)
    v.foreach { r =>
      assert(r.getAs[Double]("vi_plus") === 1.0)
      assert(r.getAs[Double]("vi_minus") === 1.0)
    }
    val neg = Finance.vortex(spark, sfDir)
      .filter(col("vi_plus") < 0 || col("vi_minus") < 0).count()
    assert(neg === 0)
  }

  test("cmo: one-way runs read ±100; corpus bounded in [-100, 100]") {
    val up = dailySeries((1 to 20).map(i => 1.0 + 0.01 * i))
    Finance.chandeMomentum(spark, up).collect()
      .foreach(r => assert(r.getAs[Double]("cmo") === 100.0))
    val down = dailySeries((1 to 20).map(i => 2.0 - 0.01 * i))
    Finance.chandeMomentum(spark, down).collect()
      .foreach(r => assert(r.getAs[Double]("cmo") === -100.0))
    val out = Finance.chandeMomentum(spark, sfDir)
      .filter(abs(col("cmo")) > 100.0).count()
    assert(out === 0)
  }

  test("force index: constant +1-cent drift at volume 10 reads exactly 0.1") {
    val dir = dailySeries((1 to 20).map(i => 1.0 + 0.01 * i), vol = 10L)
    val f = Finance.forceIndex(spark, dir).collect()
    assert(f.nonEmpty)
    f.foreach { r =>
      assert(r.getAs[Long]("force_raw_centshares") === 10L)
      assert(r.getAs[Double]("force_index") === 0.1)
    }
  }

  test("calmar: dip-and-recover path gives return 3.0 over maxdd 0.5 = 6.0") {
    val dir = dailySeries(Seq(1.0, 2.0, 1.0, 4.0))
    val c = Finance.calmar(spark, dir).head()
    assert(c.getAs[Long]("n_days") === 4L)
    assert(c.getAs[Double]("total_return") === 3.0)
    assert(c.getAs[Double]("max_drawdown") === 0.5)
    assert(c.getAs[Double]("calmar") === 6.0)
    // monotone series never draws down -> dropped on both engines
    val up = dailySeries((1 to 10).map(i => 1.0 + 0.01 * i))
    assert(Finance.calmar(spark, up).count() === 0)
  }

  test("hurst: matches the in-Scala pivoted-OLS recompute on a seeded walk") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val prices = Iterator.iterate(5.0)(p =>
      math.max(0.02, p + (if (rnd.nextBoolean()) 0.01 else -0.01)))
      .take(200).toSeq
    val walk = prices.zipWithIndex.map { case (p, i) => ((i + 1).toLong, p) }
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("hurst").toString
    walk.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val m = prices.map(p => math.rint(p * 100).toLong)
    def varOf(k: Int): Double = {
      val d = (k until m.length).map(i => m(i) - m(i - k))
      val (n, s, q) = (d.size.toLong, d.sum, d.map(x => x * x).sum)
      (n * q - s * s).toDouble / (n * (n - 1))
    }
    val ys = Seq(1, 2, 4, 8, 16).map(k => math.log(varOf(k)))
    val sy = ys.sum; val sxy = ys.zipWithIndex.map { case (y, i) => y * i }.sum
    val expected = (5.0 * sxy - 10.0 * sy) / 50.0 / (2.0 * 0.6931471805599453)
    val h = Finance.hurst(spark, dir).head()
    assert(h.getAs[Long]("n_moves") === 199L)
    assert(math.abs(h.getAs[Double]("hurst") -
      math.rint(expected * 1e6) / 1e6) < 1e-9)
    // constant price: all variances zero -> dropped
    val const = dailySeries(Seq.fill(20)(2.0))
    assert(Finance.hurst(spark, const).count() === 0)
  }

  test("kyle lambda: exact impact line recovers 0.1 cents/share = 100 per kshare") {
    import spark.implicits._
    // alternating +-1 cent moves at constant volume 10: every point
    // lies on d = 0.1*v, so the OLS slope is exactly 0.1 cents/share
    val alt = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) 1.01 else 1.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("kyle").toString
    alt.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Finance.kyleLambda(spark, dir).head()
    assert(r.getAs[Long]("n_moves") === 39L)
    assert(r.getAs[Double]("kyle_lambda_per_kshare") === 100.0)
    // constant price: zero flow variance -> dropped
    val const = dailySeries(Seq.fill(10)(2.0))
    assert(Finance.kyleLambda(spark, const).count() === 0)
  }

  test("acf profile: a period-2 series reads exactly -1/+1/+1/+1 at lags 1/2/4/8") {
    import spark.implicits._
    val alt = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) 1.0 else 3.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("acf").toString
    alt.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Finance.acfProfile(spark, dir).head()
    assert(r.getAs[Double]("acf_1") === -1.0)
    assert(r.getAs[Double]("acf_2") === 1.0)
    assert(r.getAs[Double]("acf_4") === 1.0)
    assert(r.getAs[Double]("acf_8") === 1.0)
    // corpus: every reported coefficient is a correlation
    Finance.acfProfile(spark, sfDir).collect().foreach { row =>
      Seq("acf_1", "acf_2", "acf_4", "acf_8").foreach { c =>
        val a = row.getAs[Double](c)
        assert(a >= -1.000001 && a <= 1.000001, s"$c=$a")
      }
    }
  }

  test("dow anova: matches the in-Scala pivoted recompute; eta-squared a fraction") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val prices = Iterator.iterate(5.0)(p =>
      math.max(0.02, p + (if (rnd.nextBoolean()) 0.02 else -0.01)))
      .take(60).toSeq
    val dir = dailySeries(prices)
    // mirror the operator's integer pivots exactly
    val m = prices.map(p => math.rint(p * 100).toLong)
    val moves = (1 until m.length).map { i =>
      val epochDay = (1700000000L + (i + 1) * 86400L) / 86400L
      val dow = ((epochDay + 4) % 7 + 1).toInt // 1970-01-01 was a Thursday
      (dow, m(i) - m(i - 1))
    }
    val n = moves.size.toLong; val s = moves.map(_._2).sum
    val q = moves.map(x => x._2 * x._2).sum
    val gt = (1 to 7).map { i =>
      val g = moves.filter(_._1 == i).map(_._2)
      if (g.nonEmpty) g.sum.toDouble * g.sum / g.size else 0.0
    }.sum
    val k = (1 to 7).count(i => moves.exists(_._1 == i)).toLong
    val grand = s.toDouble * s / n
    val (ssb, ssw, sst) = (gt - grand, q - gt, q - grand)
    val r = Finance.dowAnova(spark, dir).head()
    assert(r.getAs[Long]("n_moves") === n)
    assert(r.getAs[Long]("k_groups") === k)
    assert(math.abs(r.getAs[Double]("eta_sq") -
      math.rint(ssb / sst * 1e6) / 1e6) < 1e-9)
    assert(math.abs(r.getAs[Double]("f_stat") -
      math.rint((ssb / (k - 1)) / (ssw / (n - k)) * 1e6) / 1e6) < 1e-9)
    val eta = r.getAs[Double]("eta_sq")
    assert(eta >= 0.0 && eta <= 1.0)
  }

  test("r10c plans: tick-level queries one (symbol) exchange, bar indicators two") {
    assert(hashExchanges(Finance.trix(spark, sfDir)) === 1)
    assert(hashExchanges(Finance.varianceRatio(spark, sfDir)) === 1)
    assert(hashExchanges(Finance.rollSpread(spark, sfDir)) === 1)
    // the pair join's probe side reuses the checkpointed bars'
    // (symbol) clustering — no extra exchange for the self-join
    assert(hashExchanges(Finance.theilSen(spark, sfDir)) === 1)
    // (symbol, day) bar build + (symbol) window
    assert(hashExchanges(Finance.keltner(spark, sfDir)) === 2)
    assert(hashExchanges(Finance.vortex(spark, sfDir)) === 2)
    assert(hashExchanges(Finance.chandeMomentum(spark, sfDir)) === 2)
    assert(hashExchanges(Finance.forceIndex(spark, sfDir)) === 2)
    assert(hashExchanges(Finance.calmar(spark, sfDir)) === 2)
  }

  test("theil-sen: exact line recovers the slope; one outlier bar cannot drag the median") {
    val clean = dailySeries((1 to 20).map(i => 1.0 + 0.01 * i))
    val t1 = Finance.theilSen(spark, clean).head()
    assert(t1.getAs[Long]("n_pairs") === 190L)
    assert(t1.getAs[Double]("theil_sen_slope") === 0.01)
    // same line with one 10x spike: most pairwise slopes still 0.01
    val spiked = dailySeries((1 to 20).map(i =>
      if (i == 10) 5.0 else 1.0 + 0.01 * i))
    val t2 = Finance.theilSen(spark, spiked).head()
    assert(t2.getAs[Double]("theil_sen_slope") === 0.01,
      "median slope must shrug off a single outlier bar")
  }

  test("roll spread: a pure bid-ask bounce matches the closed-form estimator") {
    import spark.implicits._
    // price alternates 1.00 / 1.02: moves are +-2 cents, serial
    // covariance is negative by construction
    val alt = (1 to 60).map(i => (i.toLong, if (i % 2 == 0) 1.02 else 1.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("roll").toString
    alt.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // exact integer recompute of the operator's own formula
    val m = (1 to 60).map(i => if (i % 2 == 0) 102L else 100L)
    val x = (1 until 60).map(i => m(i) - m(i - 1))
    val pairs = x.tail.zip(x.init) // (x_t, y = x_{t-1})
    val n = pairs.size.toLong
    val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val cov = (n * sxy - sx * sy).toDouble / (n * (n - 1))
    assert(cov < 0)
    val r = Finance.rollSpread(spark, dir).head()
    assert(r.getAs[Long]("n_move_pairs") === n)
    assert(r.getAs[Double]("serial_cov") === math.rint(cov * 1e6) / 1e6)
    assert(r.getAs[Double]("roll_spread") ===
      math.rint(2.0 * math.sqrt(-cov) / 100.0 * 1e6) / 1e6)
  }

  test("dow effect: monotone +1-cent days read mean 0.01, up-share 1, std 0") {
    val dir = dailySeries((1 to 20).map(i => 1.0 + 0.01 * i))
    val rows = Finance.dowEffect(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("mean_move") === 0.01)
      assert(r.getAs[Double]("up_share") === 1.0)
      assert(r.getAs[Double]("move_std") === 0.0)
      assert(r.getAs[Long]("dow") >= 1L && r.getAs[Long]("dow") <= 7L)
    }
  }

  test("trix: constant price reads exactly 0 once all three layers stabilize") {
    import spark.implicits._
    val flat = (1 to 160).map(i => (i.toLong, 2.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("trix").toString
    flat.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Finance.trix(spark, dir).filter(col("id") >= 125).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // all 40 lags present in every layer -> e3 constant -> ROC 0
      assert(r.getAs[Double]("trix_bp") === 0.0, r.toString)
      assert(math.abs(r.getAs[Double]("triple_ema") - 2.0) < 1e-9)
    }
    // warm-up rows exist and are emitted (truncated-weight convention)
    assert(Finance.trix(spark, dir).count() === 159)
  }

  test("variance ratio: alternating two-point ticks match the closed-form VR(5)") {
    import spark.implicits._
    // tick-level (not daily): m alternates 100/300 cents
    val alt = (1 to 40).map(i => (i.toLong, if (i % 2 == 0) 1.0 else 3.0))
      .toDF("event_id", "value")
      .withColumn("user_id", lit(1L))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("event_id")))
      .withColumn("event_type", lit("tick"))
      .withColumn("props", lit("""{"k": 10}"""))
    val dir = java.nio.file.Files.createTempDirectory("vr").toString
    alt.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // closed form from the same integer sums the operator uses
    val m = (1 to 40).map(i => if (i % 2 == 0) 100L else 300L)
    def stats(k: Int) = {
      val d = (k until 40).map(i => m(i) - m(i - k))
      (d.size.toLong, d.sum, d.map(x => x * x).sum)
    }
    val (n1, s1, q1) = stats(1); val (nk, sk, qk) = stats(5)
    val expected = ((nk * qk - sk * sk).toDouble / (nk * (nk - 1))) /
      (5.0 * (n1 * q1 - s1 * s1).toDouble / (n1 * (n1 - 1)))
    val vr = Finance.varianceRatio(spark, dir).head()
    assert(vr.getAs[Long]("n_moves") === n1)
    assert(math.abs(vr.getAs[Double]("vr_5") -
      math.rint(expected * 1e6) / 1e6) < 1e-12)
    // constant price: zero 1-tick variance -> dropped
    val const = dailySeries(Seq.fill(10)(2.0))
    assert(Finance.varianceRatio(spark, const).count() === 0)
  }

  test("adx: a one-way ramp pins DI+ = DX = ADX = 100, DI- = 0") {
    // +1 cent/day, single-tick days: pdm = 1, mdm = 0, tr = 1
    val dir = dailySeries((1 to 40).map(i => 1.0 + 0.01 * i))
    val rows = Finance.adxDmi(spark, dir).collect()
    assert(rows.length === 40 - 1 - 26) // 39 moves, warm-up rn >= 27
    rows.foreach { r =>
      assert(r.getAs[Double]("di_plus") === 100.0, r.toString)
      assert(r.getAs[Double]("di_minus") === 0.0)
      assert(r.getAs[Double]("dx") === 100.0)
      assert(r.getAs[Double]("adx") === 100.0)
    }
  }

  test("dpo: linear ramp gives the closed-form constant detrend offset") {
    // +1 cent/day: 10*cl - sum(cl[t-15..t-6]) = 105 cents-of-10 ->
    // dpo = 105/1000 dollars
    val dir = dailySeries((1 to 30).map(i => 1.0 + 0.01 * i))
    val rows = Finance.dpo(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("dpo") === 0.105, r.toString))
    // constant price: close equals every SMA -> dpo 0
    Finance.dpo(spark, dailySeries(Seq.fill(20)(2.0))).collect()
      .foreach(r => assert(r.getAs[Double]("dpo") === 0.0))
  }

  test("elder ray: constant price collapses bull and bear power to 0") {
    val rows = Finance.elderRay(spark, dailySeries(Seq.fill(15)(2.0))).collect()
    assert(rows.length === 15)
    rows.foreach { r =>
      assert(r.getAs[Double]("bull_power") === 0.0)
      assert(r.getAs[Double]("bear_power") === 0.0)
    }
  }

  test("omega: symmetric alternation gives omega = 1, upside share 0.5") {
    val dir = dailySeries((1 to 21).map(i => if (i % 2 == 0) 3.0 else 1.0))
    val r = Finance.omegaRatio(spark, dir).head()
    assert(r.getAs[Double]("omega") === 1.0)
    assert(r.getAs[Double]("upside_share") === 0.5)
    // monotone up: no losses -> dropped
    assert(Finance.omegaRatio(spark,
      dailySeries((1 to 15).map(i => 1.0 + 0.01 * i))).count() === 0)
  }

  test("pain index: uptrend pins 0; straight decline matches hand mean") {
    Finance.painIndex(spark, dailySeries((1 to 10).map(i => 1.0 + 0.01 * i)))
      .collect().foreach { r =>
        assert(r.getAs[Double]("pain_index") === 0.0)
        assert(r.getAs[Double]("max_drawdown") === 0.0)
      }
    // 200,199,...,191 cents: dd ratios j/200, mean = sum(0..9)/10/200
    val dir = dailySeries((0 until 10).map(i => 2.0 - 0.01 * i))
    val r = Finance.painIndex(spark, dir).head()
    val exp = (0 until 10).map(j => math.rint(j / 200.0 * 1e6)).sum / 10 / 1e6
    assert(math.abs(r.getAs[Double]("pain_index") - exp) < 1e-9)
    assert(r.getAs[Double]("max_drawdown") === 0.045)
  }

  test("coppock: constant price pins 0 once the lag chain fills") {
    val rows = Finance.coppock(spark, dailySeries(Seq.fill(30)(2.0))).collect()
    assert(rows.length === 30 - 23)
    rows.foreach(r => assert(r.getAs[Double]("coppock") === 0.0))
  }

  test("jarque-bera: symmetric two-point returns read skew 0, kurtosis -2, JB = n/6") {
    // alternating 1.0/3.0 daily closes: 30 log returns of +/-ln 3 in
    // equal counts -> mean 0, m3 = 0, m4/m2^2 = 1 -> JB = 30/6*(0+1)
    val dir = dailySeries((1 to 31).map(i => if (i % 2 == 0) 3.0 else 1.0))
    val r = Finance.jarqueBera(spark, dir).head()
    assert(r.getAs[Long]("n_days") === 30L)
    assert(r.getAs[Double]("skewness") === 0.0)
    assert(r.getAs[Double]("excess_kurtosis") === -2.0)
    assert(r.getAs[Double]("jb_stat") === 5.0)
  }

  test("page-hinkley: constant price pins 0; any drift reads positive") {
    val r0 = Finance.pageHinkley(spark, dailySeries(Seq.fill(10)(2.0))).head()
    assert(r0.getAs[Double]("ph_stat") === 0.0)
    val r1 = Finance.pageHinkley(spark,
      dailySeries((1 to 20).map(i => 1.0 + 0.05 * i))).head()
    assert(r1.getAs[Double]("ph_stat") > 0, r1.toString)
  }

  test("ljung-box: Q nonnegative with df 5; constant price drops") {
    val rows = Finance.ljungBox(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("q_lb") >= 0, r.toString)
      assert(r.getAs[Long]("df") === 5L)
    }
    assert(Finance.ljungBox(spark, dailySeries(Seq.fill(10)(2.0))).count() === 0)
    // a strongly autocorrelated ramp must light the statistic up
    val ramp = Finance.ljungBox(spark,
      dailySeries((1 to 40).map(i => 1.0 + 0.01 * i))).head()
    assert(ramp.getAs[Double]("q_lb") > 20, ramp.toString)
  }

  test("tick imbalance: monotone up pins +1; bounds hold corpus-wide") {
    val up = Finance.tickImbalance(spark,
      dailySeries((1 to 10).map(i => 1.0 + 0.01 * i))).collect()
    assert(up.nonEmpty)
    up.foreach(r => assert(r.getAs[Double]("imbalance") === 1.0))
    Finance.tickImbalance(spark, sfDir).collect().foreach { r =>
      val im = r.getAs[Double]("imbalance")
      assert(im >= -1.0 - 1e-9 && im <= 1.0 + 1e-9, r.toString)
    }
  }

  test("sax motifs: 4-letter alphabet words, ranked census") {
    val rows = Finance.saxMotifs(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getAs[Long]("rk")).toSeq == (1L to rows.length))
    val occ = rows.map(_.getAs[Long]("n_occurrences"))
    assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val w = r.getAs[String]("word")
      assert(w.length == 4 && w.forall(c => c >= 'a' && c <= 'd'), w)
      assert(r.getAs[Long]("n_symbols") <= r.getAs[Long]("n_occurrences"))
    }
  }

  test("treynor: a lone symbol IS the market -> beta 1, treynor = mean return") {
    val dir = dailySeries((1 to 15).map(i => 1.0 + 0.1 * i))
    val r = Finance.treynor(spark, dir).head()
    assert(r.getAs[Double]("beta") === 1.0)
    // treynor = mean micro-return / 1e6 (beta = 1)
    assert(math.abs(r.getAs[Double]("treynor")) > 0)
    assert(r.getAs[Long]("n_days") === 14L)
  }

  test("vpin: ratios bounded, weighted mean never exceeds the worst bucket") {
    val rows = Finance.vpin(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, w) = (r.getAs[Double]("vpin"), r.getAs[Double]("worst_bucket"))
      assert(v >= 0.0 && w <= 1.0 && v <= w + 1e-6, s"$r")
      assert(r.getAs[Long]("n_buckets") >= 1L &&
        r.getAs[Long]("classified_vol") > 0L)
    }
    // monotone uptrend: every classified tick is a buy -> vpin = 1
    val up = Finance.vpin(spark,
      dailySeries((1 to 12).map(i => 1.0 + 0.5 * i))).head()
    assert(up.getAs[Double]("vpin") === 1.0 &&
      up.getAs[Double]("worst_bucket") === 1.0)
  }
}
