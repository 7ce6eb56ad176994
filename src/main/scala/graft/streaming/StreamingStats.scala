package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental hypothesis-test statistics — the inferential member of
  * the streaming-twin family: Welch-t, chi-square, Spearman,
  * Kruskal-Wallis, Jarque-Bera, and daily Ljung-Box are all functions
  * of BOUNDED sufficient statistics (per-category count/sum/
  * sum-of-squares; contingency cells; value-domain-bounded rank
  * histograms; calendar-bounded daily price partials), so each
  * arriving micro-batch appends its partial statistics to a durable
  * store and the fold reproduces the batch test EXACTLY —
  * integer/decimal sums are split- and order-independent, and the
  * final expression is shared verbatim with the batch operator
  * ([[graft.operators.Stats.welchFromStats]] /
  * [[graft.operators.Stats.chiFromCells]] /
  * [[graft.operators.Stats.spearmanFromCells]] /
  * [[graft.operators.Stats.kruskalFromCounts]] /
  * [[graft.operators.Finance.jarqueBeraFromDaily]] /
  * [[graft.operators.Finance.ljungBoxFromDaily]]).
  *
  * This is how a monitoring plane actually runs an A/B significance
  * test over an unbounded stream: never re-scan history, keep
  * category-bounded partials, re-evaluate the closed-form statistic
  * after each batch.
  *
  * Scale shape: executor state ZERO; the store carries
  * (categories x batches) rows of partials, never events.
  * Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingStats {

  private val WelchSchema =
    "event_type STRING, n BIGINT, s1 DECIMAL(38,0), s2 DECIMAL(38,0), batch_id BIGINT"
  private val CellSchema =
    "pri STRING, st STRING, o BIGINT, batch_id BIGINT"

  /** foreachBatch body: fold one micro-batch of
    * `(event_type, value, ...)` events into the Welch partials store. */
  def welchSink(statsPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .withColumn("m", round(col("value") * 100).cast("bigint"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               sum(col("m").cast("decimal(28,0)")).cast("decimal(38,0)").as("s1"),
               sum((col("m") * col("m")).cast("decimal(28,0)")).cast("decimal(38,0)")
                 .as("s2")),
        batchId, statsPath)
      ()
  }

  /** The Welch pair table over everything streamed — identical
    * columns and values to [[graft.operators.Stats.welchT]] over the
    * same events. */
  def welchPairs(spark: SparkSession, statsPath: String): DataFrame =
    graft.operators.Stats.welchFromStats(
      StoreIO.readOrEmpty(spark, statsPath, WelchSchema)
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"),
             sum(col("s1")).as("s1"), sum(col("s2")).as("s2")))

  /** foreachBatch body: fold one micro-batch of order rows into the
    * contingency cell store. */
  def chiSink(cellPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("o")),
        batchId, cellPath)
      ()
  }

  /** Chi-square + Cramér's V over everything streamed — identical to
    * [[graft.operators.Stats.chiSquare]] over the same orders. */
  def chiSquare(spark: SparkSession, cellPath: String): DataFrame =
    graft.operators.Stats.chiFromCells(
      StoreIO.readOrEmpty(spark, cellPath, CellSchema)
        .groupBy("pri", "st")
        .agg(sum(col("o")).as("o")))

  private val SpearmanSchema =
    "symbol STRING, m BIGINT, v BIGINT, cnt BIGINT, batch_id BIGINT"
  private val KruskalSchema =
    "event_type STRING, m BIGINT, cj BIGINT, batch_id BIGINT"
  private val DailyBarSchema =
    "symbol STRING, day DATE, psum DECIMAL(38,6), pcnt BIGINT, batch_id BIGINT"

  /** foreachBatch body: fold one micro-batch of quote ticks into the
    * per-symbol joint (cent, volume) histogram — Spearman's bounded
    * sufficient statistic (rank moments rebuild exactly from the
    * count-weighted domain table; the domain is value-bounded, never
    * stream-length-bounded). */
  def spearmanSink(cellPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .filter(col("volume").isNotNull)
          .withColumn("m", round(col("price") * 100).cast("bigint"))
          .groupBy(col("symbol"), col("m"), col("volume").as("v"))
          .agg(count(lit(1)).as("cnt")),
        batchId, cellPath)
      ()
  }

  /** Per-symbol Spearman rho over everything streamed — identical to
    * [[graft.operators.Stats.spearman]] over the same ticks. */
  def spearman(spark: SparkSession, cellPath: String): DataFrame =
    graft.operators.Stats.spearmanFromCells(
      StoreIO.readOrEmpty(spark, cellPath, SpearmanSchema)
        .groupBy("symbol", "m", "v")
        .agg(sum(col("cnt")).as("cnt")))

  /** foreachBatch body: fold one micro-batch of
    * `(event_type, value, ...)` events into the (type, cent) count
    * store — Kruskal-Wallis's sufficient statistic. */
  def kruskalSink(countPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .withColumn("m", round(col("value") * 100).cast("bigint"))
          .groupBy("event_type", "m")
          .agg(count(lit(1)).as("cj")),
        batchId, countPath)
      ()
  }

  /** Kruskal-Wallis H over everything streamed — identical to
    * [[graft.operators.Stats.kruskalWallis]] over the same events. */
  def kruskalWallis(spark: SparkSession, countPath: String): DataFrame =
    graft.operators.Stats.kruskalFromCounts(
      StoreIO.readOrEmpty(spark, countPath, KruskalSchema)
        .groupBy("event_type", "m")
        .agg(sum(col("cj")).as("cj")))

  /** foreachBatch body: fold one micro-batch of quote ticks into the
    * per-(symbol, day) additive price-partial store — the SHARED
    * sufficient statistic of the Jarque-Bera and daily Ljung-Box
    * monitors (psum/pcnt are split- and order-independent decimal/
    * integer sums; the store is calendar-bounded, never
    * event-bounded). */
  def dailyBarSink(barPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .withColumn("day", to_date(col("ts")))
          .groupBy("symbol", "day")
          .agg(sum(col("price").cast("decimal(18,6)")).cast("decimal(38,6)")
                 .as("psum"),
               count(lit(1)).as("pcnt")),
        batchId, barPath)
      ()
  }

  private def dailyFold(spark: SparkSession, barPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, barPath, DailyBarSchema)
      .groupBy("symbol", "day")
      .agg(sum(col("psum")).as("psum"), sum(col("pcnt")).as("pcnt"))

  /** Per-symbol Jarque-Bera over everything streamed — identical to
    * [[graft.operators.Finance.jarqueBera]] over the same ticks. */
  def jarqueBera(spark: SparkSession, barPath: String,
                 minDays: Int = 10): DataFrame =
    graft.operators.Finance.jarqueBeraFromDaily(
      dailyFold(spark, barPath), minDays)

  /** Per-symbol daily-bar Ljung-Box over everything streamed —
    * identical to [[graft.operators.Finance.ljungBoxDaily]] over the
    * same ticks. */
  def ljungBoxDaily(spark: SparkSession, barPath: String,
                    maxLag: Int = 5): DataFrame =
    graft.operators.Finance.ljungBoxFromDaily(
      dailyFold(spark, barPath), maxLag)

  private val KendallBarSchema =
    "symbol STRING, day DATE, lts BIGINT, lid BIGINT, " +
      "lm BIGINT, vsum BIGINT, batch_id BIGINT"

  /** foreachBatch body: fold one micro-batch of quote ticks into the
    * per-(symbol, day) Kendall bar store — the daily close is a MAX
    * over the (ts_epoch, id, cents) struct (the tick total order, so
    * out-of-order and split deliveries fold to the same last tick;
    * cents pre-round PER TICK, so the fold carries the exact integer
    * the batch operator derives from the same closing tick) and the
    * daily volume an additive sum; both are calendar-bounded, never
    * event-bounded. Null-volume ticks are excluded up front, matching
    * [[graft.operators.Stats.kendallTau]]'s filter (they contribute
    * to neither the close nor the volume there). */
  def kendallDailySink(barPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .filter(col("volume").isNotNull)
          .withColumn("day", to_date(col("ts")))
          .groupBy("symbol", "day")
          .agg(max(struct(col("ts_epoch").as("lts"), col("id").as("lid"),
                 round(col("price") * 100).cast("bigint").as("lm"))).as("lb"),
               sum(col("volume")).as("vsum"))
          .select(col("symbol"), col("day"), col("lb.lts").as("lts"),
            col("lb.lid").as("lid"), col("lb.lm").as("lm"), col("vsum")),
        batchId, barPath)
      ()
  }

  /** Per-symbol Kendall tau-b over everything streamed — identical to
    * [[graft.operators.Stats.kendallTau]] over the same ticks: the
    * store folds to the exact per-symbol daily (m, v) table and the
    * batch keep rule ([[graft.operators.Stats.kendallFromDaily]])
    * finishes it, so stream==batch is shared code. */
  def kendallTau(spark: SparkSession, barPath: String): DataFrame =
    graft.operators.Stats.kendallFromDaily(
      StoreIO.readOrEmpty(spark, barPath, KendallBarSchema)
        .groupBy("symbol", "day")
        .agg(max(struct(col("lts"), col("lid"), col("lm"))).as("lb"),
             sum(col("vsum")).as("v"))
        .select(col("symbol"), col("day"), col("lb.lm").as("m"), col("v")))
}
