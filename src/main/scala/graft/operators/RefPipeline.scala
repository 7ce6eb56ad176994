package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Reference-parity operators, Spark-first.
  *
  * The reference (`/root/reference/financial_engine.py`) is a push-model
  * record-at-a-time pipeline: per-source normalization into one unified
  * record shape (financial_engine.py:186-194, :234-235, :270-273), a
  * validity filter + clamp (`DataCleaner`, financial_engine.py:283-291),
  * a per-key count-based sliding simple moving average with a warm-up
  * gate (`MovingAverageCalculator`, financial_engine.py:293-312), and a
  * threshold alert predicate (`AlertGenerator`, financial_engine.py:97-110).
  *
  * Here each stage is a pure `DataFrame => DataFrame` built from Catalyst
  * column expressions — no UDFs, everything stays inside whole-stage
  * codegen. The batch formulation runs over the driver's `events` table
  * (column mapping per FIXTURES.md: symbol↦user_id, price↦value,
  * timestamp↦ts, id↦event_id, source↦event_type); the streaming
  * formulation reusing the same expressions lives in
  * [[graft.streaming.StreamingSma]].
  *
  * Scale notes (100 TB): every stage is embarrassingly parallel except the
  * SMA, whose only shuffle is a hash partition on the key (`user_id`).
  * Key cardinality is high in real workloads, so partitions are balanced;
  * a single hot key would be handled by AQE skew splitting on the sort,
  * not by salting (the window frame needs all rows of a key in one
  * partition, ordered). There is exactly ONE shuffle in the whole
  * normalize→clean→sma→alert pipeline because filter/project stages
  * preserve partitioning and the alert filter sits above the window.
  * Normalization reads the 100 TB `events` table ONCE: one projection
  * picks each row's feed by `event_type`, where a union of three
  * filtered slices would scan it three times.
  */
object RefPipeline {

  /** Config keys ported from `ConfigurationManager`
    * (financial_engine.py:25-42). The Singleton pattern is not ported —
    * these are plain parameters, read per session by
    * [[Config.fromSession]].
    */
  final case class Config(
      movingAverageWindow: Int = 5,     // financial_engine.py:38
      priceAlertThreshold: Double = 108.0 // financial_engine.py:39
  )

  object Config {
    /** Session-conf wiring (`spark.graft.*`) — the Spark idiom for the
      * reference's ConfigurationManager singleton (financial_engine.py:20-56):
      * one mutable key-value plane scoped to the session, overridable
      * per job with `--conf`.
      */
    def fromSession(spark: SparkSession): Config = Config(
      movingAverageWindow =
        spark.conf.get("spark.graft.movingAverageWindow", "5").toInt,
      priceAlertThreshold =
        spark.conf.get("spark.graft.priceAlertThreshold", "108.0").toDouble)
  }

  /** Unified record schema (financial_engine.py:186-194): the three raw
    * feeds are modeled as three disjoint slices of `events`, keyed by
    * `event_type`, with per-source raw column names/types — the Spark
    * form of S1-S5 source multiplexing (financial_engine.py:335-339,
    * :367-377, :388-391). ONE scan and ONE projection normalize all
    * three: each row's source projection is chosen by `event_type`.
    *
    *  - "view" → AlphaVantage: string-typed price/volume needing casts,
    *    like the REST JSON fields "05. price"/"06. volume"
    *    (financial_engine.py:179-190); volume carried in the `props`
    *    JSON, extracted with `get_json_object`.
    *  - "click" → WebSocketMock: renames instrument→symbol, value→price,
    *    vol→volume, ts→timestamp (financial_engine.py:234-235) — the
    *    native numeric price passes through uncast.
    *  - any other type → CSVMock: header-cast semantics, price cast
    *    from string (financial_engine.py:251).
    *
    * A row with a null `event_type` belongs to no feed and is dropped.
    * Volume, id, symbol and timestamp project the same way for every
    * feed. Deterministic for the oracle: `id` is the source `event_id`
    * (the reference's uuid4 at :187 is nondeterministic, excluded per
    * SURVEY §5), timestamps surfaced as epoch seconds BIGINT.
    */
  def normalizeUnion(spark: SparkSession, dir: String): DataFrame = {
    val eventType = col("event_type")
    val stringlyPrice = col("value").cast("string").cast("double")
    Tables.events(spark, dir)
      .filter(eventType.isNotNull)
      .select(
        col("event_id").as("id"),
        concat(lit("u"), col("user_id")).as("symbol"),
        when(eventType === "click", col("value")).otherwise(stringlyPrice).as("price"),
        get_json_object(col("props"), "$.k").cast("bigint").as("volume"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        when(eventType === "view", lit("AlphaVantage"))
          .when(eventType === "click", lit("WebSocketMock"))
          .otherwise(lit("CSVMock")).as("source"))
  }

  /** F2 validity (financial_engine.py:287-289): a tick is kept iff its
    * price is non-null and positive. The one predicate behind `clean`,
    * `cleanWithDeadLetter` and the stream's `StreamingEngine.process`. */
  val validPrice: Column = col("price").isNotNull && col("price") > 0

  /** F3 alert predicate (financial_engine.py:104): the moving average is
    * strictly above `threshold` — equality does NOT fire — and is not
    * NaN. Python's `nan > t` is false, while Spark orders NaN above every
    * value, so the NaN test is explicit. The one predicate behind
    * [[alerts]] and the stream's `Sinks.alerts`. */
  def alertFires(threshold: Double): Column =
    col("moving_average") > lit(threshold) && !isnan(col("moving_average"))

  /** F2 `DataCleaner` (financial_engine.py:283-291): drop records with
    * null or non-positive price; clamp volume to >= 0 with null→0.
    * The 50 ms artificial sleep at :285-286 is a simulation artifact,
    * not ported. Pure narrow ops — fully pushed down to the scan when
    * applied directly over a source.
    */
  def clean(df: DataFrame): DataFrame =
    df.filter(validPrice)
      .withColumn("volume", greatest(lit(0L), coalesce(col("volume"), lit(0L))))

  /** Bad-record handling: the reference silently drops invalid records
    * (financial_engine.py:287-289, return None); at scale you route
    * them to a dead-letter sink with a reason instead, or data loss is
    * undiagnosable. Returns (valid, rejected). Both sides are narrow
    * filters over one scan — Catalyst collapses the shared subtree
    * when both are consumed in one action (e.g. foreachBatch).
    */
  def cleanWithDeadLetter(df: DataFrame): (DataFrame, DataFrame) = {
    val rejected = df
      .filter(!validPrice)
      .withColumn("reject_reason",
        when(col("price").isNull, "null_price").otherwise("non_positive_price"))
    (clean(df), rejected)
  }

  /** A1 `MovingAverageCalculator` (financial_engine.py:293-312): per-key
    * count-based sliding mean over the last `n` prices
    * (`deque(maxlen=n)` at :298,:304-307), emitted only once the deque
    * is full (:308-310) — rows seen earlier pass through with a null
    * `moving_average` (the reference returns the record unchanged and
    * only notifies observers when full).
    *
    * Batch: a row-frame window — `avg(price) OVER (PARTITION BY symbol
    * ORDER BY id ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW)` gated on
    * the frame holding exactly n rows. Ordering by the unique arrival
    * id keeps the frame deterministic (SURVEY §5 determinism rule);
    * `round(..., 6)` absorbs cross-engine float summation-order noise.
    * One shuffle (hash on symbol) + one in-partition sort; at scale the
    * sort is the cost — it spills gracefully and AQE handles skew.
    */
  def movingAverage(df: DataFrame, n: Int, key: String = "symbol", ord: String = "id",
                    priceCol: String = "price"): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ord).rowsBetween(-(n - 1), 0)
    df.withColumn(
      "moving_average",
      when(count(lit(1)).over(w) === n, round(avg(col(priceCol)).over(w), 6))
    )
  }

  /** F3 `AlertGenerator` (financial_engine.py:97-110): the rows where
    * [[alertFires]]; the raw-price branch at :107-110 is dead code and
    * not ported.
    */
  def alerts(df: DataFrame, threshold: Double): DataFrame =
    df.filter(alertFires(threshold))

  /** Alert line formatting (financial_engine.py:100-106): the
    * `*** ALERT ***` message as a column — `format_string` is the
    * codegen'd analog of the reference's f-string. Timestamping is
    * left to the sink (current_timestamp() is nondeterministic and
    * stays out of oracle-checked outputs, SURVEY §5).
    */
  def alertMessages(df: DataFrame, threshold: Double): DataFrame =
    alerts(df, threshold).withColumn("alert_message",
      format_string("*** ALERT *** %s: moving average %.6f exceeds threshold %.2f",
        col("symbol"), col("moving_average"), lit(threshold)))

  /** Synthetic record identity (financial_engine.py:187,:234,:272 —
    * `id = f"{source}_{uuid4()}"`): uniqueness-only ids, per source.
    * uuid() is nondeterministic by design, so this never appears in
    * oracle-checked outputs; the unit test asserts shape + uniqueness.
    */
  def withSyntheticId(df: DataFrame, sourceName: String): DataFrame =
    df.withColumn("id", concat(lit(sourceName), lit("_"), expr("uuid()")))

  /** E2 end-to-end hot path (financial_engine.py:358-365):
    * normalize → clean → SMA → alert, the whole reference pipeline as
    * one declarative plan. Matches the manual filter-before-aggregate
    * ordering the reference hand-codes at :342-344 — here Catalyst
    * would push the cleaner below the window anyway. Parameters come
    * from the session's `spark.graft.*` conf ([[Config.fromSession]]).
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame =
    pipeline(spark, dir, Config.fromSession(spark))

  def pipeline(spark: SparkSession, dir: String, cfg: Config): DataFrame = {
    val normalized = normalizeUnion(spark, dir)
    val cleaned    = clean(normalized)
    val withSma    = movingAverage(cleaned, cfg.movingAverageWindow)
    alerts(withSma, cfg.priceAlertThreshold)
      .select("id", "symbol", "price", "volume", "ts_epoch", "source", "moving_average")
  }
}
