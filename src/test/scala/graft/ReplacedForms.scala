package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The multi-pass formulations that the one-pass operators replaced,
  * kept as test oracles: RefPipelineSpec, FinanceSpec, StreamingSpec
  * and IvfSpec compare the shipped code against them row for row.
  */
object ReplacedForms {

  /** `RefPipeline.normalizeUnion` as three filtered slices of `events`
    * (three scans), one projection per feed, glued by `unionByName`. */
  def normalizeUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def feed(slice: DataFrame, price: org.apache.spark.sql.Column, source: String) =
      slice.select(
        col("event_id").as("id"),
        concat(lit("u"), col("user_id")).as("symbol"),
        price.as("price"),
        get_json_object(col("props"), "$.k").cast("bigint").as("volume"),
        unix_timestamp(col("ts")).as("ts_epoch"),
        lit(source).as("source"))
    val stringly = col("value").cast("string").cast("double")
    feed(ev.filter(col("event_type") === "view"), stringly, "AlphaVantage")
      .unionByName(feed(ev.filter(col("event_type") === "click"), col("value"), "WebSocketMock"))
      .unionByName(feed(ev.filter(!col("event_type").isin("view", "click")), stringly, "CSVMock"))
  }

  /** `Finance.ohlcBars` over `quotes` with open and close picked by two
    * opposite-order `row_number` windows on (symbol, day). */
  def ohlcBars(quotes: DataFrame): DataFrame = {
    val q = quotes.withColumn("day", to_date(col("ts")))
    val asc = Window.partitionBy("symbol", "day")
      .orderBy(col("ts_epoch").asc, col("id").asc)
    val desc = Window.partitionBy("symbol", "day")
      .orderBy(col("ts_epoch").desc, col("id").desc)
    q.withColumn("rn_a", row_number().over(asc))
      .withColumn("rn_d", row_number().over(desc))
      .groupBy("symbol", "day")
      .agg(
        max(when(col("rn_a") === 1, col("price"))).as("open_price"),
        max(col("price")).as("high_price"),
        min(col("price")).as("low_price"),
        max(when(col("rn_d") === 1, col("price"))).as("close_price"),
        sum(col("volume")).as("bar_volume"),
        count(lit(1)).as("n_ticks"))
      .orderBy("symbol", "day")
  }

  /** `Similarity.knnIvf` over `dir` as the row_number form: every
    * (vector, centroid) pair scored, a per-vector rank window, the
    * rank-1 cell per vector, the `nProbe` best cells per query, and a
    * `distinct` over the candidate pairs. */
  def knnIvf(spark: SparkSession, dir: String, k: Int, nQueries: Int,
             nCells: Int, nProbe: Int): DataFrame = {
    graft.functions.DotProduct.register(spark)
    def dot(a: String, b: String) = call_function("graft_dot", col(a), col(b))
    val c = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), sqrt(dot("embedding", "embedding")).as("nrm"))
    val cents = c.filter(col("vec_id") < nCells).select(
      col("vec_id").as("centroid_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val byVec = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("centroid_id"))
    val ranked = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid_id"),
        round(dot("embedding", "c_emb") / (col("nrm") * col("c_nrm")), 6).as("c_sim"))
      .withColumn("cell_rank", row_number().over(byVec))
    val cells = ranked.filter(col("cell_rank") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("centroid_id").as("cell"))
    val queryCells = ranked.filter(col("vec_id") < nQueries && col("cell_rank") <= nProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("centroid_id").as("cell"))
    val scored = cells.join(broadcast(queryCells),
        cells("cell") === queryCells("cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot("embedding", "q_emb") / (col("nrm") * col("q_nrm")), 6).as("cos"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
      .select("query_id", "neighbor_id", "rk", "cos")
      .orderBy("query_id", "rk")
  }
}
