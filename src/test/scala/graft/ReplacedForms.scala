package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The multi-pass formulations that the one-pass operators replaced,
  * kept as test oracles: RefPipelineSpec, FinanceSpec, StreamingSpec,
  * IvfSpec and QuantizerSpec compare the shipped code against them row
  * for row.
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

  /** Exploded micro-unit rows `(vec_id, pos, vq)` of `(vec_id,
    * embedding, ...)` rows. */
  private def microUnits(rows: DataFrame): DataFrame =
    rows.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("vq"))

  /** `StreamingKmeansStats.statsSink`'s statistics `(cid, pos, sum_vq,
    * n)` of one batch as the exploded assignment: a pos-equi-join
    * against the centroids `(cid, pos, cq)`, a BIGINT distance
    * aggregate, `min(struct(d2, cid))` per vector, and a join back to
    * the exploded rows for the sums. */
  def kmeansStats(batch: DataFrame, cents: DataFrame): DataFrame = {
    val vq = microUnits(batch)
    val asg = vq.join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "cid")
      .agg(sum((col("vq") - col("cq")) * (col("vq") - col("cq"))).as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    asg.join(vq, Seq("vec_id"))
      .groupBy("cid", "pos")
      .agg(sum(col("vq")).as("sum_vq"), count(lit(1)).as("n"))
  }

  /** `Similarity.pqModel` over `dir` as DataFrame codebooks: exploded
    * subvector rows `(vec_id, pos, vq, sub)`, the seed joined back from
    * the 16 smallest (PolyHash(vec_id), vec_id), and two rounds whose
    * codebook update joins the assignment back to the exploded rows.
    * Each assignment packs the subvectors and aggregates a per-subspace
    * model `(sub, cids, cqas)` from the books. Returns `(codebooks,
    * codes, queryTable)`. */
  def pqModel(spark: SparkSession, dir: String, nQueries: Int = 10): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.PolyHash.register(spark)
    graft.functions.NearestCid.register(spark)
    def packed(key: String, v: String, out: String) =
      transform(array_sort(collect_list(struct(col(key), col(v).as("v")))),
        s => s.getField("v")).as(out)
    val sq = microUnits(Tables.embeddings(spark, dir)).withColumn("sub", expr("pos div 8"))
    val sqp = sq.groupBy("vec_id", "sub").agg(packed("pos", "vq", "sva"))
    def subCentModel(cents: DataFrame): DataFrame =
      cents.groupBy("sub", "cid").agg(packed("pos", "cq", "cqa"))
        .groupBy("sub")
        .agg(sort_array(collect_list(struct(col("cid"), col("cqa")))).as("cs"))
        .select(col("sub"),
          transform(col("cs"), s => s.getField("cid")).as("cids"),
          transform(col("cs"), s => s.getField("cqa")).as("cqas"))
    def assign(cents: DataFrame): DataFrame =
      sqp.join(broadcast(subCentModel(cents)), Seq("sub"))
        .select(col("vec_id"), col("sub"),
          call_function(graft.functions.NearestCid.Name, col("sva"), col("cids"), col("cqas")).as("cid"))
    def update(asg: DataFrame): DataFrame =
      asg.join(sq, Seq("vec_id", "sub"))
        .groupBy("cid", "sub", "pos")
        .agg(round(sum(col("vq")).cast("double") / count(lit(1))).cast("bigint").as("cq"))
    val seedIds = sq.select("vec_id").distinct()
      .withColumn("h", call_function(graft.functions.PolyHash.Name, col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id")).limit(16)
      .select("vec_id")
    val c0 = sq.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("vec_id").cast("bigint").as("cid"), col("sub"), col("pos"), col("vq").as("cq"))
    val books = update(assign(update(assign(c0))))
    val qd = sq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sub"), col("pos"), col("vq").as("qv"))
      .join(broadcast(books), Seq("sub", "pos"))
      .groupBy("query_id", "sub", "cid")
      .agg(sum((col("qv") - col("cq")) * (col("qv") - col("cq"))).as("d2q"))
    (books, assign(books), qd)
  }
}
