package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the co-purchase graph over a lineitem
  * STREAM — the graph family's missing streaming twin: a durable
  * (item, pair-delta) store pair that, after any stream prefix, serves
  * exactly the edges/degrees the batch
  * [[graft.operators.Graphs]].coEdges derivation computes over the
  * rows seen so far (asserted stream==batch in StreamingSpec under
  * order-spanning splits).
  *
  * The incremental step: a micro-batch's genuinely-new (order, part)
  * items pair (a) among themselves within an order and (b) against
  * the order's ALREADY-STORED items — never old×old (counted by an
  * earlier batch), and never across orders. Old and new item sets are
  * disjoint by the anti-join, so each unordered pair is counted
  * exactly once over the stream's lifetime and the pair-count deltas
  * sum to the batch operator's n_co.
  *
  * Scale shape: per batch, one anti-join of the batch's distinct
  * items against the item store and two order-keyed equi-joins whose
  * fan-out is basket-size-squared (the batch operator's own bound) —
  * never #parts². Both stores are storage-resident (zero executor
  * state), keyed by 8-byte ids, and at 100 TB would be bucketed on
  * their join keys (ok / (pa, pb)) so every maintenance join
  * co-locates.
  *
  * Exactly-once: both stores follow [[StoreIO]]'s contract, which is
  * why pair counts live as per-batch DELTAS summed at serve time.
  */
object StreamingGraph {

  private val ItemSchema = "ok BIGINT, pk BIGINT, batch_id BIGINT"
  private val PairSchema = "pa BIGINT, pb BIGINT, delta_n BIGINT, batch_id BIGINT"

  def readPairs(spark: SparkSession, pairPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, pairPath, PairSchema)

  /** foreachBatch body: fold one micro-batch of `(l_orderkey,
    * l_partkey, ...)` rows into the edge stores.
    */
  def edgeSink(itemPath: String, pairPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val b = batch
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val prevItems = StoreIO.readOthers(spark, itemPath, ItemSchema, batchId)
        .select("ok", "pk")
      // genuinely-new items; checkpointed because three joins and the
      // item write all consume it
      val fresh = b.join(prevItems, Seq("ok", "pk"), "left_anti").localCheckpoint()
      val old = prevItems
        .join(fresh.select("ok").distinct(), Seq("ok"), "left_semi")
      val nn = fresh.as("a").join(fresh.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("pa"), col("b.pk").as("pb"))
      // old and fresh are disjoint item sets, so pk values never tie
      val no = fresh.as("a").join(old.as("b"), col("a.ok") === col("b.ok"))
        .select(least(col("a.pk"), col("b.pk")).as("pa"),
                greatest(col("a.pk"), col("b.pk")).as("pb"))
      val delta = nn.unionAll(no)
        .groupBy("pa", "pb").agg(count(lit(1)).as("delta_n"))
      StoreIO.writeBatch(delta, batchId, pairPath)
      StoreIO.writeBatch(fresh, batchId, itemPath)
  }

  /** Current thresholded edge set `(pa, pb)` — the streaming analog of
    * the batch coEdges derivation over all rows seen so far.
    */
  def edges(spark: SparkSession, pairPath: String, minSupport: Int = 2): DataFrame =
    readPairs(spark, pairPath)
      .groupBy("pa", "pb").agg(sum(col("delta_n")).as("n_co"))
      .filter(col("n_co") >= minSupport)
      .select("pa", "pb")

  /** Symmetric degrees over the served edge set. */
  def degrees(spark: SparkSession, pairPath: String, minSupport: Int = 2): DataFrame = {
    val e = edges(spark, pairPath, minSupport)
    e.select(col("pa").as("v")).unionAll(e.select(col("pb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
  }
}
