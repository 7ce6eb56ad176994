package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus token statistics over a document stream — the
  * streaming twin of [[graft.operators.TextAnalysis.heavyHitterTokens]]
  * and the general shape of every incremental AGGREGATION (where the
  * dedup twins are incremental JOINS): each micro-batch computes its
  * own partial per-token aggregate and appends it to a durable
  * partial-count store; the merged view re-aggregates the partials.
  * Token counts are a commutative monoid, so any batch split of a
  * corpus merges to the same totals — stream==batch holds by algebra
  * and is asserted in StreamingSpec anyway.
  *
  * The per-document distinct count survives partial aggregation
  * because documents arrive WHOLE (a batch boundary never splits one
  * document's tokens), so per-batch `countDistinct(doc_id)` partials
  * sum exactly.
  *
  * Scale shape: executor state is ZERO — the store is storage-backed
  * partial aggregates, one row per (token, batch), exactly the
  * map-side-partial structure a 100 TB batch aggregate produces,
  * persisted instead of shuffled. The merged view is a second-level
  * aggregate over partials (vocabulary × batch rows, not corpus
  * rows); a compaction pass that rewrites the store as one merged
  * partition is the same query with a write. Exactly-once:
  * [[StoreIO]]'s contract.
  */
object StreamingTokenCounts {

  private val StoreSchema = "tok STRING, n_occ BIGINT, n_docs BIGINT, batch_id BIGINT"

  private def readStore(spark: SparkSession, storePath: String): DataFrame =
    StoreIO.readOrEmpty(spark, storePath, StoreSchema)

  /** foreachBatch body: fold one micro-batch of `(doc_id, text, ...)`
    * rows into the partial-count store.
    */
  def countSink(storePath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(batch
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs")),
        batchId, storePath)
      ()
  }

  /** Merged per-token totals over everything streamed so far. */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    readStore(spark, storePath)
      .groupBy("tok")
      .agg(sum(col("n_occ")).as("n_occ"), sum(col("n_docs")).as("n_docs"))

  /** The heavy-hitter report over the merged store — identical
    * columns and semantics to the batch
    * [[graft.operators.TextAnalysis.heavyHitterTokens]].
    */
  def topK(spark: SparkSession, storePath: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val merged = counts(spark, storePath).localCheckpoint()
    val total = merged.agg(sum(col("n_occ")).as("total_occ"))
    val topk = merged.orderBy(col("n_occ").desc, col("tok")).limit(k)
    topk.crossJoin(broadcast(total))
      // bounded: the global rank window runs over the k-row limit cut,
      // never the token vocabulary
      .withColumn("rk",
        row_number().over(Window.orderBy(col("n_occ").desc, col("tok"))).cast("bigint"))
      .select(col("rk"), col("tok"), col("n_occ"), col("n_docs"),
        round(col("n_occ").cast("double") / col("total_occ"), 6).as("share"))
      .orderBy("rk")
  }
}
