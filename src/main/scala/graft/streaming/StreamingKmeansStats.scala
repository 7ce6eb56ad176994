package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Incremental k-means sufficient statistics over an embedding
  * stream — the ML-statistics member of the streaming-twin family
  * (dedup twins are incremental joins, token counts the incremental
  * aggregation; this is the incremental TRAINER statistic): against a
  * FIXED deployed centroid table (published by the batch trainer,
  * [[Similarity.kmeansCentroids]]), each arriving
  * batch of vectors is assigned to its nearest centroid with the
  * batch trainer's EXACT integer micro-unit arithmetic, and the
  * batch's per-(centroid, dim) sufficient statistics (coordinate sum
  * + member count) are appended to a durable store. The merged store
  * yields the updated centroids of ONE Lloyd round over everything
  * streamed — sums of integers are order- and split-independent, so
  * stream==batch holds exactly (asserted in StreamingSpec against
  * `kmeansCentroids(iters = 1)` under an out-of-order split).
  *
  * This is the deploy-time loop a production trainer runs: centroids
  * ship to the ingest pipeline, arriving data accumulates sufficient
  * statistics (never raw vectors), and a periodic fold publishes the
  * refreshed centroids — mini-batch k-means with storage-backed
  * state.
  *
  * Scale shape: executor state is ZERO; the store carries k × dims
  * rows per batch (sufficient statistics, not data); the assignment
  * is the batch trainer's own: [[Similarity.coarseAssign]] packs the
  * batch and routes it against the one-row broadcast model, and
  * [[Similarity.lloydSums]] is the per-(centroid, dim) aggregate a
  * Lloyd round rounds into its means (no window).
  * Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingKmeansStats {

  private val StatsSchema =
    "cid BIGINT, pos BIGINT, sum_vq BIGINT, n BIGINT, batch_id BIGINT"

  private def readStats(spark: SparkSession, statsPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, statsPath, StatsSchema)

  /** Publish the deployed centroid table `(cid, pos, cq)` from the
    * first `k` vectors — the batch trainer's seed
    * ([[Similarity.CentModel.seed]]), so a one-round batch fit over the
    * same corpus is the streamed store's exact oracle. (A production
    * deployment would write the trainer's FINAL centroids here instead;
    * the store fold is identical.)
    */
  def writeSeedCentroids(embeddings: DataFrame, centroidPath: String,
                         k: Int = 8): Unit =
    Similarity.CentModel.seed(Similarity.packEmbeddings(embeddings), k)
      .cells(embeddings.sparkSession)
      .write.mode("overwrite").parquet(centroidPath)

  /** foreachBatch body: route one micro-batch of
    * `(vec_id, embedding, ...)` rows to the deployed centroids and
    * fold its sufficient statistics `(cid, pos, sum_vq, n)` into the
    * store.
    */
  def statsSink(centroidPath: String, statsPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val cents = batch.sparkSession.read.parquet(centroidPath)
      StoreIO.writeBatch(Similarity.lloydSums(Similarity.coarseAssign(batch, cents)),
        batchId, statsPath)
      ()
  }

  /** The one-Lloyd-round updated centroids over everything streamed —
    * identical columns and values to the batch
    * [[Similarity.kmeansCentroids]] with `iters = 1`
    * over the same corpus and seed.
    */
  def updatedCentroids(spark: SparkSession, statsPath: String): DataFrame = {
    val merged = readStats(spark, statsPath)
      .groupBy("cid", "pos")
      .agg(sum(col("sum_vq")).as("s"), sum(col("n")).as("n_members"))
    merged
      .select(col("cid").as("centroid_id"), col("pos"), col("n_members"),
        round(round(col("s").cast("double") / col("n_members")).cast("bigint")
          .cast("double") / 1e6, 6).as("mean_val"))
      .orderBy("centroid_id", "pos")
  }
}
