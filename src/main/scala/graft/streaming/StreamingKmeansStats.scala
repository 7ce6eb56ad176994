package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental k-means sufficient statistics over an embedding
  * stream — the ML-statistics member of the streaming-twin family
  * (dedup twins are incremental joins, token counts the incremental
  * aggregation; this is the incremental TRAINER statistic): against a
  * FIXED deployed centroid table (published by the batch trainer,
  * [[graft.operators.Similarity.kmeansCentroids]]), each arriving
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
  * is the same broadcast-centroid distance join + `min(struct)`
  * hash aggregate as the batch trainer (no window, no cross
  * product). Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingKmeansStats {

  private val StatsSchema =
    "cid BIGINT, pos BIGINT, sum_vq BIGINT, n BIGINT, batch_id BIGINT"

  private def readStats(spark: SparkSession, statsPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, statsPath, StatsSchema)

  /** Explode `(vec_id, embedding, ...)` rows to the trainer's integer
    * micro-unit coordinates — the identical arithmetic of
    * [[graft.operators.Similarity]]'s Lloyd loop, so streamed
    * statistics are bit-comparable to the batch fit.
    */
  private def microUnits(batch: DataFrame): DataFrame = {
    val n = batch.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    batch.repartition(n, col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("bigint").as("pos"),
        round(col("col").cast("double") * 1e6).cast("bigint").as("vq"))
  }

  /** Publish the deployed centroid table `(cid, pos, cq)` from the
    * first `k` vectors — the batch trainer's seed convention, so a
    * one-round batch fit over the same corpus is the streamed
    * store's exact oracle. (A production deployment would write the
    * trainer's FINAL centroids here instead; the store fold is
    * identical.)
    */
  def writeSeedCentroids(embeddings: DataFrame, centroidPath: String,
                         k: Int = 8): Unit =
    microUnits(embeddings.filter(col("vec_id") < k))
      .select(col("vec_id").cast("bigint").as("cid"), col("pos"),
        col("vq").as("cq"))
      .write.mode("overwrite").parquet(centroidPath)

  /** foreachBatch body: assign one micro-batch of
    * `(vec_id, embedding, ...)` rows to the deployed centroids and
    * fold its sufficient statistics into the store.
    */
  def statsSink(centroidPath: String, statsPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val cents = spark.read.parquet(centroidPath)
      // two consumers (distance join + statistics join) of one explode
      val (vq, vqIds) = graft.Caches.trackedCheckpoint(microUnits(batch))
      val d2 = vq.join(broadcast(cents), Seq("pos"))
        .groupBy("vec_id", "cid")
        .agg(sum((col("vq") - col("cq")) * (col("vq") - col("cq"))).as("d2"))
      // nearest centroid via min(struct(d2, cid)) — the trainer's
      // (d2, cid) tie-break as a map-side-partial hash aggregate
      val asg = d2.groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"))
      StoreIO.writeBatch(asg.join(vq, Seq("vec_id"))
          .groupBy("cid", "pos")
          .agg(sum(col("vq")).as("sum_vq"), count(lit(1)).as("n")),
        batchId, statsPath)
      graft.Caches.release(spark, vqIds)
      ()
  }

  /** The one-Lloyd-round updated centroids over everything streamed —
    * identical columns and values to the batch
    * [[graft.operators.Similarity.kmeansCentroids]] with `iters = 1`
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
