package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming count-min sketch ingest — the MERGEABILITY of the sketch
  * made operational: each micro-batch contributes a depth x width
  * partial counter table ([[TextAnalysis.cmsCountersFrom]], the same
  * seam the batch audit uses), and the served sketch is the per-cell
  * SUM of all partials. Counters are sums, sums commute — so the
  * merged store equals the batch sketch over all arrived documents
  * under ANY split and arrival order (asserted in StreamingSpec), and
  * the same shape runs map-side partials on a 1000-executor cluster:
  * this twin IS the 100 TB aggregation story for frequency estimation,
  * where the vocabulary no longer fits a shuffle but depth x width
  * counters always fit one executor.
  *
  * Exactly-once: per-batch partials, [[StoreIO]]'s contract.
  */
object StreamingCms {

  private val CtrSchema = "i BIGINT, bucket BIGINT, cnt BIGINT, batch_id BIGINT"

  /** foreachBatch body: write this batch's partial counter table. */
  def counterSink(ctrPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      StoreIO.writeBatch(TextAnalysis.cmsCountersFrom(batch), batchId, ctrPath)
      ()
  }

  /** The merged sketch: per-cell sum of every batch partial. */
  def readCounters(spark: SparkSession, ctrPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, ctrPath, CtrSchema)
      .groupBy("i", "bucket").agg(sum(col("cnt")).as("cnt"))

  /** Point estimates from a merged sketch for a `(tok)` frame: min
    * over rows of the hashed counter, 0 for cells no token ever hit
    * (an empty counter really is 0 — the one-sided contract still
    * holds). The counter table is depth x width and broadcasts.
    */
  def estimates(tokens: DataFrame, counters: DataFrame): DataFrame = {
    graft.functions.PolyHash.register(tokens.sparkSession)
    tokens
      .select(col("tok"),
        call_function(graft.functions.PolyHash.Name, col("tok")).as("th"))
      .select(col("tok"), col("th"),
        explode(sequence(lit(0L), lit((TextAnalysis.CmsDepth - 1).toLong))).as("i"))
      .withColumn("bucket", TextAnalysis.cmsBucket(col("i"), col("th")))
      .join(broadcast(counters), Seq("i", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }
}
