package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental per-source quota cap over a document STREAM — the
  * streaming twin of [[graft.operators.CorpusOps.domainCap]], closing
  * the curation family (quality gate, exact dedup, and near-dup
  * already have twins): no single domain may contribute more than
  * `cap` documents, and the kept set is the SAME deterministic
  * hash-ranked uniform sample the batch operator selects, regardless
  * of arrival order.
  *
  * The quota is retroactive by construction: the winner set is the
  * per-source top-`cap` by (PolyHash(doc_id), doc_id), so a
  * later-arriving lower-hash document can displace an earlier
  * admission — arrival order can never bias the sample toward early
  * crawl shards (a first-`cap`-arrivals quota would). That is exactly
  * the batch semantics, which is what makes stream==batch assertable
  * after any prefix of the stream.
  *
  * Scale shape: each micro-batch prunes ITSELF to its per-source
  * top-`cap` candidates before touching storage (a batch-local rank —
  * the global top-cap is always inside the union of per-batch
  * top-caps, the same pigeonhole as the salted vocab-coverage head),
  * so a batch writes at most cap × |sources in batch| rows and never
  * reads the store at all — the sink is pure append-shaped, cheaper
  * than the dedup sink's anti-join. The store accumulates one bounded
  * candidate partition per batch; [[capped]] ranks the candidate
  * union (cap × nBatches rows per source, NOT corpus-sized) at read.
  * At 100 TB cadence the standard move applies: periodically compact
  * the store by writing `capped` back as a single baseline partition.
  *
  * Exactly-once: [[StoreIO]]'s contract (unit-tested by re-running a
  * sink call), and `capped` is insensitive to a doc appearing in two
  * batches (candidate dedup on (source, doc_id)).
  */
object StreamingDomainCap {

  private val StoreSchema = "source STRING, doc_id BIGINT, h BIGINT, batch_id BIGINT"

  /** The candidate store as a DataFrame (empty-with-schema before the
    * first batch commits).
    */
  def readStore(spark: SparkSession, storePath: String): DataFrame =
    StoreIO.readOrEmpty(spark, storePath, StoreSchema)

  /** foreachBatch body: fold one micro-batch of `(doc_id, source, ...)`
    * rows into the candidate store at `storePath`.
    */
  def candidateSink(storePath: String, cap: Int = 20): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.PolyHash.register(batch.sparkSession)
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      StoreIO.writeBatch(batch
          .select(col("doc_id"), col("source"),
            call_function(graft.functions.PolyHash.Name,
              col("doc_id").cast("string")).as("h"))
          // a doc resent WITHIN one micro-batch must hold one rank slot,
          // not several: duplicate rows rank consecutively (identical
          // (h, doc_id) key) and would evict a distinct doc from the
          // batch-local top-cap that the read-side dedup cannot recover
          .dropDuplicates("source", "doc_id")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= cap)
          .drop("rk"),
        batchId, storePath)
  }

  /** The current kept set `(source, rk, doc_id)` — column-identical to
    * the batch [[graft.operators.CorpusOps.domainCap]] output, and
    * value-identical to running it over every document streamed so far.
    */
  def capped(spark: SparkSession, storePath: String, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    readStore(spark, storePath)
      // a doc resent across two batches is one candidate, not two
      .dropDuplicates("source", "doc_id")
      .withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= cap)
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")
  }
}
