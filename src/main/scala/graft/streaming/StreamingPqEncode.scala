package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Incremental vector-store ingest over an embedding stream — BOTH
  * sides of a FAISS-style index: the batch trainer publishes its
  * artifacts once ([[Similarity.ivfPqModel]] — coarse cells for the
  * router, codebooks for the encoder), and every arriving batch of
  * vectors is
  *   - ENCODED to its 8 sub-codes (the ~64x-compressed form
  *     [[Similarity.ivfPqRecall]] searches) and appended to the code
  *     store, and
  *   - ROUTED to its nearest coarse cell and appended to the routing
  *     table (the IVF prune side a serving query joins against).
  * Both steps are per-vector against FIXED published artifacts — no
  * cross-batch state at all — so the union of per-batch rows over ANY
  * split equals the batch encoding/assignment exactly (stream==batch
  * asserted in StreamingSpec; the arithmetic is shared code, not a
  * reimplementation: [[Similarity.pqAssign]] /
  * [[Similarity.coarseAssign]] pack the batch and route it with the
  * trainers' own router against their driver-side models).
  *
  * Scale shape: the codebook broadcast is 8 rows (one per subspace,
  * 16 codes x 8 dims each) and the cell broadcast one row of k x 64;
  * each batch contributes one (vec_id, sub, cid) row per subspace plus
  * one (vec_id, cid) routing row — 8 small ints + one label per
  * vector, which IS the compression. Exactly-once: [[StoreIO]]'s
  * contract.
  * The serve path needs nothing else: [[Similarity.ivfShortlist]]
  * over (routing, codes) is the same primitive the batch composite
  * runs.
  */
object StreamingPqEncode {

  private val CodeSchema = "vec_id BIGINT, sub BIGINT, cid BIGINT, batch_id BIGINT"
  private val RouteSchema = "vec_id BIGINT, cid BIGINT, batch_id BIGINT"

  private def readStore(spark: SparkSession, path: String, schema: String,
                        cols: Seq[String]): DataFrame =
    StoreIO.readOrEmpty(spark, path, schema).select(cols.map(col): _*)

  /** All codes encoded so far `(vec_id, sub, cid)`. */
  def readCodes(spark: SparkSession, codesPath: String): DataFrame =
    readStore(spark, codesPath, CodeSchema, Seq("vec_id", "sub", "cid"))

  /** All routed vectors so far `(vec_id, cid)` — the IVF side of the
    * streamed store.
    */
  def readRouting(spark: SparkSession, routingPath: String): DataFrame =
    readStore(spark, routingPath, RouteSchema, Seq("vec_id", "cid"))

  /** foreachBatch body: encode one micro-batch of
    * `(vec_id, embedding, ...)` rows against the published codebooks
    * and append its codes.
    */
  def encodeSink(codebookPath: String, codesPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val books = spark.read.parquet(codebookPath)
      StoreIO.writeBatch(Similarity.pqAssign(batch, books),
        batchId, codesPath)
      ()
  }

  /** foreachBatch body: route one micro-batch of vectors to its
    * nearest coarse cell against the published centroids and append
    * to the routing table.
    */
  def routeSink(cellsPath: String, routingPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val cells = spark.read.parquet(cellsPath)
      StoreIO.writeBatch(Similarity.coarseAssign(batch, cells).select("vec_id", "cid"),
        batchId, routingPath)
      ()
  }
}
