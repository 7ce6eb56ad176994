package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental NEAR-dup detection over a document stream — the
  * real-time generalization of [[StreamingDedup]]'s exact pass: each
  * micro-batch fingerprints its documents (64-bit SimHash, the exact
  * batch arithmetic — [[Dedup.simhashDocs64From]]), probes a durable
  * fingerprint INDEX for candidates via the same 4x16-bit pigeonhole
  * banding as [[Dedup.simhashNearDup]], verifies with the popcount
  * Hamming bound, emits the discovered near-dup pairs, and appends the
  * batch's prints to the index. This is the crawl-shard shape: every
  * new shard is checked against the whole corpus seen so far without
  * ever rescanning it.
  *
  * Stream==batch: the emitted pair stream over any batch split of a
  * corpus equals the batch [[Dedup.simhashNearDup]] pair set exactly
  * (asserted in StreamingSpec), because each batch emits (a) its
  * within-batch pairs and (b) its cross pairs against the index, and
  * every pair's later-arriving member is in exactly one batch.
  * Arrival order does not matter: pairs are canonicalized to
  * doc_a < doc_b regardless of which side was indexed first.
  *
  * Scale shape: the index carries ONE row per document (doc_id +
  * two 32-bit words — 24 bytes), on storage, zero executor state; the
  * probe is an equi-join on (band, 16-bit key) between the batch's
  * O(batch) band rows and the index's band rows (at 100 TB the index
  * would be stored banded — here it is banded on read, same join).
  * Exactly-once: the index and the pair output follow [[StoreIO]]'s
  * contract.
  */
object StreamingNearDup {

  private val IndexSchema = "doc_id BIGINT, sim_lo BIGINT, sim_hi BIGINT, batch_id BIGINT"
  private val PairSchema  = "doc_a BIGINT, doc_b BIGINT, hamming BIGINT, batch_id BIGINT"

  private def read(spark: SparkSession, path: String, schema: String): DataFrame =
    StoreIO.readOrEmpty(spark, path, schema)

  /** The fingerprint index `(doc_id, sim_lo, sim_hi)` seen so far. */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame =
    read(spark, indexPath, IndexSchema).select("doc_id", "sim_lo", "sim_hi")

  /** All near-dup pairs emitted so far `(doc_a, doc_b, hamming)`. */
  def readPairs(spark: SparkSession, pairsPath: String): DataFrame =
    read(spark, pairsPath, PairSchema).select("doc_a", "doc_b", "hamming")

  /** 4x16-bit pigeonhole band keys of a `(doc_id, sim_lo, sim_hi)`
    * frame — the same banding as [[Dedup.simhashNearDup]].
    */
  private def bands(fps: DataFrame): DataFrame =
    fps.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"), col("band"),
        expr("((CASE WHEN band < 2 THEN sim_lo ELSE sim_hi END)" +
             " >> ((band % 2) * 16)) & 65535").as("bk"))

  /** foreachBatch body: fingerprint one micro-batch of
    * `(doc_id, text, ...)` rows, emit its near-dup pairs (within-batch
    * and vs the index), and fold its prints into the index.
    */
  def pairSink(indexPath: String, pairsPath: String,
               maxHamming: Int = 3): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      require(maxHamming >= 0 && maxHamming <= 3,
        "4 x 16-bit bands guarantee recall only up to Hamming distance 3")
      val spark = batch.sparkSession
      // batch-local fingerprints; tiny (one row per batch doc) but
      // referenced by several subtrees below — materialize once
      // (tracked: localCheckpoint blocks have no Dataset-level
      // unpersist handle — the Caches contract)
      val (fps, fpsIds) = graft.Caches.trackedCheckpoint(
        Dedup.simhashDocs64From(batch))
      val index = StoreIO.readOthers(spark, indexPath, IndexSchema, batchId)
        .select("doc_id", "sim_lo", "sim_hi")
      val nb = bands(fps)
      val ib = bands(index)
      // (a) within-batch pairs, canonical doc_a < doc_b; (b) cross
      // pairs vs the index in BOTH orders (arrival order is not id
      // order: an indexed doc may carry the larger id)
      val candWithin = nb.as("a").join(nb.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      val candCross = ib.as("a").join(nb.as("b"),
          col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") =!= col("b.doc_id"))
      val cand = candWithin.union(candCross)
        .select(
          least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
          expr("cast(bit_count(a.sim_lo ^ b.sim_lo)" +
               " + bit_count(a.sim_hi ^ b.sim_hi) as bigint)").as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
      StoreIO.writeBatch(cand, batchId, pairsPath)
      StoreIO.writeBatch(fps, batchId, indexPath)
      graft.Caches.release(spark, fpsIds)
      ()
  }
}
