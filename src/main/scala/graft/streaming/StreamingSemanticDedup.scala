package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Incremental SemDeDup — the embedding-space dedup index maintained
  * as vectors arrive: the batch trainer publishes its final cells
  * once, and every arriving batch is
  *   - ROUTED to its nearest cell and its micro-unit rows appended to
  *     the vector store ([[Similarity.coarseAssign]], the router the
  *     batch operator and the vector-store router use), then
  *   - PAIRED against every stored vector of the same cell (including
  *     its own batch) under the `maxD2` threshold, appending new
  *     duplicate pairs to the pair store.
  * Each unordered pair is discovered exactly once — when its later
  * vector arrives — so after any split the accumulated DISTINCT pair
  * set equals the batch pair set, and the read side cogroups the
  * stored members and pairs by cell and applies the SAME per-cell keep
  * rule as the batch pass ([[Similarity.keepRule]]) to produce the
  * identical yield table (stream==batch asserted in StreamingSpec;
  * batch replay re-derives a superset into its own partition and the
  * read-side distinct absorbs it — idempotent).
  *
  * Scale shape: the per-batch pair join is CELL-SCOPED (equi-join on
  * cid) — batch-size x cell-occupancy, never store-wide; the vector
  * store grows by 64 micro rows per vector (what the pairing
  * arithmetic needs); centrality is recomputed on read from the store
  * and the broadcast cells (k x 64 rows), never carried as state; the
  * report holds one cell's members and pairs per group.
  * Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingSemanticDedup {

  private val VecSchema =
    "vec_id BIGINT, cid BIGINT, pos BIGINT, vq BIGINT, batch_id BIGINT"
  private val PairSchema = "cid BIGINT, u BIGINT, v BIGINT, batch_id BIGINT"

  private def readStore(spark: SparkSession, path: String, schema: String,
                        cols: Seq[String]): DataFrame =
    StoreIO.readOrEmpty(spark, path, schema).select(cols.map(col): _*)

  /** All routed micro-unit rows `(vec_id, cid, pos, vq)` so far. */
  def readVectors(spark: SparkSession, vecPath: String): DataFrame =
    readStore(spark, vecPath, VecSchema, Seq("vec_id", "cid", "pos", "vq"))
      .dropDuplicates("vec_id", "pos")

  /** All distinct duplicate pairs `(cid, u, v)` so far (replay can
    * re-derive a pair into a second partition — distinct absorbs it).
    */
  def readPairs(spark: SparkSession, pairPath: String): DataFrame =
    readStore(spark, pairPath, PairSchema, Seq("cid", "u", "v")).distinct()

  /** foreachBatch body: route one micro-batch of
    * `(vec_id, embedding, ...)` rows against the published cells,
    * append its vectors, then pair the batch against the full
    * same-cell store (its own rows included — within-batch duplicates
    * are pairs too).
    */
  def ingestSink(cellsPath: String, vecPath: String, pairPath: String,
                 maxD2: Long = 1400000000000L): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val cells = spark.read.parquet(cellsPath)
      val routed = Similarity.coarseAssign(batch, cells)
        .select(col("vec_id"), col("cid"), posexplode(col("vqa")))
        .select(col("vec_id"), col("cid"), col("pos").cast("bigint").as("pos"),
          col("col").as("vq"))
      StoreIO.writeBatch(routed, batchId, vecPath)
      // new-vs-store pairing AFTER the append, so the store already
      // contains this batch (new-new pairs come out of the same join);
      // ordered (a.vec_id, b.vec_id) distances normalize to u < v and
      // dedup — a new-new pair is computed in both directions with the
      // same d2, a new-old pair in one
      val b = readVectors(spark, vecPath)
      StoreIO.writeBatch(routed.alias("a").join(b.alias("b"),
            col("a.cid") === col("b.cid") && col("a.pos") === col("b.pos") &&
              col("a.vec_id") =!= col("b.vec_id"))
          .groupBy(col("a.cid").as("cid"), col("a.vec_id").as("x"),
            col("b.vec_id").as("y"))
          .agg(sum((col("a.vq") - col("b.vq")) * (col("a.vq") - col("b.vq"))).as("d2"))
          .filter(col("d2") < lit(maxD2))
          .select(col("cid"), least(col("x"), col("y")).as("u"),
            greatest(col("x"), col("y")).as("v"))
          .distinct(),
        batchId, pairPath)
      ()
  }

  /** The per-cell yield table over everything ingested so far — the
    * batch [[Similarity.semanticDedup]] shape, produced by the SAME
    * keep-rule code over the streamed stores.
    */
  def report(spark: SparkSession, cellsPath: String, vecPath: String,
             pairPath: String): DataFrame = {
    import spark.implicits._
    // centrality: exact d2 of each stored vector to its routed centroid
    val members = readVectors(spark, vecPath)
      .join(broadcast(spark.read.parquet(cellsPath)), Seq("cid", "pos"))
      .groupBy("cid", "vec_id")
      .agg(sum((col("vq") - col("cq")) * (col("vq") - col("cq"))).as("cent_d2"))
      .as[(Long, Long, Long)].groupByKey(_._1)
    val pairs = readPairs(spark, pairPath).as[(Long, Long, Long)].groupByKey(_._1)
    members.cogroup(pairs) { (cell, ms, ps) =>
      if (!ms.hasNext) Iterator.empty
      else Iterator(Similarity.keepRule(cell, ms.map(m => (m._2, m._3)).toSeq,
        ps.map(p => (p._2, p._3)).toSeq))
    }.toDF().orderBy("cell")
  }
}
