package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental Heaps'-law vocabulary growth over a document stream —
  * the streaming twin of [[graft.operators.TextAnalysis.heapsLaw]],
  * in the [[StreamingTokenCounts]] partial-aggregate-store family.
  *
  * A document's growth bucket depends on its GLOBAL doc_id rank, which
  * is unknowable mid-stream (later batches can insert earlier ranks) —
  * so the twin is RETROACTIVE, like the substring twin: the store
  * holds per-batch partials whose merge suffices to rebuild the exact
  * batch report at any point, rather than a frozen early answer.
  * Two facts make the partials small and mergeable:
  *  - per-doc token mass needs one row per document (docs arrive
  *    WHOLE — a batch boundary never splits a document's tokens);
  *  - a type's first arrival is `min(doc_id)` over its occurrences,
  *    and bucket assignment is MONOTONE in doc_id (rank orders by
  *    doc_id), so per-batch `(tok, min(doc_id))` rows merge under min
  *    — a commutative idempotent monoid — to the corpus-wide first
  *    arrival regardless of batch split or arrival order.
  *
  * Scale shape: executor state is ZERO — the store is storage-backed
  * partials (doc-count rows + vocabulary × batch rows). The merged
  * view ranks the doc store on the
  * [[graft.operators.CorpusOps.withGlobalRank]] range-partition
  * backbone (no single-reducer window), folds arrivals through one
  * vocabulary-sized min aggregate, and assembles the <= buckets-row
  * growth table through the SAME
  * [[graft.operators.TextAnalysis.heapsAssemble]] code path as batch.
  * Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingHeaps {

  private val DocSchema = "doc_id BIGINT, n_toks BIGINT, batch_id BIGINT"
  private val TokSchema = "tok STRING, min_doc BIGINT, batch_id BIGINT"

  /** foreachBatch body: fold one micro-batch of `(doc_id, text, ...)`
    * rows into the two partial stores.
    */
  def heapsSink(docStore: String, tokStore: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val toks = batch
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      StoreIO.writeBatch(toks.groupBy("doc_id").agg(count(lit(1)).as("n_toks")), batchId, docStore)
      StoreIO.writeBatch(toks.groupBy("tok").agg(min(col("doc_id")).as("min_doc")),
        batchId, tokStore)
      ()
  }

  /** The growth table over everything streamed so far — identical
    * columns and values to the batch heapsLaw on the same corpus.
    */
  def growth(spark: SparkSession, docStore: String, tokStore: String,
             buckets: Int = graft.operators.TextAnalysis.HeapsBuckets): DataFrame = {
    val docs = StoreIO.readOrEmpty(spark, docStore, DocSchema)
      .select("doc_id", "n_toks")
    val (ranked, total) = graft.operators.CorpusOps.withGlobalRank(
      docs, Seq(col("doc_id")), "rn")
    val bucketed = ranked
      .withColumn("bkt", expr(s"((rn - 1) * $buckets) div ${total}L + 1"))
      .localCheckpoint() // feeds both the mass rollup and the arrival map
    val mass = bucketed.groupBy("bkt").agg(sum(col("n_toks")).as("n_toks"))
    val arrivals = StoreIO.readOrEmpty(spark, tokStore, TokSchema)
      .groupBy("tok").agg(min(col("min_doc")).as("doc_id"))
      .join(bucketed.select("doc_id", "bkt"), Seq("doc_id"))
      .groupBy("bkt").agg(count(lit(1)).as("n_new"))
    graft.operators.TextAnalysis.heapsAssemble(mass, arrivals)
  }
}
