package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CorpusOps

/** Incremental benchmark decontamination over a document stream — the
  * streaming twin of [[CorpusOps.decontaminate]]: every arriving crawl
  * shard is probed against the FIXED benchmark gram set (an eval suite
  * is static by nature — it changes by re-publishing the index, not
  * per batch), and each contaminated document's overlap report is
  * appended. The gram unit is [[CorpusOps.decontamGramRows]] — the
  * same definition the batch pass uses, so the two cannot drift.
  *
  * Stream==batch: per-document reports depend only on that document's
  * text and the static benchmark set, so the union of per-batch
  * reports over ANY batch split equals the batch `decontaminate` rows.
  * The published index carries the benchmark doc_id set alongside the
  * grams, and the sink anti-joins it out of every batch — so the
  * stream may carry the FULL corpus (benchmark docs included) without
  * bench docs self-matching at contamination 1.0 (asserted in
  * StreamingSpec over the unfiltered corpus, out-of-order split).
  *
  * Scale shape: the benchmark gram index is bounded by the eval suite
  * (thousands of docs, not corpus-scale) — it broadcasts into a
  * left-semi probe, so the arriving shard never shuffles for the
  * probe; the only shuffle is the per-doc count aggregate, keyed on
  * doc_id. Exactly-once: [[StoreIO]]'s contract.
  */
object StreamingDecontam {

  private val ReportSchema =
    "doc_id BIGINT, n_grams BIGINT, n_shared BIGINT, contamination DOUBLE, batch_id BIGINT"

  /** All contamination reports emitted so far. */
  def readReport(spark: SparkSession, reportPath: String): DataFrame =
    StoreIO.readOrEmpty(spark, reportPath, ReportSchema)
      .select("doc_id", "n_grams", "n_shared", "contamination")

  /** Build the benchmark index at `benchPath` from the benchmark
    * documents — run once when the eval suite is (re)published. Two
    * artifacts: the distinct gram hashes (`grams/`, the probe set) and
    * the benchmark doc_id set (`docs/`), so the sink can exclude the
    * benchmark documents THEMSELVES from the probe — a stream that
    * carries the full corpus (bench docs included) must not self-match
    * every bench doc at contamination 1.0.
    */
  def writeBenchIndex(benchmarkDocs: DataFrame, benchPath: String): Unit = {
    CorpusOps.decontamGramRows(benchmarkDocs)
      .select("gh").distinct()
      .write.mode("overwrite").parquet(s"$benchPath/grams")
    benchmarkDocs.select("doc_id").distinct()
      .write.mode("overwrite").parquet(s"$benchPath/docs")
  }

  /** foreachBatch body: probe one micro-batch of `(doc_id, text, ...)`
    * rows against the benchmark index and append its contamination
    * reports (contaminated documents only, like the batch pass).
    * Benchmark documents arriving in the batch are anti-joined out
    * first (the batch pass's corpus/bench split, keyed on the
    * published doc_id set rather than an implicit caller contract).
    */
  def contamSink(benchPath: String, reportPath: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val bench = spark.read.parquet(s"$benchPath/grams")
      // eval-suite-sized, same bound as the gram broadcast
      val benchIds = spark.read.parquet(s"$benchPath/docs")
      val rows = CorpusOps.decontamGramRows(
        batch.join(broadcast(benchIds), Seq("doc_id"), "left_anti"))
      val sizes = rows.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      // benchmark sets are small by nature — the broadcast is bounded
      // by the eval suite, not the corpus (same hint as the batch op)
      val hits = rows.join(broadcast(bench), Seq("gh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      StoreIO.writeBatch(sizes.join(hits, Seq("doc_id"))
          .withColumn("contamination",
            round(col("n_shared").cast("double") / col("n_grams"), 6)),
        batchId, reportPath)
      ()
  }
}
