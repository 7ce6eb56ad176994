package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Shared store I/O for the streaming twins' parquet side-stores.
  *
  * Every twin keeps its cross-batch state (survivor sets, gram
  * indexes, centroid stats, ...) in an idempotently-rewritten parquet
  * directory and needs "read it, or an empty frame with the right
  * schema if no batch has committed yet". The existence probe goes
  * through Hadoop's FileSystem API — resolved against the store URI
  * itself — so the twins work identically on local paths, HDFS, and
  * object stores; `java.io.File(path).exists()` (the pattern this
  * replaces) is always false for `hdfs://`/`s3a://` URIs and would
  * silently read a populated store as empty.
  *
  * Exactly-once contract: a micro-batch can be replayed (a failure
  * between its store write and the checkpoint commit runs the same
  * `batchId` again over the same rows). Every store row therefore
  * carries the `batch_id` that wrote it, and [[writeBatch]] lands a
  * batch's rows in its own `batch_id=N` partition with DYNAMIC
  * partition overwrite: a replay overwrites its own partition with
  * identical content instead of appending a second copy, and never
  * touches another batch's rows. This is what keeps additive state
  * (counters, pair deltas, partial sums — exactly the state that
  * silently corrupts under at-least-once) correct, and why such
  * stores hold per-batch partials summed at serve time rather than a
  * read-modify-write upsert. A sink that reads its own store while
  * writing must read it through [[readOthers]], so a replay never
  * sees its own previous (possibly partial) attempt.
  */
object StoreIO {

  /** True iff `path` exists on whatever filesystem its URI names. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The parquet store at `path` with schema `ddl`, or an empty frame
    * with that schema if the store has not been written yet. The
    * schema is always imposed (never inferred) so batch 0 and batch N
    * plans are column-compatible.
    */
  def readOrEmpty(spark: SparkSession, path: String, ddl: String): DataFrame =
    if (exists(spark, path)) spark.read.schema(ddl).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))

  /** The store as [[readOrEmpty]] reads it, minus the partition that
    * `batchId` itself writes — the replay-safe read.
    */
  def readOthers(spark: SparkSession, path: String, ddl: String,
                 batchId: Long): DataFrame =
    readOrEmpty(spark, path, ddl).filter(col("batch_id") =!= batchId)

  /** Write `df` as micro-batch `batchId`'s partition of the store at
    * `path`, overwriting only that partition (the replay-idempotent
    * write of the contract above).
    */
  def writeBatch(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)
}
