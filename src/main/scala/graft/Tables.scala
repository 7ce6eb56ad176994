package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's deterministic parquet corpus (TESTDATA.md).
  *
  * All queries take `(spark, sfDir)` and read through here so the scan
  * stays a plain parquet relation: Catalyst can push filters and prune
  * columns into the scan (check `PushedFilters` / `ReadSchema` in
  * `.explain("formatted")`). At 100 TB these would be partitioned tables
  * (e.g. events by date) — partition pruning then composes with the same
  * predicates for free; nothing here assumes single-file inputs.
  *
  * The read schema is resolved on the driver ([[schemaOf]]): one footer,
  * no Spark job, where `spark.read.parquet` would run a schema-inference
  * job on every call.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers with `mergeSchema`
    * off, read on the driver from the ONE footer that inference reads:
    * among the files Spark's own file index lists (names starting with
    * `_` or `.` are not data), a `_common_metadata`, else a `_metadata`
    * summary, else the first data file by path — converted by Spark's
    * own footer reader under the session's conf, so `nanosAsLong` and
    * the TIMESTAMP_NTZ inference apply exactly as they do to an
    * inferred read. A missing path, or one that holds no parquet file,
    * fails naming the path.
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val summaries = Seq("_common_metadata", "_metadata")
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val footer = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new FileNotFoundException(s"parquet table $path is missing or holds no file"))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(footer.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(footer, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `events.ts` normalization — the generator has shipped the column
    * two ways across corpus versions, and every downstream query wants
    * ONE type: session-zoned microsecond TIMESTAMP.
    *
    *  - parquet TIMESTAMP(NANOS): Spark 4 rejects it by default; read
    *    as raw nanos BIGINT (`spark.sql.legacy.parquet.nanosAsLong`)
    *    and truncate to micros — the same truncation DuckDB applies.
    *  - parquet timestamp[us] (isAdjustedToUTC=false): Spark infers
    *    TIMESTAMP_NTZ; cast to TIMESTAMP under the session's UTC zone,
    *    which keeps the wall-clock instant DuckDB reads bit-identical.
    *
    * Dispatch is on the READ schema, not a config, so either corpus
    * version (and a mixed multi-file table at scale) normalizes to the
    * same column type.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
