package graft

import java.io.FileNotFoundException
import java.nio.file.Files

/** `Tables.table` resolves the read schema on the driver: it must be the
  * schema `spark.read.parquet` infers, without the inference job.
  */
class TablesSpec extends SparkSuite {

  private val corpus = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** `body` under each `nanosAsLong` setting, the session's own restored after. */
  private def underNanosAsLong(body: => Unit): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    try for (v <- Seq("false", "true")) { spark.conf.set(key, v); withClue(s"$key=$v: ")(body) }
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def fixture: String = eventsDir(Seq(
    (1L, "2024-01-02 03:04:05", 7L, Some("view"), Some(1.5), "{}"),
    (2L, "2024-01-02 03:04:06", 8L, None, None, "{}")))

  test("the driver-side schema equals the inferred one for every corpus table and the events fixture") {
    val tables = corpus.map(sfDir -> _) :+ (fixture -> "events")
    underNanosAsLong {
      for ((dir, name) <- tables)
        assert(Tables.table(spark, dir, name).schema == spark.read.parquet(s"$dir/$name.parquet").schema,
          s"$dir/$name")
    }
  }

  test("building a table frame and reading its schema starts no Spark job") {
    val dir = fixture
    underNanosAsLong {
      assert(jobsRun(corpus.foreach(Tables.table(spark, sfDir, _).schema)) == 0)
      assert(jobsRun(Tables.events(spark, dir).schema) == 0)
    }
  }

  test("a missing or empty table fails naming its path") {
    val dir = Files.createTempDirectory("tables").toString
    Files.createDirectory(java.nio.file.Paths.get(s"$dir/empty.parquet"))
    Files.createFile(java.nio.file.Paths.get(s"$dir/empty.parquet/_SUCCESS"))
    for (name <- Seq("missing", "empty")) {
      val e = intercept[FileNotFoundException](Tables.table(spark, dir, name))
      assert(e.getMessage.contains(s"$dir/$name.parquet"), e.getMessage)
    }
  }
}
