package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Sources
import graft.streaming.{Sinks, StreamingEngine}
import graft.streaming.StreamingSma.Tick

class SourcesSpec extends SparkSuite {
  import spark.implicits._

  private val tmp = {
    val d = Paths.get("target", "test-sources")
    Files.createDirectories(d)
    d
  }

  test("CSV adapter: header + explicit schema + cast-on-read (S4)") {
    val f = tmp.resolve("ticks.csv")
    Files.writeString(f,
      """id,symbol,price,volume,ts_epoch
        |c1,IBM,101.5,900,1700000000
        |c2,MSFT,330.25,not_a_number,1700000001
        |""".stripMargin)
    val out = Sources.csv(spark, f.toString).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("price") == 101.5)
    assert(out(0).getAs[Long]("volume") == 900L)
    assert(out(1).isNullAt(out(1).fieldIndex("volume")), "bad numeric -> null, cleaner drops it")
    assert(out.forall(_.getAs[String]("source") == "CSVMock"))
  }

  test("JSON quote adapter: nested string fields extracted and cast (S2)") {
    val f = tmp.resolve("quotes.json")
    Files.writeString(f,
      """{"id":"q1","symbol":"IBM","quote":"{\"05. price\":\"182.89\",\"06. volume\":\"3210000\"}","ts_epoch":1700000000}
        |{"id":"q2","symbol":"AAPL","quote":"{\"note\":\"API limit\"}","ts_epoch":1700000001}
        |""".stripMargin)
    val out = Sources.jsonQuotes(spark, f.toString).orderBy("id").collect()
    assert(out(0).getAs[Double]("price") == 182.89)
    assert(out(0).getAs[Long]("volume") == 3210000L)
    assert(out(1).isNullAt(out(1).fieldIndex("price")), "API-limit payload -> null price (dropped downstream)")
  }

  test("JSON-lines adapter: unified-schema objects, try_cast drops malformed (S4)") {
    val f = tmp.resolve("ticks.jsonl")
    Files.writeString(f,
      """{"id":"j1","symbol":"IBM","price":"101.5","volume":"900","ts_epoch":"1700000000"}
        |{"id":"j2","symbol":"MSFT","price":"oops","volume":"10","ts_epoch":"1700000001"}
        |""".stripMargin)
    val out = Sources.jsonLines(spark, f.toString).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("price") == 101.5)
    assert(out(1).isNullAt(out(1).fieldIndex("price")), "bad numeric -> null, cleaner drops it")
    assert(out.forall(_.getAs[String]("source") == "JsonLines"))
  }

  test("ORC adapter: columnar round-trip through the shared normalization (S4)") {
    val d = tmp.resolve("ticks-orc").toString
    Seq(("o1", "IBM", "101.5", "900", "1700000000"),
        ("o2", "AAPL", "188.0", "nope", "1700000001"))
      .toDF("id", "symbol", "price", "volume", "ts_epoch")
      .write.mode("overwrite").orc(d)
    val out = Sources.orc(spark, d).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("price") == 101.5 && out(0).getAs[Long]("volume") == 900L)
    assert(out(1).isNullAt(out(1).fieldIndex("volume")), "bad numeric -> null, cleaner drops it")
    assert(out.forall(_.getAs[String]("source") == "OrcExport"))
  }

  test("Avro adapter: container-file round-trip, malformed and missing fields -> null (S4)") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    // the Kafka-connector landing shape: string-typed fields, volume
    // nullable, and NO ts_epoch field at all (a drifted producer) —
    // the adapter must surface missing fields as null, not throw
    val schema: Schema = SchemaBuilder.record("tick").fields()
      .requiredString("id").requiredString("symbol")
      .requiredString("price").optionalString("volume")
      .endRecord()
    val f = tmp.resolve("ticks.avro").toFile
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    val r1 = new GenericData.Record(schema)
    r1.put("id", "a1"); r1.put("symbol", "IBM")
    r1.put("price", "101.5"); r1.put("volume", "900")
    w.append(r1)
    val r2 = new GenericData.Record(schema)
    r2.put("id", "a2"); r2.put("symbol", "AAPL")
    r2.put("price", "not_a_number"); r2.put("volume", null)
    w.append(r2)
    w.close()
    val out = Sources.avro(spark, f.toString).orderBy("id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("price") == 101.5 && out(0).getAs[Long]("volume") == 900L)
    assert(out(1).isNullAt(out(1).fieldIndex("price")), "bad numeric -> null, cleaner drops it")
    assert(out(1).isNullAt(out(1).fieldIndex("volume")), "avro null -> sql null")
    assert(out.forall(r => r.isNullAt(r.fieldIndex("ts_epoch"))), "missing field -> null column")
    assert(out.forall(_.getAs[String]("source") == "AvroExport"))
  }

  test("rate normalization produces the unified schema deterministically (S3)") {
    val raw = Seq((new java.sql.Timestamp(1700000000000L), 0L),
                  (new java.sql.Timestamp(1700000001000L), 1L))
      .toDF("timestamp", "value")
    val out = Sources.normalizeRate(raw).orderBy("id").collect()
    assert(out.map(_.getAs[String]("symbol")).toSeq == Seq("sym0", "sym1"))
    assert(out.forall { r =>
      val p = r.getAs[Double]("price"); p >= 1450.0 && p < 1550.0
    })
  }

  test("multiplex unions normalized sources into one pipeline input (S5)") {
    val a = Sources.normalizeCsv(
      Seq(("c1", "IBM", "1.0", "5", "0")).toDF("id", "symbol", "price", "volume", "ts_epoch"))
    val b = Sources.normalizeRate(
      Seq((new java.sql.Timestamp(0L), 7L)).toDF("timestamp", "value"))
    val out = Sources.multiplex(a, b)
    assert(out.columns.toSeq == Sources.tickSchema.fieldNames.toSeq)
    assert(out.count() == 2)
    assert(out.select("source").distinct().count() == 2)
  }

  test("engine lifecycle: start -> process across batches -> stop (E1-E3)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Tick]
    val alerts = scala.collection.mutable.ArrayBuffer.empty[String]
    val alertSink: Sinks.Sink = b =>
      alerts ++= b.df.filter(col("moving_average") > 108.0)
        .select("id").as[String](implicitly).collect()
    val q = StreamingEngine.start(ms.toDS(),
      StreamingEngine.EngineConfig(), Seq(alertSink))
    try {
      // 5 ticks at 100 -> SMA 100 (no alert); 5 more at 120 push SMA over 108
      ms.addData((1 to 5).map(i => Tick(f"e$i%02d", "A", 100.0)))
      q.processAllAvailable()
      ms.addData((6 to 10).map(i => Tick(f"e$i%02d", "A", 120.0)))
      q.processAllAvailable()
      // SMAs: e05..e10 = 100, 104, 108, 112, 116, 120 -> strict > fires e08+
      assert(alerts.sorted == Seq("e08", "e09", "e10"))
    } finally q.stop()
  }
}
