package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.RefPipeline

/** Reference-parity semantics, per financial_engine.py:
  *  - DataCleaner edge cases (:283-291)
  *  - SMA warm-up gate / eviction / per-key isolation (:293-312)
  *  - strict-> alert boundary (:104)
  *  - union schema alignment (:388-391)
  * plus a ScalaCheck property: windowed SMA == plain-Scala sliding mean.
  */
class RefPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def cleanerInput = Seq(
    ("e1", Option.empty[Double], Option(5L)),   // null price -> dropped
    ("e2", Option(0.0), Option(5L)),            // zero price -> dropped
    ("e3", Option(-3.5), Option(5L)),           // negative price -> dropped
    ("e4", Option(10.0), Option.empty[Long]),   // null volume -> 0
    ("e5", Option(11.0), Option(-7L)),          // negative volume -> clamped 0
    ("e6", Option(12.0), Option(9L))            // kept as-is
  ).toDF("id", "price", "volume")

  test("cleaner drops null/zero/negative prices and clamps volume (financial_engine.py:287-290)") {
    val out = RefPipeline.clean(cleanerInput).orderBy("id")
      .select("id", "price", "volume").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("e4", "e5", "e6"))
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 0L, 9L))
  }

  test("SMA emits only once the 5-row window is full, then slides (warm-up gate :308-310)") {
    val df = (1 to 6).map(i => (f"e$i%02d", "A", i.toDouble)).toDF("id", "symbol", "price")
    val out = RefPipeline.movingAverage(df, n = 5).orderBy("id")
      .select("id", "moving_average").collect()
    assert(out.take(4).forall(_.isNullAt(1)), "first 4 rows must be warm-up (null SMA)")
    assert(out(4).getDouble(1) == 3.0)  // mean(1..5)
    assert(out(5).getDouble(1) == 4.0)  // mean(2..6) — oldest price evicted
  }

  test("SMA state is isolated per key (:304-307)") {
    val df = (1 to 10).map { i =>
      (f"e$i%02d", if (i % 2 == 0) "B" else "A", i.toDouble)
    }.toDF("id", "symbol", "price")
    val out = RefPipeline.movingAverage(df, n = 5).orderBy("id")
      .select("symbol", "moving_average").collect()
    // A sees 1,3,5,7,9 -> full at the 5th A row (id e09): mean = 5
    // B sees 2,4,6,8,10 -> full at the 5th B row (id e10): mean = 6
    val a = out.filter(_.getString(0) == "A")
    val b = out.filter(_.getString(0) == "B")
    assert(a.take(4).forall(_.isNullAt(1)) && a(4).getDouble(1) == 5.0)
    assert(b.take(4).forall(_.isNullAt(1)) && b(4).getDouble(1) == 6.0)
  }

  test("alert threshold is strictly greater-than (:104 — equality must NOT fire)") {
    val df = Seq(
      ("e1", 108.0), ("e2", 108.000001), ("e3", 107.999999), ("e4", 200.0)
    ).toDF("id", "moving_average")
    val fired = RefPipeline.alerts(df, threshold = 108.0)
      .select("id").as[String].collect().sorted.toSeq
    assert(fired == Seq("e2", "e4"))
  }

  test("normalizeUnion aligns three per-source schemas into one (S1-S5)") {
    val out = RefPipeline.normalizeUnion(spark, sfDir)
    assert(out.columns.toSeq ==
      Seq("id", "symbol", "price", "volume", "ts_epoch", "source"))
    val srcs = out.select("source").distinct().as[String].collect().toSet
    assert(srcs == Set("AlphaVantage", "WebSocketMock", "CSVMock"))
    assert(out.count() > 0)
  }

  private def byId(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  test("normalizeUnion: one projection equals the three-slice union; null event_type rows drop") {
    val dir = eventsDir(Seq(
      (1L, "2024-01-01 10:00:00", 7L, Some("view"), Some(101.25), """{"k": 5}"""),
      (2L, "2024-01-01 10:00:01", 7L, Some("click"), Some(99.5), """{"k": 3}"""),
      (3L, "2024-01-01 10:00:02", 8L, Some("error"), None, """{"x": 1}"""),
      (4L, "2024-01-01 10:00:03", 8L, None, Some(100.0), """{"k": 1}""")))
    val got = byId(RefPipeline.normalizeUnion(spark, dir))
    assert(got == byId(ReplacedForms.normalizeUnion(spark, dir)))
    assert(got.map(r => (r.getLong(0), r.getString(5))) ==
      Seq(1L -> "AlphaVantage", 2L -> "WebSocketMock", 3L -> "CSVMock"))
    assert(byId(RefPipeline.normalizeUnion(spark, sfDir)) ==
      byId(ReplacedForms.normalizeUnion(spark, sfDir)))
  }

  test("property: normalizeUnion equals the three-slice union (ScalaCheck)") {
    val row = for {
      sec <- Gen.choose(0, 86399)
      user <- Gen.choose(1L, 4L)
      et <- Gen.option(Gen.oneOf("view", "click", "signup", "purchase", "error"))
      value <- Gen.option(Gen.choose(-500, 20000).map(_ / 100.0))
      props <- Gen.oneOf("""{"k": 5}""", """{"k": -3}""", """{"x": 1}""", """{"k": 100}""")
    } yield (f"2024-01-01 ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d", user, et, value, props)
    // no shrinking: every case writes a table and runs Spark jobs
    val prop = Prop.forAllNoShrink(Gen.choose(1, 30).flatMap(Gen.listOfN(_, row))) { rs =>
      val dir = eventsDir(rs.zipWithIndex.map { case ((ts, u, et, v, p), i) => (i.toLong, ts, u, et, v, p) })
      byId(RefPipeline.normalizeUnion(spark, dir)) == byId(ReplacedForms.normalizeUnion(spark, dir))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("alert messages carry the formatted *** ALERT *** line (:100-106)") {
    val df = Seq(("e1", "AAPL", 120.5)).toDF("id", "symbol", "moving_average")
    val msg = RefPipeline.alertMessages(df, 108.0)
      .select("alert_message").as[String].head()
    assert(msg == "*** ALERT *** AAPL: moving average 120.500000 exceeds threshold 108.00")
  }

  test("synthetic ids are source-prefixed and unique (:187)") {
    val df = (1 to 100).map(i => Tuple1(i.toDouble)).toDF("price")
    val ids = RefPipeline.withSyntheticId(df, "WebSocketMock")
      .select("id").as[String].collect()
    assert(ids.forall(_.startsWith("WebSocketMock_")))
    assert(ids.distinct.length == ids.length, "uuid ids must be unique")
  }

  test("config plane: spark.graft.* session conf overrides the defaults (§2.10)") {
    val c0 = RefPipeline.Config.fromSession(spark)
    assert(c0 == RefPipeline.Config(5, 108.0))
    def pipelineRows(cfg: Option[RefPipeline.Config] = None) =
      cfg.fold(RefPipeline.pipeline(spark, sfDir))(RefPipeline.pipeline(spark, sfDir, _))
        .select("id", "moving_average").orderBy("id").collect().toSeq
    val default = pipelineRows()
    assert(default.nonEmpty)
    assert(default == pipelineRows(Some(RefPipeline.Config())))
    try {
      spark.conf.set("spark.graft.movingAverageWindow", "3")
      spark.conf.set("spark.graft.priceAlertThreshold", "50.5")
      assert(RefPipeline.Config.fromSession(spark) == RefPipeline.Config(3, 50.5))
      // the session plane reaches the pipeline, not only fromSession
      spark.conf.unset("spark.graft.priceAlertThreshold")
      val window3 = pipelineRows()
      assert(window3 != default)
      assert(window3 == pipelineRows(Some(RefPipeline.Config(movingAverageWindow = 3))))
    } finally {
      spark.conf.unset("spark.graft.movingAverageWindow")
      spark.conf.unset("spark.graft.priceAlertThreshold")
    }
    assert(pipelineRows() == default)
  }

  test("property: windowed SMA equals a plain-Scala sliding mean (ScalaCheck)") {
    val gen = for {
      n      <- Gen.choose(1, 40)
      prices <- Gen.listOfN(n, Gen.choose(1.0, 1000.0))
      keys   <- Gen.listOfN(n, Gen.oneOf("A", "B", "C"))
    } yield prices.zip(keys)
    val prop = Prop.forAll(gen) { data =>
      val df = data.zipWithIndex.map { case ((p, k), i) => (f"e$i%04d", k, p) }
        .toDF("id", "symbol", "price")
      val got = RefPipeline.movingAverage(df, n = 5).orderBy("id")
        .select("symbol", "moving_average").collect()
        .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      // oracle: per-key sliding window of the last 5 prices, emit when full
      val seen = scala.collection.mutable.Map.empty[String, List[Double]]
      val want = data.map { case (p, k) =>
        val w = (seen.getOrElse(k, Nil) :+ p).takeRight(5)
        seen(k) = w
        (k, if (w.size == 5)
          Some(BigDecimal(w.sum / 5).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        else None)
      }
      got.toSeq == want
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}
