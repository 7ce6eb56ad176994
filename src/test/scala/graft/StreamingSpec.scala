package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.RefPipeline
import graft.streaming.{Sinks, StreamingSma}
import graft.streaming.StreamingSma.Tick

/** Stream/batch consistency (the key invariant per SURVEY §5.4) and
  * the observer fan-out semantics.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ticks(n: Int): Seq[Tick] =
    (1 to n).map(i => Tick(f"e$i%03d", if (i % 3 == 0) "B" else "A", i * 1.5))

  test("streaming SMA equals the batch window formulation across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Tick]
    val q = StreamingSma.withMovingAverage(ms.toDS(), n = 5)
      .writeStream.format("memory").queryName("sma_stream")
      .outputMode("append").start()
    try {
      val data = ticks(14)
      // three uneven micro-batches — state must carry across them
      ms.addData(data.take(4))
      q.processAllAvailable()
      ms.addData(data.slice(4, 9))
      q.processAllAvailable()
      ms.addData(data.drop(9))
      q.processAllAvailable()

      val streamed = spark.table("sma_stream")
        .orderBy("id")
        .select("id", "symbol", "price", "moving_average").collect()
      val batch = RefPipeline.movingAverage(
          data.toDF("id", "symbol", "price"), n = 5)
        .orderBy("id")
        .select("id", "symbol", "price", "moving_average").collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s == b, s"stream row $s != batch row $b")
      }
      // sanity: warm-up emitted nulls, steady state emitted values
      assert(streamed.exists(_.isNullAt(3)) && streamed.exists(!_.isNullAt(3)))
    } finally q.stop()
  }

  test("fan-out delivers each batch to every sink; a failing sink is swallowed (K4)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Tick]
    val seen    = scala.collection.mutable.ArrayBuffer.empty[String]
    val alerted = scala.collection.mutable.ArrayBuffer.empty[String]
    val sinks: Seq[Sinks.Sink] = Seq(
      b => seen ++= b.df.select("id").as[String](implicitly).collect(),
      _ => throw new RuntimeException("boom"),  // must not poison the others
      b => alerted ++= b.df.filter(col("price") > 10.0)
        .select("id").as[String](implicitly).collect()
    )
    val q = Sinks.attach(ms.toDS(), sinks).start()
    try {
      ms.addData(ticks(8))
      q.processAllAvailable()
      assert(seen.sorted == (1 to 8).map(i => f"e$i%03d"))
      assert(alerted.sorted == Seq("e007", "e008"))  // prices 10.5, 12.0
    } finally q.stop()
  }

  test("config-gated logging sink honors log_level (K2)") {
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val df = Seq(("e1", 1.0)).toDF("id", "price")
    Sinks.fanOut(Seq(Sinks.logging(Sinks.Config(logLevel = "INFO"), logged += _)))(df, 0L)
    Sinks.fanOut(Seq(Sinks.logging(Sinks.Config(logLevel = "WARN"), logged += _)))(df, 1L)
    assert(logged.length == 1, "only the INFO-level config may deliver")
    assert(logged.head == "[graft] batch with 1 events")
  }

  test("alert sink applies the strict threshold over moving_average (K3)") {
    var got: Array[Row] = Array.empty
    val df = Seq(("e1", 108.0), ("e2", 110.0)).toDF("id", "moving_average")
    Sinks.fanOut(Seq(Sinks.alerts(Sinks.Config(alertThreshold = 108.0), got = _)))(df, 0L)
    assert(got.map(_.getString(0)).toSeq == Seq("e2"))
  }

  test("alert sink reports overflow and keeps a deterministic id-ordered prefix") {
    var got: Array[Row] = Array.empty
    var overflowedAt = -1
    val df = Seq("e3", "e1", "e4", "e2").map((_, 120.0)).toDF("id", "moving_average")
    Sinks.fanOut(Seq(Sinks.alerts(Sinks.Config(alertThreshold = 108.0), got = _,
      maxAlerts = 2, onOverflow = overflowedAt = _)))(df, 0L)
    assert(overflowedAt == 2, "hitting the cap must be signalled, not silent")
    assert(got.map(_.getString(0)).toSeq == Seq("e1", "e2"),
      "the kept subset is the id-ordered prefix, not an arbitrary limit")
    // under the cap: no overflow signal
    overflowedAt = -1
    Sinks.fanOut(Seq(Sinks.alerts(Sinks.Config(alertThreshold = 108.0), got = _,
      maxAlerts = 4, onOverflow = overflowedAt = _)))(df, 1L)
    assert(overflowedAt == -1 && got.length == 4)
  }

  test("an alert overflow over id-sorted partitions still logs the exact count") {
    // an ordered limit over rows already sorted on its key reads only
    // `limit` rows per partition, so its observation is partial
    val df = (1 to 1000).map(i => (f"e$i%05d", 200.0)).toDF("id", "moving_average")
      .repartition(4).sortWithinPartitions("id")
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    var got: Array[Row] = Array.empty
    var overflowedAt = -1
    Sinks.fanOut(Seq(Sinks.logging(Sinks.Config(), logged += _),
      Sinks.alerts(Sinks.Config(), got = _, maxAlerts = 5, onOverflow = overflowedAt = _)))(df, 0L)
    assert(overflowedAt == 5 && got.map(_.getString(0)).toSeq == (1 to 5).map(i => f"e$i%05d"))
    assert(logged.toSeq == Seq("[graft] batch with 1000 events"))
  }

  /** Spark jobs per micro-batch, keyed by the `sql.streaming.queryId` and
    * `streaming.sql.batchId` job properties. */
  private final class JobsPerBatch extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Int]()
    private val markers = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty("jobs.marker")).foreach(markers.add)
        for (b <- Option(p.getProperty("streaming.sql.batchId"));
             q <- Option(p.getProperty("sql.streaming.queryId")))
          jobs.merge((q, b.toLong), 1, _ + _)
      }
    /** Return once the listener has seen every job started before the call. */
    def sync(): Unit = {
      val id = java.util.UUID.randomUUID().toString
      val sc = spark.sparkContext
      sc.setLocalProperty("jobs.marker", id)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("jobs.marker", null)
      val deadline = System.currentTimeMillis() + 30000
      while (!markers.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(5)
      assert(markers.contains(id), "listener bus did not drain")
    }
  }

  /** Two SMA micro-batches: warm-up rows, ticks over the 108 threshold,
    * and (in `invalid`) zero and negative prices. */
  private def engineTicks(invalid: Boolean): Seq[Seq[Tick]] = {
    val all = (1 to 40).map { i =>
      val p = if (invalid && i % 7 == 0) 0.0 else if (invalid && i % 11 == 0) -3.5 else 100.0 + i * 0.5
      Tick(f"e$i%03d", if (i % 3 == 0) "B" else "A", p)
    }
    Seq(all.take(17), all.drop(17))
  }

  private def batchAlerts(ticks: Seq[Tick]): Seq[String] =
    RefPipeline.alerts(RefPipeline.movingAverage(
        RefPipeline.clean(ticks.toDF().withColumn("volume", lit(0L))), n = 5), 108.0)
      .select("id").as[String].collect().sorted.toSeq

  /** Run `sinks` over the engine's SMA stream, one micro-batch per input
    * batch; returns the query and the jobs each of its batches started. */
  private def runEngine(sinks: Seq[Sinks.Sink], input: Seq[Seq[Tick]])
      : (org.apache.spark.sql.streaming.StreamingQuery, Seq[Int]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingEngine
    val ms = MemoryStream[Tick](2)
    val listener = new JobsPerBatch
    spark.sparkContext.addSparkListener(listener)
    val q = Sinks.attach(
      StreamingEngine.process(ms.toDS(), StreamingEngine.EngineConfig()), sinks).start()
    try {
      input.foreach { b => ms.addData(b); q.processAllAvailable() }
      listener.sync()
      (q, input.indices.map(i => listener.jobs.getOrDefault((q.id.toString, i.toLong), 0)))
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("logging and alerts sinks run one Spark job per micro-batch, in either order") {
    val input = engineTicks(invalid = false)
    val expected = batchAlerts(input.flatten)
    assert(expected.nonEmpty)
    for (order <- Seq("logging-first", "alerts-first")) {
      val logged = scala.collection.mutable.ArrayBuffer.empty[String]
      val alerted = scala.collection.mutable.ArrayBuffer.empty[String]
      val logging = Sinks.logging(Sinks.Config(), logged += _)
      val alerts = Sinks.alerts(Sinks.Config(), rs => alerted ++= rs.map(_.getString(0)))
      val sinks = if (order == "logging-first") Seq(logging, alerts) else Seq(alerts, logging)
      val (_, jobs) = runEngine(sinks, input)
      assert(jobs == Seq(1, 1), s"$order: jobs per batch $jobs")
      assert(logged.toSeq == input.map(b => s"[graft] batch with ${b.size} events"), order)
      assert(alerted.sorted.toSeq == expected, order)
    }
  }

  test("the logging sink alone runs one Spark job per micro-batch and logs exact counts") {
    val input = engineTicks(invalid = true)
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val (_, jobs) = runEngine(Seq(Sinks.logging(Sinks.Config(), logged += _)), input)
    assert(jobs == Seq(1, 1), s"jobs per batch $jobs")
    assert(logged.toSeq == input.map(b => s"[graft] batch with ${b.count(_.price > 0)} events"))
  }

  test("logging keeps the exact count when a sink fails before or after its action (K4)") {
    val input = engineTicks(invalid = true)
    val valid = input.map(b => s"[graft] batch with ${b.count(_.price > 0)} events")
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val alerted = scala.collection.mutable.ArrayBuffer.empty[String]
    val logging = Sinks.logging(Sinks.Config(), logged += _)
    val boom: Sinks.Sink = _ => throw new RuntimeException("boom")
    val alerts = Sinks.alerts(Sinks.Config(), rs => alerted ++= rs.map(_.getString(0)))
    val (_, jobs1) = runEngine(Seq(logging, boom, alerts), input)
    assert(logged.toSeq == valid && jobs1 == Seq(1, 1), s"jobs per batch $jobs1")
    assert(alerted.sorted.toSeq == batchAlerts(input.flatten))
    // a handler that throws after the collect: the collect published the counts
    logged.clear()
    val late = Sinks.alerts(Sinks.Config(), _ => throw new RuntimeException("late"))
    val (_, jobs2) = runEngine(Seq(logging, late), input)
    assert(logged.toSeq == valid && jobs2 == Seq(1, 1), s"jobs per batch $jobs2")
    // only a sink that fails before any action: the fan-out runs the one action
    logged.clear()
    val (_, jobs3) = runEngine(Seq(boom, logging), input)
    assert(logged.toSeq == valid && jobs3 == Seq(1, 1), s"jobs per batch $jobs3")
  }

  test("a NaN price is kept on the stream path as in batch clean (stream == batch)") {
    // Spark orders NaN above every value, so `price > 0` keeps it in both
    // paths, and every SMA window that holds it averages to NaN; neither
    // alert path fires on a NaN average
    val input = engineTicks(invalid = false).map(_.map(t =>
      if (t.id == "e010" || t.id == "e025") t.copy(price = Double.NaN) else t))
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    val alerted = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows: Sinks.Sink = b => out ++= b.df.select("id", "symbol", "price", "moving_average").collect()
    runEngine(Seq(rows, Sinks.alerts(Sinks.Config(), rs => alerted ++= rs.map(_.getString(0)))),
      input)
    val batch = RefPipeline.movingAverage(
        RefPipeline.clean(input.flatten.toDF().withColumn("volume", lit(0L))), n = 5)
      .select("id", "symbol", "price", "moving_average").collect().sortBy(_.getString(0)).toSeq
    val nanWindows = batch.filter(r => !r.isNullAt(3) && r.getDouble(3).isNaN).map(_.getString(0))
    assert(nanWindows.nonEmpty, "no NaN window in the case")
    assert(out.sortBy(_.getString(0)).toSeq == batch)
    assert(!alerted.exists(nanWindows.contains), s"alerts fired on NaN averages: $alerted")
    assert(alerted.sorted.toSeq == batchAlerts(input.flatten))
  }

  test("a sink that collects the batch twice leaves stream output and state equal to batch") {
    val input = engineTicks(invalid = false)
    val first = scala.collection.mutable.ArrayBuffer.empty[Row]
    val second = scala.collection.mutable.ArrayBuffer.empty[Row]
    val twice: Sinks.Sink = b => {
      first ++= b.df.select("id", "symbol", "price", "moving_average").collect()
      second ++= b.df.select("id", "symbol", "price", "moving_average").collect()
    }
    val (_, jobs) = runEngine(Seq(twice), input)
    // two direct collects, then the fan-out's own action (none went through the batch)
    assert(jobs == Seq(3, 3), s"jobs per batch $jobs")
    val batch = RefPipeline.movingAverage(input.flatten.toDF(), n = 5)
      .select("id", "symbol", "price", "moving_average").collect().sortBy(_.getString(0)).toSeq
    // the second micro-batch reads state that the first committed three times
    assert(first.sortBy(_.getString(0)).toSeq == batch, "first collect diverged from batch")
    assert(second.sortBy(_.getString(0)).toSeq == batch, "re-run stateful stage diverged")
  }

  test("rejected ticks are counted in the query's observed metrics, not silently dropped") {
    val input = engineTicks(invalid = true)
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    // a direct collect re-runs the stateful stage; the counts sit in the map stage
    val rerun: Sinks.Sink = _.df.collect()
    val (q, jobs) = runEngine(Seq(Sinks.logging(Sinks.Config(), logged += _), rerun), input)
    assert(jobs == Seq(2, 2), s"jobs per batch $jobs")
    import graft.streaming.StreamingEngine.TicksObserved
    val seen = q.recentProgress.filter(_.numInputRows > 0).map { p =>
      val r = p.observedMetrics.get(TicksObserved)
      (r.getAs[Long]("ticks_in"), r.getAs[Long]("ticks_rejected"))
    }.toSeq
    val expected = input.map(b => (b.size.toLong, b.count(_.price <= 0).toLong))
    assert(expected.forall(_._2 > 0) && seen == expected, s"observed $seen")
    assert(logged.toSeq == expected.map { case (in, rej) => s"[graft] batch with ${in - rej} events" })
  }

  test("stream-static join enriches ticks against a dimension table") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Tick]
    val sectors = Seq(("A", "tech"), ("B", "energy")).toDF("symbol", "sector")
    val q = ms.toDF().join(sectors, Seq("symbol"), "left")
      .writeStream.format("memory").queryName("enriched_stream")
      .outputMode("append").start()
    try {
      ms.addData(Tick("e1", "A", 1.0), Tick("e2", "B", 2.0), Tick("e3", "C", 3.0))
      q.processAllAvailable()
      val rows = spark.table("enriched_stream").orderBy("id")
        .select("id", "sector").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSeq
      assert(rows == Seq(("e1", Some("tech")), ("e2", Some("energy")), ("e3", None)))
    } finally q.stop()
  }

  test("streaming dedup removes duplicate ids across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Tick]
    val q = ms.toDS().dropDuplicates("id")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      ms.addData(Tick("e1", "A", 1.0), Tick("e2", "A", 2.0), Tick("e1", "A", 1.0))
      q.processAllAvailable()
      ms.addData(Tick("e2", "A", 2.0), Tick("e3", "A", 3.0))  // e2 dup from batch 1
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("id").as[String].collect().sorted
      assert(ids.toSeq == Seq("e1", "e2", "e3"), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups in-window and evicts state after it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Timestamp)]
    val m = 60_000L
    val stream = ms.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = stream.writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      val t0 = 60 * m
      ms.addData(("e1", new Timestamp(t0)), ("e1", new Timestamp(t0 + m)))
      q.processAllAvailable()
      // advance the watermark far past e1's window -> its state evicts
      ms.addData(("adv", new Timestamp(t0 + 100 * m)))
      q.processAllAvailable()
      // a re-arrival AFTER eviction is a new occurrence by design —
      // that re-admission is exactly what bounds the state
      ms.addData(("e1", new Timestamp(t0 + 200 * m)))
      q.processAllAvailable()
      val counts = spark.table("wm_dedup").groupBy("id").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(counts("e1") == 2, s"in-window dup dropped, post-eviction re-admitted: $counts")
      assert(counts("adv") == 1)
    } finally q.stop()
  }

  test("streaming content dedup drops same-fingerprint docs across micro-batches") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // LLM-pipeline crossover: dedup a document stream on a CONTENT
    // fingerprint (the batch docFingerprint/simhash column), not the id —
    // re-crawled duplicates carry fresh ids but identical text
    val ms = MemoryStream[(String, String)]
    val fp = graft.functions.TextFunctions.polyHash(col("text"))
    val q = ms.toDF().toDF("doc_id", "text")
      .withColumn("fp", fp)
      .dropDuplicates("fp")
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode("append").start()
    try {
      ms.addData(("d1", "alpha beta"), ("d2", "gamma"), ("d3", "alpha beta"))
      q.processAllAvailable()
      ms.addData(("d4", "gamma"), ("d5", "delta"))  // d4 dups d2 across batches
      q.processAllAvailable()
      val kept = spark.table("content_dedup").select("doc_id").as[String].collect().sorted
      assert(kept.toSeq == Seq("d1", "d2", "d5"), s"got ${kept.toSeq}")
    } finally q.stop()
  }

  test("incremental dedup survivor store equals the batch exactDedup pass (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "dedup-").toString
    val store = s"$base/survivors"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingDedup.survivorSink(store))
      .start()
    // the real corpus, streamed in doc_id order over three uneven
    // micro-batches (in-order arrival makes first-arrival == min-doc_id,
    // so the store must equal the batch operator exactly)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    try {
      Seq(docs.take(100), docs.slice(100, 150), docs.drop(150)).foreach { chunk =>
        ms.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = graft.streaming.StreamingDedup.survivors(spark, store)
      .select("keep_id").as[Long].collect().sorted.toSeq
    val want = graft.operators.Dedup.exactDedup(spark, sfDir)
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(got == want, s"stream==batch: ${got.length} vs ${want.length} survivors")
    // state is bounded by distinctness: one store row per content hash
    val nHashes = graft.streaming.StreamingDedup.readStore(spark, store)
      .select("content_hash").distinct().count()
    assert(got.length.toLong == nHashes, "exactly one survivor per distinct hash")
    // replayed micro-batch (failure before checkpoint commit) must be
    // idempotent: re-running the LAST batch cannot grow the store
    graft.streaming.StreamingDedup.survivorSink(store)(
      docs.drop(150).toDF("doc_id", "text"), 2L)
    val afterReplay = graft.streaming.StreamingDedup.survivors(spark, store)
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(afterReplay == got, "batch replay must not duplicate survivors")
  }

  test("incremental near-dup index finds exactly the batch simhash pairs (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "neardup-").toString
    val (index, pairs) = (s"$base/index", s"$base/pairs")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingNearDup.pairSink(index, pairs))
      .start()
    // OUT-OF-ORDER batch split: later-id docs arrive first, so cross
    // pairs exercise both directions of the index probe
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high.take(150), low, high.drop(150)).foreach { chunk =>
        ms.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = graft.streaming.StreamingNearDup.readPairs(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.operators.Dedup.simhashNearDup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"stream==batch: ${got.size} streamed pairs vs ${want.size} batch pairs")
    assert(want.nonEmpty, "corpus must actually contain near-dup pairs")
    // index is bounded: one print per doc
    assert(graft.streaming.StreamingNearDup.readIndex(spark, index).count() ==
      docs.length)
    // replayed micro-batch must be idempotent (overwrites its own
    // partitions instead of appending)
    graft.streaming.StreamingNearDup.pairSink(index, pairs)(
      high.drop(150).toDF("doc_id", "text"), 2L)
    val afterReplay = graft.streaming.StreamingNearDup.readPairs(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(afterReplay == got, "batch replay must not change the pair set")
  }

  test("incremental substring index reproduces the batch duplicated-span report (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "substr-").toString
    val (index, hits) = (s"$base/index", s"$base/hits")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingSubstring.hitSink(index, hits))
      .start()
    // OUT-OF-ORDER split: later-id docs arrive first, so retroactive
    // emission (the first copy flagged when the second arrives) fires
    // in both id directions
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high.take(150), low, high.drop(150)).foreach { chunk =>
        ms.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val got = rows(graft.streaming.StreamingSubstring.report(spark, index, hits))
    val want = rows(graft.operators.Dedup.substringDedup(spark, sfDir))
    assert(want.nonEmpty, "corpus must actually contain duplicated spans")
    assert(got == want, s"stream==batch: ${got.length} streamed vs ${want.length} batch rows")
    // the index is the exact gram table: one row per gram position
    val gramRows = graft.operators.Dedup.spanGramRows(spark, sfDir).count()
    assert(graft.streaming.StreamingSubstring.readIndex(spark, index).count() == gramRows)
    // replayed micro-batch (failure before checkpoint commit) must
    // leave the report unchanged
    graft.streaming.StreamingSubstring.hitSink(index, hits)(
      high.drop(150).toDF("doc_id", "text"), 2L)
    val afterReplay = rows(graft.streaming.StreamingSubstring.report(spark, index, hits))
    assert(afterReplay == got, "batch replay must not change the span report")
  }

  test("streaming language-ID over the published profile equals batch scoring") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "langid-").toString
    val (profile, preds) = (s"$base/profile", s"$base/preds")
    // train on the labeled corpus, publish the frozen model
    graft.streaming.StreamingLangId.publishProfile(spark, sfDir, profile)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingLangId.predSink(profile, preds))
      .start()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high.take(150), low, high.drop(150)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val got = rows(graft.streaming.StreamingLangId.readPreds(spark, preds))
    val want = rows(graft.operators.TextAnalysis.langIdPredict(
      graft.Tables.documents(spark, sfDir),
      graft.streaming.StreamingLangId.readProfile(spark, profile)))
    assert(got == want, s"stream==batch: ${got.size} streamed vs ${want.size} batch preds")
    assert(want.map(_._2).size > 0 && got.size == docs.length, "every doc classified")
    // replayed micro-batch must be idempotent
    graft.streaming.StreamingLangId.predSink(profile, preds)(
      high.drop(150).toDF("doc_id", "text"), 2L)
    assert(rows(graft.streaming.StreamingLangId.readPreds(spark, preds)) == got,
      "batch replay must not change the prediction set")
  }

  test("streaming perplexity over the published bigram LM equals batch scoring") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ppl-").toString
    val (model, scores) = (s"$base/model", s"$base/scores")
    // train on the corpus, publish the frozen LM artifact
    graft.streaming.StreamingPerplexity.publishModel(spark, sfDir, model)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingPerplexity.scoreSink(model, scores))
      .start()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high.take(150), low, high.drop(150)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    val got = rows(graft.streaming.StreamingPerplexity.readScores(spark, scores))
    val want = rows(graft.operators.TextAnalysis.bigramScore(
      graft.Tables.documents(spark, sfDir),
      graft.streaming.StreamingPerplexity.readModel(spark, model))
      .select("doc_id", "n_scored", "n_unseen", "avg_nll", "ppl"))
    assert(got == want, s"stream==batch: ${got.size} streamed vs ${want.size} batch scores")
    assert(got.size == docs.length, "every doc scored")
    // the model was trained on this same corpus, so no position is OOV
    assert(got.forall(_._3 == 0L), "self-scoring must never hit the unseen fallback")
    // replayed micro-batch must be idempotent
    graft.streaming.StreamingPerplexity.scoreSink(model, scores)(
      high.drop(150).toDF("doc_id", "text"), 2L)
    assert(rows(graft.streaming.StreamingPerplexity.readScores(spark, scores)) == got,
      "batch replay must not change the score set")
  }

  test("streaming CMS partials merge to the batch sketch (mergeability, out of order)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.{col, count, explode, lit, split}
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "cms-").toString
    val ctr = s"$base/counters"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingCms.counterSink(ctr))
      .start()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high.take(150), low, high.drop(150)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("bucket"), r.getAs[Long]("cnt"))).toSet
    val got = cells(graft.streaming.StreamingCms.readCounters(spark, ctr))
    val want = cells(graft.operators.TextAnalysis.cmsCountersFrom(
      graft.Tables.documents(spark, sfDir)))
    assert(got == want, s"merged partials != batch sketch (${got.size} vs ${want.size} cells)")
    // a replayed micro-batch must overwrite, not double-count — the
    // failure mode additive state silently corrupts on at-least-once
    graft.streaming.StreamingCms.counterSink(ctr)(
      high.drop(150).toDF("doc_id", "text"), 2L)
    assert(cells(graft.streaming.StreamingCms.readCounters(spark, ctr)) == got,
      "batch replay double-counted the sketch")
    // served estimates keep the one-sided contract for every token
    val exact = graft.Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact"))
    val est = graft.streaming.StreamingCms.estimates(
      exact.select("tok"), graft.streaming.StreamingCms.readCounters(spark, ctr))
    assert(exact.join(est, "tok").filter(col("est") < col("exact")).count() == 0,
      "a served estimate under-counted")
  }

  test("streaming EMA state equals the batch 16-tap smoothing (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingEma.Ev]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double)]
    val q = graft.streaming.StreamingEma.withEma(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingEma.EmaOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.user_id, o.event_id, o.ema))
        }
        ()
      }
      .start()
    // EMA is sequential state: splits are event-time-ordered (the
    // documented ordering contract), out-of-orderness exercised only
    // WITHIN each batch via the (ts, event_id) sort
    val ev = graft.Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "value")
      .collect()
      .map(r => graft.streaming.StreamingEma.Ev(
        r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val got = collected.toSet
    val want = graft.operators.Analytics.emaPerUser(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ema"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.size == ev.length, s"every event must emit exactly once (${got.size}/${ev.length})")
    assert(got == want, "stream==batch EMA drift")
  }

  /** Collect the sf0.001 quote stream as Ticks in event-time order —
    * the documented sequential-state ordering contract for the
    * sliding-frame indicator twins.
    */
  private def orderedTicks = graft.operators.Finance.quotes(spark, sfDir)
    .select("symbol", "id", "ts", "price")
    .collect()
    .map(r => graft.streaming.StreamingIndicators.Tick(
      r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    .sortBy(t => (t.ts.getTime, t.id))

  test("streaming RSI ring state equals the batch 14-period window (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Double)]
    val q = graft.streaming.StreamingIndicators.withRsi(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.RsiOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.price, o.rsi14))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    try {
      chunks.foreach { c =>
        // out-of-orderness WITHIN each batch only (the ordering contract)
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.rsi(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"), col("rsi14"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(want.nonEmpty, "batch RSI must emit at sf0.001")
    assert(collected.toSet == want, "stream==batch RSI drift")
  }

  test("streaming Bollinger ring state equals the batch 20-tick bands (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Double, Double, Double, Boolean, Boolean)]
    val q = graft.streaming.StreamingIndicators.withBollinger(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.BollOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.price,
            o.sma20, o.upper_band, o.lower_band, o.breach_up, o.breach_dn))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.bollinger(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"), col("sma20"),
        col("upper_band"), col("lower_band"), col("breach_up"), col("breach_dn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7)))
      .toSet
    assert(want.nonEmpty, "batch Bollinger must emit at sf0.001")
    assert(collected.toSet == want,
      "stream==batch Bollinger drift (band edges must be bit-identical)")
  }

  test("streaming MACD ring state equals the batch truncated-weight lines (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Double, Double, Double)]
    val q = graft.streaming.StreamingIndicators.withMacd(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.MacdOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o =>
            (o.symbol, o.id, o.price, o.macd, o.signal_line, o.histogram))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.macd(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"),
        col("macd"), col("signal_line"), col("histogram"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toSet
    assert(want.nonEmpty, "batch MACD must emit at sf0.001")
    assert(collected.toSet == want,
      "stream==batch MACD drift (the weight chains must be bit-identical)")
  }

  test("streaming TRIX triple-ring state equals the batch three-layer chain (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Double, Double)]
    val q = graft.streaming.StreamingIndicators.withTrix(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.TrixOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o =>
            (o.symbol, o.id, o.price, o.triple_ema, o.trix_bp))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.trix(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"),
        col("triple_ema"), col("trix_bp"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(want.nonEmpty, "batch TRIX must emit at sf0.001")
    assert(collected.toSet == want,
      "stream==batch TRIX drift (three chained rings must be bit-identical)")
  }

  test("streaming CMO bar state equals batch on closed days (order-spanning splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Double)]
    val q = graft.streaming.StreamingIndicators.withCmo(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.CmoOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.day.toString, o.cmo))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    // the stream never closes the final open bar — compare batch rows
    // with each symbol's LAST day dropped
    val batch = graft.operators.Finance.chandeMomentum(spark, sfDir)
      .select(col("symbol"), col("day"), col("cmo"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getDouble(2)))
    val lastDay = graft.operators.Finance.ohlcBars(spark, sfDir)
      .select(col("symbol"), col("day")).collect()
      .map(r => (r.getString(0), r.getDate(1).toString))
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).max }
    val want = batch.filterNot(r => lastDay(r._1) == r._2).toSet
    assert(want.nonEmpty, "batch CMO must emit closed days at sf0.001")
    assert(collected.toSet == want, "stream==batch CMO drift on closed days")
  }

  test("streaming Hurst running sums equal the batch aggregate at each symbol's final tick") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Double)]
    val q = graft.streaming.StreamingIndicators.withHurst(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.HurstOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.n_moves, o.hurst))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.hurst(spark, sfDir)
      .select(col("symbol"), col("n_moves"), col("hurst"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(want.nonEmpty, "batch Hurst must emit at sf0.001")
    // the stream's LAST emission per symbol covers the full series
    val last = collected.groupBy(_._1).map { case (s, rs) =>
      s -> rs.maxBy(_._2) }
    want.foreach { case (s, (n, h)) =>
      val (_, _, gn, gh) = last(s)
      assert(gn === n && gh === h, s"symbol $s: stream ($gn,$gh) vs batch ($n,$h)")
    }
  }

  test("streaming Roll spread running covariance equals batch at each symbol's final tick") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Double, Double)]
    val q = graft.streaming.StreamingIndicators.withRollSpread(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.RollOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o =>
            (o.symbol, o.id, o.n_move_pairs, o.serial_cov, o.roll_spread))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.rollSpread(spark, sfDir)
      .select(col("symbol"), col("n_move_pairs"), col("serial_cov"),
        col("roll_spread"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(want.nonEmpty, "batch Roll spread must emit at sf0.001")
    val last = collected.groupBy(_._1).map { case (s, rs) => s -> rs.maxBy(_._2) }
    want.foreach { case (s, (n, cov, spread)) =>
      val (_, _, gn, gc, gs) = last(s)
      assert(gn === n && gc === cov && gs === spread,
        s"symbol $s: stream ($gn,$gc,$gs) vs batch ($n,$cov,$spread)")
    }
  }

  test("streaming stochastic ring state equals the batch %K/%D (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double, Double, Double)]
    val q = graft.streaming.StreamingIndicators.withStochastic(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.StochOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.price, o.pct_k, o.pct_d))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.stochastic(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"), col("pct_k"), col("pct_d"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(want.nonEmpty, "batch stochastic must emit at sf0.001")
    assert(collected.toSet == want, "stream==batch stochastic drift")
  }

  test("streaming EWMA volatility ring equals the batch RiskMetrics chain (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Double)]
    val q = graft.streaming.StreamingIndicators.withEwmaVol(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.EwmaVolOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.price, o.ewma_vol))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.ewmaVolatility(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"), col("ewma_vol"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(want.nonEmpty)
    assert(collected.toSet == want, "stream==batch EWMA volatility drift")
  }

  test("streaming OBV integer state equals the batch running sum (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.VTick]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Long)]
    val q = graft.streaming.StreamingIndicators.withObv(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.ObvOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.price, o.obv))
        }
        ()
      }
      .start()
    val ev = graft.operators.Finance.quotes(spark, sfDir)
      .select("symbol", "id", "ts", "price", "volume")
      .collect()
      .map(r => graft.streaming.StreamingIndicators.VTick(
        r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3), r.getLong(4)))
      .sortBy(t => (t.ts.getTime, t.id))
    val chunks = ev.grouped(math.max(1, ev.length / 5 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.obv(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"), col("obv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(want.nonEmpty)
    assert(collected.toSet == want, "stream==batch OBV drift")
  }

  test("streaming Aroon ring equals the batch packed-argmax window (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long)]
    val q = graft.streaming.StreamingIndicators.withAroon(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.AroonOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o =>
            (o.symbol, o.id, o.aroon_up, o.aroon_down, o.oscillator))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    val want = graft.operators.Finance.aroon(spark, sfDir)
      .select(col("symbol"), col("id"), col("aroon_up"), col("aroon_down"),
        col("oscillator"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    assert(want.nonEmpty, "batch aroon must emit at sf0.001")
    assert(collected.toSet == want, "stream==batch aroon drift")
  }

  test("streaming direction streaks aggregate to the batch gaps-and-islands rollup") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long)] // (symbol, id, dir, run_len)
    val q = graft.streaming.StreamingIndicators.withStreaks(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.StreakOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.id, o.dir, o.run_len))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    // a run of length L emits rows with run_len 1..L — the batch
    // rollup is recovered as (#len==1, max len, #rows) per (sym, dir)
    val got = collected.groupBy(r => (r._1, r._3)).map { case ((s, d), rows) =>
      (s, d, rows.count(_._4 == 1L).toLong,
        rows.map(_._4).max, rows.size.toLong)
    }.toSet
    val want = graft.operators.Finance.directionStreaks(spark, sfDir)
      .select(col("symbol"), col("dir"), col("n_runs"), col("max_run"),
        col("total_ticks"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    assert(want.nonEmpty, "batch streaks must emit at sf0.001")
    assert(got == want, "stream==batch streaks drift")
  }

  test("streaming ulcer drawdowns square-sum to the batch Ulcer index") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val q = graft.streaming.StreamingIndicators.withUlcerDd(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.UlcerDdOut], _: Long) =>
        collected.synchronized { collected ++= b.collect().map(o => (o.symbol, o.dd6)) }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 3 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    // batch: exact decimal Σdd6², correctly-rounded double bridge,
    // one divide + sqrt + round-6
    val got = collected.groupBy(_._1).map { case (s, rows) =>
      val sq = rows.map(r => BigDecimal(r._2) * BigDecimal(r._2)).sum
      val n = rows.size
      (s, n.toLong,
        BigDecimal(math.sqrt(sq.toDouble / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val want = graft.operators.Finance.ulcerIndex(spark, sfDir)
      .select(col("symbol"), col("n_ticks"), col("ulcer_index"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(want.nonEmpty, "batch ulcer must emit at sf0.001")
    assert(got == want, "stream==batch ulcer drift")
  }

  test("streaming ATR bar state equals batch on every CLOSED day (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val ms = MemoryStream[graft.streaming.StreamingIndicators.Tick]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Double)]
    val q = graft.streaming.StreamingIndicators.withAtr(ms.toDS())
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingIndicators.AtrOut], _: Long) =>
        collected.synchronized {
          collected ++= b.collect().map(o => (o.symbol, o.day.toString, o.tr_cents, o.atr))
        }
        ()
      }
      .start()
    val ev = orderedTicks
    val chunks = ev.grouped(math.max(1, ev.length / 4 + 1)).toSeq
    try {
      chunks.foreach { c =>
        ms.addData(scala.util.Random.shuffle(c.toSeq)); q.processAllAvailable()
      }
    } finally q.stop()
    // the stream never closes the final open bar — compare batch rows
    // with each symbol's LAST day dropped
    val batch = graft.operators.Finance.atr(spark, sfDir)
      .select(col("symbol"), col("day"), col("tr_cents"), col("atr"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getDouble(3)))
    val lastDay = batch.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(_._2).max }
    val want = batch.filterNot(r => lastDay(r._1) == r._2).toSet
    assert(want.nonEmpty, "batch ATR must emit closed days at sf0.001")
    assert(collected.toSet == want, "stream==batch ATR drift on closed days")
  }

  test("streaming co-purchase edge store equals batch coEdges (order-spanning splits + replay)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "graph-").toString
    val (itemPath, pairPath) = (s"$base/items", s"$base/pairs")
    val ms = MemoryStream[(Long, Long)]
    val q = ms.toDF().toDF("l_orderkey", "l_partkey").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingGraph.edgeSink(itemPath, pairPath))
      .start()
    val rows = graft.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // shuffled chunks: an order's basket SPANS micro-batches, the case
    // the new-vs-stored pairing logic exists for
    val chunks = new scala.util.Random(7).shuffle(rows)
      .grouped(math.max(1, rows.size / 3 + 1)).toSeq
    try {
      chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("pa", "pb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = edgeSet(graft.streaming.StreamingGraph.edges(spark, pairPath))
    val want = edgeSet(graft.operators.Graphs.coEdges(spark, sfDir, minSupport = 2))
    assert(want.nonEmpty, "batch edge set must be non-empty at sf0.001")
    assert(got == want, s"stream==batch edge drift (${got.size} vs ${want.size})")
    // degrees reconcile through the same store
    val gotDeg = graft.streaming.StreamingGraph.degrees(spark, pairPath)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = graft.operators.Graphs.coEdges(spark, sfDir, minSupport = 2)
    val wantDeg = e.select(col("pa").as("v")).unionAll(e.select(col("pb").as("v")))
      .groupBy("v").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotDeg == wantDeg, "stream==batch degree drift")
    // a replayed micro-batch must overwrite, not double-count
    import spark.implicits._
    graft.streaming.StreamingGraph.edgeSink(itemPath, pairPath)(
      chunks.last.toDF("l_orderkey", "l_partkey"), (chunks.size - 1).toLong)
    assert(edgeSet(graft.streaming.StreamingGraph.edges(spark, pairPath)) == want,
      "batch replay corrupted the pair-delta store")
  }

  test("streaming retention grid serves the batch cohort matrix (late history arrives last)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ret-").toString
    val grid = s"$base/grid"
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val q = ms.toDF().toDF("user_id", "ts").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingRetention.gridSink(grid))
      .start()
    val ev = graft.Tables.events(spark, sfDir).select("user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    val minMs = ev.map(_._2.getTime).min
    // OUT-OF-ORDER: the month's second half arrives BEFORE the first —
    // cohort assignments must move earlier when old history lands
    val (early, late) = ev.partition(_._2.getTime < minMs + 15L * 86400 * 1000)
    try {
      Seq(late, early).foreach { chunk => ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    val got = rows(graft.streaming.StreamingRetention.matrix(spark, grid))
    val want = rows(graft.operators.Analytics.cohortRetention(spark, sfDir))
    assert(want.nonEmpty && got == want,
      s"stream==batch: ${got.length} streamed vs ${want.length} batch cells")
    // replayed micro-batch must be idempotent (overwrite, not append)
    graft.streaming.StreamingRetention.gridSink(grid)(early.toDF("user_id", "ts"), 1L)
    assert(rows(graft.streaming.StreamingRetention.matrix(spark, grid)) == got,
      "batch replay must not change the matrix")
  }

  test("incremental domain cap equals the batch domainCap pass (stream==batch, out of order)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "domcap-").toString
    val store = s"$base/candidates"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "source").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingDomainCap.candidateSink(store))
      .start()
    // OUT-OF-ORDER split: the hash-ranked quota must be arrival-
    // independent, so a late batch must be able to displace an early
    // admission (a first-arrivals quota would fail this corpus order)
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      // first batch resends EVERY row within the batch: duplicate rows
      // rank adjacently, so without the sink's within-batch dedup they
      // would halve the distinct docs surviving the batch-local
      // top-cap and permanently evict global winners
      Seq(high ++ high, low.take(60), low.drop(60)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getAs[Long]("rk"), r.getAs[Long]("doc_id"))).toSeq
    val got = rows(graft.streaming.StreamingDomainCap.capped(spark, store))
    val want = rows(graft.operators.CorpusOps.domainCap(spark, sfDir))
    assert(got == want, s"stream==batch: ${got.length} vs ${want.length} kept docs")
    assert(want.nonEmpty, "cap must actually select documents")
    // the quota BINDS on this corpus (some source has > cap docs), so
    // the displacement property was actually exercised
    assert(docs.groupBy(_._2).values.map(_.size).max > 20,
      "corpus must oversubscribe at least one source")
    // per-batch candidate partitions stay bounded at cap per source
    val perBatch = graft.streaming.StreamingDomainCap.readStore(spark, store)
      .groupBy("batch_id", "source").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(perBatch <= 20, s"batch partition exceeds the cap: $perBatch")
    // replayed micro-batch (failure before checkpoint commit) must be
    // idempotent: it overwrites its own partition, the kept set holds
    graft.streaming.StreamingDomainCap.candidateSink(store)(
      low.drop(60).toDF("doc_id", "source"), 2L)
    val afterReplay = rows(graft.streaming.StreamingDomainCap.capped(spark, store))
    assert(afterReplay == got, "batch replay must not change the kept set")
  }

  test("incremental decontamination equals the batch pass (stream==batch, out of order)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "decontam-").toString
    val (benchPath, reportPath) = (s"$base/bench", s"$base/report")
    // the benchmark index is fixed before the stream starts (an eval
    // suite is static) — same bench partition as the batch pass
    val allDocs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    graft.streaming.StreamingDecontam.writeBenchIndex(
      allDocs.filter(org.apache.spark.sql.functions.col("doc_id") < 20), benchPath)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingDecontam.contamSink(benchPath, reportPath))
      .start()
    // OUT-OF-ORDER batch split of the FULL corpus — benchmark docs
    // included: the sink must anti-join them out via the published
    // doc_id set (a bench doc self-matches at contamination 1.0
    // otherwise), and reports are per-document so arrival order must
    // not matter
    val corpus = allDocs
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = corpus.partition(_._1 >= 250)
    try {
      Seq(high, low.take(100), low.drop(100)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows(graft.streaming.StreamingDecontam.readReport(spark, reportPath))
    val want = rows(graft.operators.CorpusOps.decontaminate(spark, sfDir))
    assert(want.nonEmpty, "corpus must actually contain contaminated docs")
    assert(got == want, s"stream==batch: ${got.size} vs ${want.size} reports")
    // replayed micro-batch must be idempotent (overwrites its own
    // partition instead of appending)
    graft.streaming.StreamingDecontam.contamSink(benchPath, reportPath)(
      low.drop(100).toDF("doc_id", "text"), 2L)
    val afterReplay = rows(graft.streaming.StreamingDecontam.readReport(spark, reportPath))
    assert(afterReplay == got, "batch replay must not change the report set")
  }

  test("incremental semantic decontam equals the batch pass (stream==batch, out of order)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "semdecontam-").toString
    val (benchPath, reportPath) = (s"$base/bench", s"$base/report")
    val allVecs = graft.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    // the benchmark index is published once before the stream starts —
    // same bench partition as the batch pass (vec_id < 20)
    graft.streaming.StreamingSemanticDecontam.writeBenchIndex(
      allVecs.filter(org.apache.spark.sql.functions.col("vec_id") < 20), benchPath)
    val sink = graft.streaming.StreamingSemanticDecontam.flagSink(benchPath, reportPath)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(sink)
      .start()
    // OUT-OF-ORDER split of the FULL corpus — benchmark vectors
    // included: the sink must anti-join them out via the index's own
    // vec_id set (a bench vector self-flags at d2 = 0 otherwise), and
    // flags are per-vector so arrival order must not matter
    val vecs = allVecs.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (high, low) = vecs.partition(_._1 >= 250)
    try {
      Seq(high, low.take(150), low.drop(150)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(graft.streaming.StreamingSemanticDecontam.readReport(spark, reportPath))
    val want = rows(graft.operators.Similarity.semanticDecontam(spark, sfDir))
    assert(want.nonEmpty, "corpus must actually contain semantic leaks")
    assert(got == want, s"stream==batch: ${got.size} vs ${want.size} flags")
    // replayed micro-batch must be idempotent (overwrites its own
    // partition instead of appending)
    sink(low.drop(150).toDF("vec_id", "embedding"), 2L)
    val afterReplay = rows(
      graft.streaming.StreamingSemanticDecontam.readReport(spark, reportPath))
    assert(afterReplay == got, "batch replay must not change the flag set")
  }

  test("incremental token counts merge to the batch heavy-hitter report (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "tokcnt-").toString
    val store = s"$base/store"
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingTokenCounts.countSink(store))
      .start()
    // OUT-OF-ORDER split — counts are a commutative monoid, so the
    // merged store must not care
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high, low.take(120), low.drop(120)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val got = rows(graft.streaming.StreamingTokenCounts.topK(spark, store))
    val want = rows(graft.operators.TextAnalysis.heavyHitterTokens(spark, sfDir))
    assert(want.nonEmpty)
    assert(got == want, s"stream==batch: streamed top-k differs from the batch report")
    // replayed micro-batch must be idempotent (overwrites its own
    // partition instead of double-counting)
    graft.streaming.StreamingTokenCounts.countSink(store)(
      low.drop(120).toDF("doc_id", "text"), 2L)
    val afterReplay = rows(graft.streaming.StreamingTokenCounts.topK(spark, store))
    assert(afterReplay == got, "batch replay must not inflate counts")
  }

  test("incremental Heaps growth merges to the batch report (stream==batch, out of order)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "heaps-").toString
    val (docStore, tokStore) = (s"$base/docs", s"$base/toks")
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingHeaps.heapsSink(docStore, tokStore))
      .start()
    // OUT-OF-ORDER split: late-arriving LOW doc_ids must retroactively
    // claim first-arrival buckets from tokens already seen high
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high, low.take(120), low.drop(120)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = rows(graft.streaming.StreamingHeaps.growth(spark, docStore, tokStore))
    val want = rows(graft.operators.TextAnalysis.heapsLaw(spark, sfDir))
    assert(want.nonEmpty)
    assert(got == want, s"stream==batch: $got vs $want")
    // replayed micro-batch must be idempotent (overwrites its own
    // partitions in BOTH stores instead of double-counting mass)
    graft.streaming.StreamingHeaps.heapsSink(docStore, tokStore)(
      low.drop(120).toDF("doc_id", "text"), 2L)
    val afterReplay = rows(graft.streaming.StreamingHeaps.growth(spark, docStore, tokStore))
    assert(afterReplay == got, "batch replay must not change the growth table")
  }

  test("streamed unigram token counts equal the batch counts (serve-from-stream)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "unicnt-").toString
    val (modelPath, store) = (s"$base/model", s"$base/store")
    // ONE batch training run publishes the serve artifact
    graft.streaming.StreamingUnigramCounts.publishModel(spark, sfDir, modelPath)
    Caches.releaseAll(spark)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingUnigramCounts.countSink(modelPath, store))
      .start()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (high, low) = docs.partition(_._1 >= 250)
    try {
      Seq(high, low.take(120), low.drop(120)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = rows(graft.streaming.StreamingUnigramCounts.readCounts(spark, store))
    val want = rows(graft.operators.TextAnalysis.unigramTokenCounts(spark, sfDir))
    assert(want.nonEmpty)
    assert(got == want, "stream==batch: served counts differ from the batch rollup")
    // replayed micro-batch must be idempotent
    graft.streaming.StreamingUnigramCounts.countSink(modelPath, store)(
      low.drop(120).toDF("doc_id", "text"), 2L)
    val afterReplay = rows(graft.streaming.StreamingUnigramCounts.readCounts(spark, store))
    assert(afterReplay == got, "batch replay must not change served counts")
  }

  test("incremental PQ encoding equals the batch codes (stream==batch, out of order)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "pqenc-").toString
    val (bookPath, codesPath) = (s"$base/books", s"$base/codes")
    // ONE training run publishes every artifact (books for the
    // encoder, codes as the stream==batch oracle, the query table for
    // the serve twin) — per-accessor retraining would double the work
    val model = graft.operators.Similarity.pqModel(spark, sfDir)
    model.codebooks.write.mode("overwrite").parquet(bookPath)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingPqEncode.encodeSink(bookPath, codesPath))
      .start()
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (high, low) = vecs.partition(_._1 >= 250)
    try {
      Seq(high, low.take(120), low.drop(120)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(graft.streaming.StreamingPqEncode.readCodes(spark, codesPath))
    val want = rows(model.codes)
    assert(want.nonEmpty)
    assert(got == want, s"stream==batch: ${got.size} streamed codes vs ${want.size} batch codes")
    // replayed micro-batch must be idempotent
    graft.streaming.StreamingPqEncode.encodeSink(bookPath, codesPath)(
      low.drop(120).toDF("vec_id", "embedding"), 2L)
    val afterReplay = rows(graft.streaming.StreamingPqEncode.readCodes(spark, codesPath))
    assert(afterReplay == got, "batch replay must not change the code store")
    // SERVE twin: an ADC search over the streamed code store returns
    // the exact batch shortlist (the same adcShortlist the rerank
    // audit fetches its candidates with) — ingest→serve closed
    def shortlist(codes: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      graft.operators.Similarity.adcShortlist(codes, model.queryTable, 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val served = shortlist(graft.streaming.StreamingPqEncode.readCodes(spark, codesPath))
    val batchServed = shortlist(model.codes)
    assert(batchServed.nonEmpty)
    assert(served == batchServed,
      s"stream-served shortlist diverges: ${served.size} vs ${batchServed.size} pairs")
  }

  test("vector-store lifecycle: streamed routing + codes serve the batch IVF-PQ shortlist") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "vstore-").toString
    val (bookPath, cellsPath) = (s"$base/books", s"$base/cells")
    val (codesPath, routingPath) = (s"$base/codes", s"$base/routing")
    // ONE training run publishes the deployment artifacts (cells for
    // the router, books for the encoder); assignment / codes / query
    // table stay behind as the stream==batch oracles
    val model = graft.operators.Similarity.ivfPqModel(spark, sfDir)
    model.codebooks.write.mode("overwrite").parquet(bookPath)
    model.cells.write.mode("overwrite").parquet(cellsPath)
    val encode = graft.streaming.StreamingPqEncode.encodeSink(bookPath, codesPath)
    val route = graft.streaming.StreamingPqEncode.routeSink(cellsPath, routingPath)
    // one ingest stream feeds BOTH stores — encode + route per batch
    val ingest: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, id) => { encode(b, id); route(b, id) }
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(ingest)
      .start()
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (high, low) = vecs.partition(_._1 >= 250)
    try {
      // OUT-OF-ORDER split: late ids first, then two early chunks
      Seq(high, low.take(150), low.drop(150)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    // the streamed routing table IS the batch assignment
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = pairs(graft.streaming.StreamingPqEncode.readRouting(spark, routingPath))
    assert(routed == pairs(model.assignment),
      s"streamed routing (${routed.size}) != batch assignment")
    // full IVF-PQ serve over ONLY the streamed store (routing + codes)
    // equals the batch composite's own shortlist — same primitive
    // (ivfShortlist), same probes, different store
    val probes = graft.operators.Similarity.coarseProbes(
      model.microRows, model.cells, nProbe = 2, nQueries = 10)
    def shortlist(routing: org.apache.spark.sql.DataFrame,
                  codes: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      graft.operators.Similarity
        .ivfShortlist(routing, codes, model.queryTable, probes, 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val served = shortlist(
      graft.streaming.StreamingPqEncode.readRouting(spark, routingPath),
      graft.streaming.StreamingPqEncode.readCodes(spark, codesPath))
    val batchServed = shortlist(model.assignment, model.codes)
    assert(batchServed.nonEmpty)
    assert(served == batchServed,
      s"stream-served IVF-PQ shortlist diverges: ${served.size} vs ${batchServed.size} pairs")
    // replayed routing micro-batch must not change what serving sees
    route(low.drop(150).toDF("vec_id", "embedding"), 2L)
    val afterReplay = shortlist(
      graft.streaming.StreamingPqEncode.readRouting(spark, routingPath),
      graft.streaming.StreamingPqEncode.readCodes(spark, codesPath))
    assert(afterReplay == served, "routing replay must not change the served shortlist")
  }

  test("incremental semantic dedup matches the batch yield table (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "semdedup-").toString
    val (cellsPath, vecPath, pairPath) =
      (s"$base/cells", s"$base/vectors", s"$base/pairs")
    // the trainer publishes its final cells; membership by routing
    // against them is exactly what batch semanticDedup computes
    graft.operators.Similarity.coarseCells(spark, sfDir)
      .write.mode("overwrite").parquet(cellsPath)
    val sink = graft.streaming.StreamingSemanticDedup
      .ingestSink(cellsPath, vecPath, pairPath)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(sink)
      .start()
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (high, low) = vecs.partition(_._1 >= 250)
    try {
      // OUT-OF-ORDER split: every duplicate pair must be found when
      // its LATER vector arrives, whichever side that is
      Seq(high, low.take(150), low.drop(150)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val got = rows(graft.streaming.StreamingSemanticDedup
      .report(spark, cellsPath, vecPath, pairPath))
    val want = rows(graft.operators.Similarity.semanticDedup(spark, sfDir))
    assert(want.nonEmpty)
    assert(got == want, s"stream==batch: streamed yield table diverges")
    // replayed micro-batch re-derives its pairs (possibly a superset
    // into its own partition) — the report must not move
    sink(low.drop(150).toDF("vec_id", "embedding"), 2L)
    val afterReplay = rows(graft.streaming.StreamingSemanticDedup
      .report(spark, cellsPath, vecPath, pairPath))
    assert(afterReplay == got, "batch replay must not change the yield table")
  }

  test("incremental kmeans statistics fold to the one-round batch fit (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "kmstats-").toString
    val (centPath, statsPath) = (s"$base/centroids", s"$base/stats")
    val emb = graft.Tables.embeddings(spark, sfDir)
    // deployed centroids fixed before the stream starts — the batch
    // trainer's seed, so kmeansCentroids(iters = 1) is the exact oracle
    graft.streaming.StreamingKmeansStats.writeSeedCentroids(emb, centPath)
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingKmeansStats.statsSink(centPath, statsPath))
      .start()
    // OUT-OF-ORDER split — integer sufficient statistics are split-
    // and order-independent by algebra; this asserts it end to end
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val (high, low) = vecs.partition(_._1 >= 250)
    try {
      Seq(high, low.take(120), low.drop(120)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val got = rows(graft.streaming.StreamingKmeansStats.updatedCentroids(spark, statsPath))
    val want = rows(graft.operators.Similarity.kmeansCentroids(spark, sfDir, k = 8, iters = 1))
    assert(want.nonEmpty)
    assert(got == want, s"stream==batch: ${got.length} vs ${want.length} centroid rows")
    // replayed micro-batch must be idempotent (overwrites its own
    // partition instead of double-counting its statistics)
    graft.streaming.StreamingKmeansStats.statsSink(centPath, statsPath)(
      low.drop(120).toDF("vec_id", "embedding"), 2L)
    val afterReplay = rows(graft.streaming.StreamingKmeansStats.updatedCentroids(spark, statsPath))
    assert(afterReplay == got, "batch replay must not shift the centroids")
  }

  test("composed streaming curation equals the batch pipeline (quality -> dedup -> near-dup)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "curate-").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingCuration.curateSink(
        s"$base/surv", s"$base/index", s"$base/pairs"))
      .start()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    try {
      Seq(docs.take(200), docs.drop(200)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    // batch equivalents over the SAME quality gate
    val passed = graft.Tables.documents(spark, sfDir)
      .filter(graft.operators.CorpusOps.qualityKeep)
    assert(passed.count() < docs.length, "gate must actually reject docs")
    val wantSurv = passed
      .groupBy(md5(encode(col("text"), "UTF-8"))).agg(min("doc_id").as("k"))
      .select("k").as[Long].collect().sorted.toSeq
    val gotSurv = graft.streaming.StreamingDedup.survivors(spark, s"$base/surv")
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(gotSurv == wantSurv, "quality-gated survivor store == batch filter+dedup")
    // near-dup pairs among quality-passed docs: brute-force truth over
    // the batch fingerprints
    val prints = graft.operators.Dedup.simhashDocs64From(passed).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val wantPairs = (for {
      (a, (la, ha)) <- prints; (b, (lb, hb)) <- prints
      if a < b &&
        java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val gotPairs = graft.streaming.StreamingNearDup.readPairs(spark, s"$base/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == wantPairs, "streamed near-dup pairs == brute truth over gated docs")
  }

  test("composed curation survives a mid-stream kill + checkpoint restart exactly-once") {
    // the per-family twins prove replay idempotence in isolation; this
    // pins the COMPOSITE's end-to-end exactly-once story: kill the
    // query between batches, re-run the next batch's sink by hand (a
    // crash after the store writes but before the checkpoint commit —
    // the worst-case partial state), then restart from the SAME
    // checkpoint and require the final stores to equal the batch truth
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "curate-restart-").toString
    val sink = () => graft.streaming.StreamingCuration.curateSink(
      s"$base/surv", s"$base/index", s"$base/pairs")
    def newQuery(ms: MemoryStream[(Long, String)]) =
      ms.toDF().toDF("doc_id", "text").writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch(sink())
        .start()
    val docs = graft.Tables.documents(spark, sfDir)
      .select("doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (chunk1, chunk2, chunk3) =
      (docs.take(150), docs.slice(150, 350), docs.drop(350))
    val ms = MemoryStream[(Long, String)]
    val q1 = newQuery(ms)
    try { ms.addData(chunk1); q1.processAllAvailable() } finally q1.stop() // the kill
    // crashed batch 1: stores written, checkpoint never committed
    sink()(chunk2.toDF("doc_id", "text"), 1L)
    // restart from the checkpoint; the engine re-delivers chunk2 as
    // batch 1 (dynamic partition overwrite absorbs the crashed write),
    // then chunk3 continues as batch 2
    ms.addData(chunk2)
    val q2 = newQuery(ms)
    try {
      q2.processAllAvailable()
      ms.addData(chunk3)
      q2.processAllAvailable()
    } finally q2.stop()
    // stream == batch, end to end across the kill
    val passed = graft.Tables.documents(spark, sfDir)
      .filter(graft.operators.CorpusOps.qualityKeep)
    val wantSurv = passed
      .groupBy(md5(encode(col("text"), "UTF-8"))).agg(min("doc_id").as("k"))
      .select("k").as[Long].collect().sorted.toSeq
    val gotSurv = graft.streaming.StreamingDedup.survivors(spark, s"$base/surv")
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(gotSurv == wantSurv, "restart must not lose or duplicate survivors")
    val prints = graft.operators.Dedup.simhashDocs64From(passed).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val wantPairs = (for {
      (a, (la, ha)) <- prints; (b, (lb, hb)) <- prints
      if a < b &&
        java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    val gotPairs = graft.streaming.StreamingNearDup.readPairs(spark, s"$base/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotPairs == wantPairs, "restart must not lose or duplicate near-dup pairs")
    // the crashed batch really was re-delivered under the same id:
    // exactly one store partition per processed batch (0, 1, 2)
    val survParts = graft.streaming.StreamingDedup.readStore(spark, s"$base/surv")
      .select("batch_id").distinct().as[Long].collect().sorted.toSeq
    assert(survParts == Seq(0L, 1L, 2L), s"got partitions $survParts")
  }

  test("parquet file sink delivers each row exactly once under checkpointing") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "fsink-").toString
    val ms = MemoryStream[Tick]
    val q = ms.toDS().writeStream.format("parquet")
      .option("path", s"$base/data")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      ms.addData(ticks(3))
      q.processAllAvailable()
      ms.addData(ticks(5).drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val readBack = spark.read.parquet(s"$base/data")
      .select("id").as[String].collect().sorted
    assert(readBack.toSeq == (1 to 5).map(i => f"e$i%03d"),
      s"file sink must contain each tick exactly once, got ${readBack.toSeq}")
  }

  test("file source honors maxFilesPerTrigger (per-source rate limiting, S5 cadence)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "rate-").toString
    // three single-row files = three scheduling units for the throttle
    (1 to 3).foreach { i =>
      Seq((f"e$i%03d", "A", i * 1.0)).toDF("id", "symbol", "price")
        .coalesce(1).write.parquet(s"$base/in/f$i")
    }
    val batches = scala.collection.mutable.ArrayBuffer.empty[Int]
    val stream = spark.readStream
      .schema("id STRING, symbol STRING, price DOUBLE")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in/*")
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.synchronized { batches += b.count().toInt }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches.sum == 3, s"all rows delivered, got $batches")
    assert(batches.count(_ > 0) >= 3,
      s"throttle must spread 3 files over >= 3 micro-batches, got $batches")
  }

  test("SMA state survives a query restart from checkpoint") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt-").toString
    val ms = MemoryStream[Tick]
    val sma = StreamingSma.withMovingAverage(ms.toDS(), n = 5)
    // memory sink can't recover from a checkpoint; foreachBatch can
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Option[Double])]
    def writer = sma.writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[_], _: Long) =>
        got.synchronized {
          got ++= b.toDF().select("id", "moving_average").collect()
            .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        }
        ()
      }
    val q1 = writer.start()
    try {
      ms.addData((1 to 3).map(i => Tick(f"e$i", "A", i.toDouble)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(got.map(_._1).sorted.toSeq == Seq("e1", "e2", "e3"))
    got.clear()
    // restart against the same checkpoint: the per-key buffer of 3
    // prices must be restored, so the 5th overall tick completes the window
    val q2 = writer.start()
    try {
      ms.addData(Seq(Tick("e4", "A", 4.0), Tick("e5", "A", 5.0)))
      q2.processAllAvailable()
      val rows = got.sortBy(_._1).toSeq
      assert(rows.map(_._1) == Seq("e4", "e5"), s"got $rows")
      assert(rows(0)._2.isEmpty, "4th tick still warming up")
      assert(rows(1)._2.contains(3.0), "5th tick: mean(1..5) from restored state")
    } finally q2.stop()
  }

  test("RSI ring state survives a query restart from checkpoint (stream==batch)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingIndicators.{RsiOut, Tick => ITick}
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt-").toString
    val ms = MemoryStream[ITick]
    val rsi = graft.streaming.StreamingIndicators.withRsi(ms.toDS())
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Double)]
    def writer = rsi.writeStream
      .option("checkpointLocation", ckpt).outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[RsiOut], _: Long) =>
        got.synchronized {
          got ++= b.collect().map(o => (o.symbol, o.id, o.price, o.rsi14))
        }
        ()
      }
    val ev = orderedTicks
    val (first, second) = ev.splitAt(ev.length / 2)
    val q1 = writer.start()
    try {
      ms.addData(first.toSeq); q1.processAllAvailable()
    } finally q1.stop()
    // restart against the same checkpoint: every symbol's delta ring
    // must come back from the state store for the second half to match
    val q2 = writer.start()
    try {
      ms.addData(second.toSeq); q2.processAllAvailable()
    } finally q2.stop()
    val want = graft.operators.Finance.rsi(spark, sfDir)
      .select(col("symbol"), col("id"), col("price"), col("rsi14"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(first.nonEmpty && second.nonEmpty && want.nonEmpty)
    assert(got.size == want.size, "every batch row must emit exactly once across the restart")
    assert(got.toSet == want, "stream==batch RSI drift across the restart")
  }

  test("dead-letter split: invalid records carry a reason, valid records flow on") {
    val df = Seq(
      ("e1", Option(10.0)), ("e2", Option.empty[Double]), ("e3", Option(-1.0))
    ).toDF("id", "price").withColumn("volume", lit(1L))
    val (valid, rejected) = RefPipeline.cleanWithDeadLetter(df)
    assert(valid.select("id").as[String].collect().toSeq == Seq("e1"))
    val rej = rejected.orderBy("id").select("id", "reject_reason").collect()
    assert(rej.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("e2", "null_price"), ("e3", "non_positive_price")))
  }

  test("streaming session_window matches batch gaps-and-islands sessionization") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val stream = ms.toDF().toDF("ts", "user_id", "value")
    val q = StreamingSma.sessionCounts(stream, gap = "30 minutes")
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("complete").start()
    try {
      val m = 60_000L
      val data = Seq(
        (new Timestamp(0L), "A", 1.0),
        (new Timestamp(10 * m), "A", 2.0),
        (new Timestamp(50 * m), "A", 4.0),  // 40 min gap > 30 -> new session
        (new Timestamp(65 * m), "A", 8.0),  // 15 min gap -> same session
        (new Timestamp(5 * m), "B", 16.0))
      ms.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("session_stream")
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_s"),
          unix_timestamp(col("session_end")).as("end_s"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "start_s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      val batch = graft.operators.Analytics.sessionizeEvents(
          data.zipWithIndex.map { case ((ts, u, v), i) =>
            (f"e$i%03d", u, ts.getTime / 1000, v)
          }.toDF("event_id", "user_id", "ts_s", "value"),
          gapSeconds = 1800)
        .select("user_id", "session_start_s", "session_end_s", "n_events", "sum_value")
        .orderBy("user_id", "session_start_s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2) + 1800, // end = last + gap
                   r.getLong(3), r.getDouble(4)))
      assert(streamed.toSeq == batch.toSeq,
        s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
      assert(streamed.length == 3, "A split into two sessions, B one")
    } finally q.stop()
  }

  test("session_window in append mode emits a session only after the watermark closes it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val stream = ms.toDF().toDF("ts", "user_id", "value")
    val q = StreamingSma.sessionCounts(stream, gap = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("session_append")
      .outputMode("append").start()
    try {
      val m = 60_000L
      val t0 = 60 * m
      ms.addData((new Timestamp(t0), "A", 1.0), (new Timestamp(t0 + 5 * m), "A", 2.0))
      q.processAllAvailable()
      assert(spark.table("session_append").count() == 0,
        "open session must not emit in append mode")
      // event time far past session end + gap + lateness -> session closes
      ms.addData((new Timestamp(t0 + 300 * m), "B", 4.0))
      q.processAllAvailable()
      val rows = spark.table("session_append")
        .select("user_id", "n_events", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(rows == Seq(("A", 2L, 3.0)), s"closed session emitted exactly once: $rows")
    } finally q.stop()
  }

  test("observer detach removes a sink between micro-batches (K4 detach)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Tick]
    val a = scala.collection.mutable.ArrayBuffer.empty[String]
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    val sinkA: Sinks.Sink = bt => a ++= bt.df.select("id").as[String](implicitly).collect()
    val sinkB: Sinks.Sink = bt => b ++= bt.df.select("id").as[String](implicitly).collect()
    val reg = new Sinks.SinkRegistry
    reg.attach(sinkA).attach(sinkB)
    val q = Sinks.attach(ms.toDS(), reg).start()
    try {
      ms.addData(Tick("e1", "A", 1.0))
      q.processAllAvailable()
      reg.detach(sinkB)
      ms.addData(Tick("e2", "A", 2.0))
      q.processAllAvailable()
      assert(a.sorted.toSeq == Seq("e1", "e2"), "attached sink sees every batch")
      assert(b.toSeq == Seq("e1"), "detached sink stops at the next batch")
    } finally q.stop()
  }

  test("engine lifecycle honors a ProcessingTime trigger and checkpoint (E1-E3)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingEngine
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt-").toString
    val ms = MemoryStream[Tick]
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val cfg = StreamingEngine.EngineConfig(
      triggerInterval = Some("50 milliseconds"),  // financial_engine.py:35 cadence analog
      checkpointDir = Some(ckpt),
      sinks = Sinks.Config(logLevel = "WARN"))    // mute the logging sink
    val q = StreamingEngine.start(ms.toDS(), cfg,
      extraSinks = Seq(b => got.synchronized {
        got ++= b.df.select("id").as[String](implicitly).collect()
      }))
    try {
      ms.addData(ticks(6))
      q.processAllAvailable()
      assert(got.sorted.toSeq == (1 to 6).map(i => f"e$i%03d"),
        "all ticks flow through the triggered query")
      assert(new java.io.File(s"$ckpt/offsets").list().nonEmpty,
        "checkpoint records committed offsets")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join on the same frames") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamJoins
    val msV = MemoryStream[(Long, String, Timestamp, Double)]
    val msC = MemoryStream[(Long, String, Timestamp, Double)]
    val vCols = Seq("user_id", "view_id", "view_ts", "view_value")
    val cCols = Seq("user_id", "click_id", "click_ts", "click_value")
    val joined = StreamJoins.clickViewAttribution(
      msV.toDF().toDF(vCols: _*), msC.toDF().toDF(cCols: _*))
    val q = joined.writeStream.format("memory").queryName("attrib_stream")
      .outputMode("append").start()
    try {
      val m = 60_000L
      // base offset keeps every event time strictly above the initial
      // watermark (epoch 0) — a row AT the initial watermark is dropped
      // as late before it can join
      val t0 = 60 * m
      val views = Seq(
        (1L, "v1", new Timestamp(t0), 1.0),
        (1L, "v2", new Timestamp(t0 + 40 * m), 2.0),
        (2L, "v3", new Timestamp(t0 + 5 * m), 3.0))
      val clicks = Seq(
        (1L, "c1", new Timestamp(t0 + 10 * m), 10.0),  // matches v1 (10m <= 30m)
        (1L, "c2", new Timestamp(t0 + 55 * m), 20.0),  // matches v2 only (55m-0 > 30m)
        (2L, "c3", new Timestamp(t0 + 50 * m), 30.0),  // no view within 30m
        (3L, "c4", new Timestamp(t0 + 1 * m), 40.0))   // user never viewed
      msV.addData(views: _*)
      msC.addData(clicks: _*)
      q.processAllAvailable()
      // advance both watermarks so buffered state can be evicted and
      // any already-possible matches are final
      msV.addData((9L, "vx", new Timestamp(10_000 * m), 0.0))
      msC.addData((9L, "cx", new Timestamp(10_000 * m), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("attrib_stream")
        .filter(col("user_id") < 9)
        .select("click_id", "view_id").orderBy("click_id", "view_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val batch = StreamJoins.clickViewAttribution(
          views.toDF(vCols: _*), clicks.toDF(cCols: _*))
        .select("click_id", "view_id").orderBy("click_id", "view_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch == Seq(("c1", "v1"), ("c2", "v2")))
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched clicks after the watermark closes them") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamJoins
    val msV = MemoryStream[(Long, String, Timestamp, Double)]
    val msC = MemoryStream[(Long, String, Timestamp, Double)]
    val vCols = Seq("user_id", "view_id", "view_ts", "view_value")
    val cCols = Seq("user_id", "click_id", "click_ts", "click_value")
    val joined = StreamJoins.clickViewAttribution(
      msV.toDF().toDF(vCols: _*), msC.toDF().toDF(cCols: _*), joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    try {
      val m = 60_000L
      val t0 = 60 * m
      msV.addData((1L, "v1", new Timestamp(t0), 1.0))
      msC.addData(
        (1L, "c1", new Timestamp(t0 + 10 * m), 10.0),  // matches v1
        (2L, "c2", new Timestamp(t0 + 10 * m), 20.0))  // user never viewed
      q.processAllAvailable()
      // push the watermark far past c2's eligibility window so the
      // engine can prove no matching view will arrive and emit the null row
      msV.addData((9L, "vx", new Timestamp(10_000 * m), 0.0))
      msC.addData((9L, "cx", new Timestamp(10_000 * m), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("attrib_outer")
        .filter(col("user_id") < 9)
        .select("click_id", "view_id").orderBy("click_id")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
      assert(streamed == Seq(("c1", Some("v1")), ("c2", None)),
        s"got $streamed")
    } finally q.stop()
  }

  test("watermarked hourly window aggregates by event time") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val stream = ms.toDF().toDF("ts", "event_type", "value")
    val q = StreamingSma.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try {
      val h = 3600L * 1000
      ms.addData(
        (new Timestamp(h), "view", 1.0),
        (new Timestamp(h + 60_000), "view", 2.0),
        (new Timestamp(h + 120_000), "click", 4.0),
        (new Timestamp(2 * h + 60_000), "view", 8.0))
      q.processAllAvailable()
      val rows = spark.table("hourly_stream")
        .orderBy("bucket_start", "event_type")
        .select("event_type", "n_events", "sum_value").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
        Seq(("click", 1L, 4.0), ("view", 2L, 3.0), ("view", 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming hopping window matches the batch hopping aggregation (x_hopping_window twin)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val stream = ms.toDF().toDF("ts", "event_type", "value")
    // the REAL operator's aggregation (Analytics.hoppingAgg), applied
    // to the stream and to the identical rows in batch — drift in the
    // shipped window spec fails here, a test-local copy would not
    def hopped(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Analytics.hoppingAgg(df)
        .select(unix_timestamp(col("win_start")).as("start_s"),
                col("event_type"), col("n_events"), col("sum_value"))
    val q = hopped(stream)
      .writeStream.format("memory").queryName("hop_stream")
      .outputMode("complete").start()
    try {
      val m = 60_000L
      val data = Seq(
        (new Timestamp(5 * m), "view", 1.0),    // in windows starting -45/-30/-15/0 min
        (new Timestamp(20 * m), "view", 2.0),   // starts -30/-15/0/+15 — overlaps 3 of the above
        (new Timestamp(130 * m), "click", 4.0)) // disjoint hour
      ms.addData(data: _*)
      q.processAllAvailable()
      def normalize(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
      val streamed = normalize(spark.table("hop_stream").collect())
      val batch = normalize(hopped(data.toDF("ts", "event_type", "value")).collect())
      assert(streamed.toSeq == batch.toSeq, s"stream $streamed != batch $batch")
      // each event lands in exactly window/hop = 4 buckets
      assert(streamed.map(_._3).sum == data.length * 4L)
    } finally q.stop()
  }

  test("streaming OHLC bars equal batch bars on identical out-of-order rows") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Double, Long, Timestamp, Long, Long)]
    val cols = Seq("symbol", "price", "volume", "ts", "ts_epoch", "id")
    val stream = ms.toDF().toDF(cols: _*)
    val q = graft.streaming.StreamingOhlc.streamingBars(stream)
      .writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("complete").start()
    try {
      val d = 86_400_000L
      def tick(sym: String, p: Double, v: Long, ms0: Long, id: Long) =
        (sym, p, v, new Timestamp(ms0), ms0 / 1000, id)
      // day 1 for two symbols, out of order WITHIN the batch; then a
      // second micro-batch appends day 2 plus a same-second tie on
      // day 1 ordered only by id
      ms.addData(
        tick("a", 10.0, 5L, d + 7_000, 3),
        tick("a", 12.0, 2L, d + 1_000, 1),
        tick("b", 50.0, 1L, d + 2_000, 2),
        tick("a", 8.0, 4L, d + 3_000, 4))
      ms.addData(
        tick("a", 11.0, 9L, 2 * d + 1_000, 6),
        tick("a", 9.5, 3L, d + 1_000, 0)) // same second as id=1, lower id -> the true open
      q.processAllAvailable()
      val all = Seq(
        tick("a", 10.0, 5L, d + 7_000, 3), tick("a", 12.0, 2L, d + 1_000, 1),
        tick("b", 50.0, 1L, d + 2_000, 2), tick("a", 8.0, 4L, d + 3_000, 4),
        tick("a", 11.0, 9L, 2 * d + 1_000, 6), tick("a", 9.5, 3L, d + 1_000, 0))
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select("symbol", "day", "open_price", "high_price", "low_price",
          "close_price", "bar_volume", "n_ticks")
        .collect().map(_.toSeq).sortBy(_.toString)
      val streamed = norm(spark.table("ohlc_stream"))
      val batch = norm(graft.streaming.StreamingOhlc.bars(all.toDF(cols: _*)))
      assert(streamed.toSeq == batch.toSeq, s"stream != batch:\n$streamed\n$batch")
      // the same-second tie resolved by id: open of (a, day1) is 9.5
      val aday1 = spark.table("ohlc_stream")
        .filter(col("symbol") === "a" && col("n_ticks") === 4).head()
      assert(aday1.getAs[Double]("open_price") == 9.5)
      assert(aday1.getAs[Double]("close_price") == 10.0)
    } finally q.stop()
  }

  test("streaming drawdown state aggregates to the batch per-symbol maxima (in-order splits)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingDrawdown.{DdOut, Tick}
    val ms = MemoryStream[Tick]
    val q = graft.streaming.StreamingDrawdown.withDrawdown(ms.toDS())
      .writeStream.format("memory").queryName("dd_stream")
      .outputMode("append").start()
    try {
      // the real corpus quote stream in global tick order, two batches
      val ticks = graft.operators.Finance.quotes(spark, sfDir)
        .orderBy("ts_epoch", "id")
        .collect().map(r => Tick(r.getAs[String]("symbol"), r.getAs[Long]("id"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("price")))
      val (b1, b2) = ticks.splitAt(ticks.length / 2)
      ms.addData(b1.toIndexedSeq); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("dd_stream").as[DdOut].collect()
        .groupBy(_.symbol).map { case (s, rows) =>
          s -> (BigDecimal(rows.map(_.dd).max)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
                rows.length.toLong)
        }
      val batch = graft.operators.Finance.maxDrawdown(spark, sfDir).collect()
        .map(r => r.getAs[String]("symbol") ->
          (r.getAs[Double]("max_drawdown"), r.getAs[Long]("n_ticks"))).toMap
      assert(streamed === batch, s"streamed drawdowns diverge from batch")
    } finally q.stop()
  }

  test("OHLC twin and batch bars equal the two-row_number reference on the corpus") {
    val quotes = graft.operators.Finance.quotes(spark, sfDir)
    val viaAgg = graft.streaming.StreamingOhlc.bars(quotes)
      .orderBy("symbol", "day").collect().map(_.toSeq)
    val batch = graft.operators.Finance.ohlcBars(spark, sfDir).collect().map(_.toSeq)
    val viaRank = ReplacedForms.ohlcBars(quotes).collect().map(_.toSeq)
    assert(viaAgg.toSeq == viaRank.toSeq)
    assert(batch.toSeq == viaRank.toSeq)
  }

  test("streaming VWAP equals the batch VWAP on the corpus, order-free under splits") {
    // formulation parity on the real corpus
    val viaWindow = graft.streaming.StreamingOhlc.vwapBars(
        graft.operators.Finance.quotes(spark, sfDir))
      .orderBy("symbol", "day").collect().map(_.toSeq)
    val batch = graft.operators.Finance.vwap(spark, sfDir)
      .collect().map(_.toSeq)
    assert(viaWindow.toSeq == batch.toSeq)
    // half-way ties at the 7th decimal round HALF_UP: pv 1064.37 /
    // volume 96 is exactly 11.0871875 and pv 17140.53 / volume 160 is
    // exactly 107.1283125 (double divisions give 11.087187499999999
    // and 107.12831249999999 and would round both down)
    val tieDir = java.nio.file.Files.createTempDirectory("vwap-tie").toString
    Seq((1L, 2L, 10.95, 95L, "2024-01-19 10:00:00"),
        (2L, 2L, 24.12, 1L, "2024-01-19 11:00:00"),
        (3L, 214L, 107.13, 100L, "2024-01-16 10:00:00"),
        (4L, 214L, 107.1255, 60L, "2024-01-16 11:00:00"))
      .toDF("event_id", "user_id", "value", "k", "ts")
      .select(col("event_id"), to_timestamp(col("ts")).as("ts"), col("user_id"),
        lit("tick").as("event_type"), col("value"),
        to_json(struct(col("k"))).as("props"))
      .write.parquet(s"$tieDir/events.parquet")
    val tieQuotes = graft.operators.Finance.quotes(spark, tieDir)
    assert(graft.operators.Finance.vwap(spark, tieDir).select("vwap").as[Double].collect()
      .toSeq == Seq(11.087188, 107.128313))
    assert(graft.streaming.StreamingOhlc.vwapBars(tieQuotes).orderBy("symbol")
      .select("vwap").as[Double].collect().toSeq == Seq(11.087188, 107.128313))
    // streamed == batch on identical rows, fed in REVERSE order across
    // two micro-batches (VWAP state is order-free)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Double, Long, Timestamp, Long, Long)]
    val cols = Seq("symbol", "price", "volume", "ts", "ts_epoch", "id")
    val q = graft.streaming.StreamingOhlc.streamingVwap(ms.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("vwap_stream")
      .outputMode("complete").start()
    try {
      val d = 86_400_000L
      def tick(sym: String, p: Double, v: Long, ms0: Long, id: Long) =
        (sym, p, v, new Timestamp(ms0), ms0 / 1000, id)
      val all = Seq(
        tick("a", 10.0, 5L, d + 7_000, 3), tick("a", 12.0, 2L, d + 1_000, 1),
        tick("b", 50.0, 1L, d + 2_000, 2), tick("a", 11.0, 9L, 2 * d + 1_000, 6))
      ms.addData(all.reverse.take(2).toIndexedSeq); q.processAllAvailable()
      ms.addData(all.reverse.drop(2).toIndexedSeq); q.processAllAvailable()
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .select("symbol", "day", "vwap", "day_volume", "n_ticks")
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(norm(spark.table("vwap_stream")).toSeq ==
        norm(graft.streaming.StreamingOhlc.vwapBars(all.toDF(cols: _*))).toSeq)
    } finally q.stop()
  }

  test("streamed Welch partials and chi-square cells reproduce the batch tests") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "stats-").toString
    // Welch: out-of-order event splits — decimal partials are
    // split-independent by algebra
    val ms = MemoryStream[(Long, String, Double)]
    val q = ms.toDF().toDF("event_id", "event_type", "value").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(graft.streaming.StreamingStats.welchSink(s"$base/welch"))
      .start()
    val ev = Tables.events(spark, sfDir).select("event_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val (hi, lo) = ev.partition(_._1 % 3 == 0)
    try {
      Seq(hi, lo.take(200), lo.drop(200)).foreach { c =>
        ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val want = rows(graft.operators.Stats.welchT(spark, sfDir))
    assert(want.nonEmpty)
    assert(rows(graft.streaming.StreamingStats.welchPairs(spark, s"$base/welch")) == want)
    // replayed micro-batch is idempotent
    graft.streaming.StreamingStats.welchSink(s"$base/welch")(
      lo.drop(200).toDF("event_id", "event_type", "value"), 2L)
    assert(rows(graft.streaming.StreamingStats.welchPairs(spark, s"$base/welch")) == want)
    // chi-square: order rows in two shuffled splits
    val ms2 = MemoryStream[(String, String)]
    val q2 = ms2.toDF().toDF("o_orderpriority", "o_orderstatus").writeStream
      .option("checkpointLocation", s"$base/ckpt2")
      .foreachBatch(graft.streaming.StreamingStats.chiSink(s"$base/cells"))
      .start()
    val ords = Tables.orders(spark, sfDir).select("o_orderpriority", "o_orderstatus")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (a, b) = ords.splitAt(ords.length / 3)
    try {
      Seq(b, a).foreach { c => ms2.addData(c); q2.processAllAvailable() }
    } finally q2.stop()
    assert(rows(graft.streaming.StreamingStats.chiSquare(spark, s"$base/cells")) ==
      rows(graft.operators.Stats.chiSquare(spark, sfDir)))
  }

  test("streamed Spearman/Kruskal/Jarque-Bera/Ljung-Box folds reproduce the batch tests") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "stats4-").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val S = graft.streaming.StreamingStats

    // ticks feed Spearman (joint cell store) and the shared daily-bar
    // store (Jarque-Bera + daily Ljung-Box) — OUT-OF-ORDER splits
    val ticks = graft.operators.Finance.quotes(spark, sfDir)
      .select("symbol", "price", "volume", "ts")
      .collect().map(r => (r.getString(0), r.getDouble(1),
        if (r.isNullAt(2)) Option.empty[Long] else Some(r.getLong(2)),
        r.getTimestamp(3))).toSeq
    val (tHi, tLo) = ticks.zipWithIndex.partition(_._2 % 3 == 0)
    val tickSplits = Seq(tLo.map(_._1), tHi.map(_._1).take(100),
      tHi.map(_._1).drop(100))
    val ms = MemoryStream[(String, Double, Option[Long], Timestamp)]
    val q = ms.toDF().toDF("symbol", "price", "volume", "ts").writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        S.spearmanSink(s"$base/cells")(b, id)
        S.dailyBarSink(s"$base/bars")(b, id)
      }.start()
    try {
      tickSplits.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val wantRho = rows(graft.operators.Stats.spearman(spark, sfDir))
    assert(wantRho.nonEmpty)
    assert(rows(S.spearman(spark, s"$base/cells")) == wantRho)
    val wantJb = rows(graft.operators.Finance.jarqueBera(spark, sfDir))
    assert(wantJb.nonEmpty)
    assert(rows(S.jarqueBera(spark, s"$base/bars")) == wantJb)
    val wantLb = rows(graft.operators.Finance.ljungBoxDaily(spark, sfDir))
    assert(wantLb.nonEmpty)
    assert(rows(S.ljungBoxDaily(spark, s"$base/bars")) == wantLb)
    // replayed micro-batch is idempotent for both stores
    S.spearmanSink(s"$base/cells")(
      tickSplits.last.toDF("symbol", "price", "volume", "ts"), 2L)
    S.dailyBarSink(s"$base/bars")(
      tickSplits.last.toDF("symbol", "price", "volume", "ts"), 2L)
    assert(rows(S.spearman(spark, s"$base/cells")) == wantRho)
    assert(rows(S.jarqueBera(spark, s"$base/bars")) == wantJb)
    assert(rows(S.ljungBoxDaily(spark, s"$base/bars")) == wantLb)

    // events feed Kruskal-Wallis — shuffled splits + replay
    val ev = Tables.events(spark, sfDir).select("event_type", "value")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val (eA, eB) = ev.partition(_.hashCode() % 2 == 0)
    val ms2 = MemoryStream[(String, Double)]
    val q2 = ms2.toDF().toDF("event_type", "value").writeStream
      .option("checkpointLocation", s"$base/ckpt2")
      .foreachBatch(S.kruskalSink(s"$base/kw"))
      .start()
    try {
      Seq(eB, eA).foreach { c => ms2.addData(c); q2.processAllAvailable() }
    } finally q2.stop()
    val wantH = rows(graft.operators.Stats.kruskalWallis(spark, sfDir))
    assert(wantH.nonEmpty)
    assert(rows(S.kruskalWallis(spark, s"$base/kw")) == wantH)
    S.kruskalSink(s"$base/kw")(eA.toDF("event_type", "value"), 1L)
    assert(rows(S.kruskalWallis(spark, s"$base/kw")) == wantH)
  }

  test("streamed VPIN tick-store fold reproduces the batch vpin under out-of-order splits + replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "vpin-").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val S = graft.streaming.StreamingVpin
    // the store keys ticks by their (symbol, ts_epoch, id) total-order
    // identity, so the bucket cumsum is recomputed exactly at read
    val ticks = graft.operators.Finance.quotes(spark, sfDir)
      .select("symbol", "ts_epoch", "id", "price", "volume")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) Option.empty[Long] else Some(r.getLong(4)))).toSeq
    // out-of-order: later ticks arrive FIRST, then two overlapping-era
    // chunks — bucket boundaries cross every split
    val (tHi, tLo) = ticks.partition(_._3 % 2 == 0)
    val splits = Seq(tHi.reverse, tLo.take(50), tLo.drop(50))
    val ms = MemoryStream[(String, Long, Long, Double, Option[Long])]
    val q = ms.toDF().toDF("symbol", "ts_epoch", "id", "price", "volume")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(S.tickSink(s"$base/ticks"))
      .start()
    try {
      splits.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val want = rows(graft.operators.Finance.vpin(spark, sfDir))
    assert(want.nonEmpty)
    assert(rows(S.vpin(spark, s"$base/ticks")) == want)
    // replaying a micro-batch into its own partition is idempotent
    S.tickSink(s"$base/ticks")(
      splits.last.toDF("symbol", "ts_epoch", "id", "price", "volume"), 2L)
    assert(rows(S.vpin(spark, s"$base/ticks")) == want)
  }

  test("streamed Kendall daily-bar fold reproduces the batch tau-b under out-of-order splits + replay") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "kendall-").toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val S = graft.streaming.StreamingStats
    // full quote shape: the sink needs the tick total order (ts_epoch,
    // id) to fold the daily close exactly
    val ticks = graft.operators.Finance.quotes(spark, sfDir)
      .select("id", "symbol", "price", "volume", "ts_epoch", "ts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        if (r.isNullAt(3)) Option.empty[Long] else Some(r.getLong(3)),
        r.getLong(4), r.getTimestamp(5))).toSeq
    // out-of-order: later ticks (including closes) arrive FIRST
    val (tHi, tLo) = ticks.partition(_._1 % 2 == 0)
    val splits = Seq(tHi.reverse, tLo.take(50), tLo.drop(50))
    val ms = MemoryStream[(Long, String, Double, Option[Long], Long, Timestamp)]
    val q = ms.toDF().toDF("id", "symbol", "price", "volume", "ts_epoch", "ts")
      .writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch(S.kendallDailySink(s"$base/bars"))
      .start()
    try {
      splits.foreach { c => ms.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val want = rows(graft.operators.Stats.kendallTau(spark, sfDir))
    assert(want.nonEmpty)
    assert(rows(S.kendallTau(spark, s"$base/bars")) == want)
    // replaying a micro-batch into its own partition is idempotent
    S.kendallDailySink(s"$base/bars")(
      splits.last.toDF("id", "symbol", "price", "volume", "ts_epoch", "ts"), 2L)
    assert(rows(S.kendallTau(spark, s"$base/bars")) == want)
  }

  test("streamed risk state equals batch omega and pain sums at each symbol's last bar") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // closed daily bars from the batch OHLC stage, cl in cents
    val bars = graft.operators.Finance.ohlcBars(spark, sfDir)
      .select(col("symbol"), col("day"),
        round(col("close_price") * 100).cast("long").as("cl"))
      .collect().map(r => graft.streaming.StreamingRisk.Bar(
        r.getString(0), r.getDate(1), r.getLong(2))).toSeq
      .sortBy(b => (b.symbol, b.day.getTime))
    val ms = MemoryStream[graft.streaming.StreamingRisk.Bar]
    val q = graft.streaming.StreamingRisk.withRisk(ms.toDS())
      .writeStream.format("memory").queryName("risk_stream")
      .outputMode("append").start()
    // day-ordered feeding split mid-stream (the documented contract)
    val (a, b) = bars.splitAt(bars.length / 2)
    try {
      ms.addData(a); q.processAllAvailable()
      ms.addData(b); q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("risk_stream")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("symbol")
          .orderBy(col("day").desc)))
      .filter(col("rn") === 1)
    // omega parity (batch filters n_days >= 10 and losses > 0)
    val omega = graft.operators.Finance.omegaRatio(spark, sfDir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("omega")).toMap
    assert(omega.nonEmpty)
    val got = last.collect().map(r => r.getAs[String]("symbol") ->
      (r.getAs[Long]("n_moves"), r.getAs[Long]("gains"), r.getAs[Long]("losses"),
       r.getAs[Long]("n_bars"), r.getAs[Long]("pain_u_sum"))).toMap
    omega.foreach { case (sym, om) =>
      val (_, g, l, _, _) = got(sym)
      assert(l > 0)
      assert(math.rint(g.toDouble / l.toDouble * 1e6) / 1e6 == om,
        s"$sym omega: stream $g/$l vs batch $om")
    }
    // pain parity (batch filters n_days >= 5)
    val pain = graft.operators.Finance.painIndex(spark, sfDir).collect()
      .map(r => r.getAs[String]("symbol") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("pain_index"))).toMap
    assert(pain.nonEmpty)
    pain.foreach { case (sym, (nd, pi)) =>
      val (_, _, _, nBars, ddSum) = got(sym)
      assert(nBars == nd, s"$sym bars: $nBars vs $nd")
      val streamed = BigDecimal(ddSum.toDouble / nd.toDouble / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(streamed == pi, s"$sym pain: $streamed vs $pi")
    }
  }
}
