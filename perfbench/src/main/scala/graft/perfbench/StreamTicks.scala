package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.RefPipeline
import graft.streaming.{Sinks, StreamingEngine}
import graft.streaming.StreamingSma.Tick

/** Seeded tick source.
  *
  *  - symbols: Zipf(`zipfS`) ranks over `keySpace` keys, mapped to symbol
  *    ids through a seeded permutation, so hot keys differ per seed;
  *  - price: per-symbol mean-reverting random walk around a per-symbol
  *    mean drawn from [95, 106], clamped to [50, 150], 2 decimals; the
  *    mean range bounds the share of 5-tick SMAs above the 108.0 alert
  *    threshold;
  *  - `invalidShare` of ticks carry a zero or negative price (the typed
  *    `Tick` has no null price), which `clean` must drop;
  *  - ids are zero-padded and increase in arrival order (the
  *    `StreamingSma.Tick` contract); each chunk is shuffled internally,
  *    never across chunks.
  */
final class TickGen(seed: Long, keySpace: Int, zipfS: Double, invalidShare: Double) {
  private val rnd = new SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val c = new Array[Double](keySpace)
    var acc = 0.0
    var r = 0
    while (r < keySpace) { acc += 1.0 / math.pow(r + 1.0, zipfS); c(r) = acc; r += 1 }
    r = 0
    while (r < keySpace) { c(r) /= acc; r += 1 }
    c
  }
  private val perm: Array[Int] = {
    val p = Array.range(0, keySpace)
    var i = keySpace - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }
  private val mean = new Array[Double](keySpace)
  private val last = new Array[Double](keySpace)
  private var seq = 0L

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  def next(): Tick = {
    val rank = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
      case i if i >= 0 => i
      case i => math.min(-i - 1, keySpace - 1)
    }
    val k = perm(rank)
    if (mean(k) == 0.0) { mean(k) = 95.0 + 11.0 * rnd.nextDouble(); last(k) = mean(k) }
    seq += 1
    val u = rnd.nextDouble()
    val price =
      if (u < invalidShare / 2) 0.0
      else if (u < invalidShare) -round2(1.0 + 99.0 * rnd.nextDouble())
      else {
        val p = last(k) + 0.2 * (mean(k) - last(k)) + 1.5 * rnd.nextGaussian()
        last(k) = math.max(50.0, math.min(150.0, p))
        round2(last(k))
      }
    Tick(f"t$seq%012d", f"s$k%07d", price)
  }

  def chunk(n: Int): Array[Tick] = {
    val a = Array.fill(n)(next())
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
}

/** stream-ticks: ticks pushed into a MemoryStream, run through
  * `StreamingEngine.process` and fanned out by `Sinks.attach` to the
  * logging and alerts sinks. Two phases share one checkpoint (and so one
  * state store); the query restarts between them with another trigger:
  *  - burst: closed loop under the default trigger (the next batch starts
  *    as soon as the last one ends) — a chunk is added whenever fewer than
  *    `burstAhead` chunks are queued behind the running batch, so a
  *    backlog is always present; it measures throughput;
  *  - paced: open loop under a fixed `Trigger.ProcessingTime(triggerMs)`
  *    — `rate` ticks/s in one chunk every `chunkMs` at its scheduled
  *    time, whatever the engine does; it measures latency.
  */
object StreamTicks extends Workload {

  private final case class Cfg(keys: Int, zipf: Double, invalid: Double,
                               burstChunk: Int, burstAhead: Int, burstShare: Double,
                               rate: Int, chunkMs: Int, triggerMs: Int, warmMs: Int)

  private def cfg(a: Args) = Cfg(
    keys = a.int("keys"), zipf = a.dbl("zipf"), invalid = a.dbl("invalid"),
    burstChunk = a.int("burst_chunk"), burstAhead = a.int("burst_ahead"),
    burstShare = a.dbl("burst_share"), rate = a.int("rate"), chunkMs = a.int("chunk_ms"),
    triggerMs = a.int("trigger_ms"), warmMs = a.int("warm_ms"))

  /** Sink-side observations, keyed by "<query id>/<batch id>". */
  private final class Delivered {
    val logged = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Double, Double)]()
    val alertsPerBatch = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val overflows = new AtomicLong(0)
    val sinkFailures = new AtomicLong(0)
    /** Chunks added so far, and how many of them had been added when the
      * running batch reached its sinks (an upper bound on what it holds). */
    val chunksAdded = new AtomicInteger(0)
    val chunksTaken = new AtomicInteger(0)
  }

  private val LogLine = """\[graft\] batch with (\d+) events""".r

  /** "<query id>/<batch id>" of the micro-batch running on this thread. */
  private def batchKey(spark: SparkSession): String = {
    val sc = spark.sparkContext
    s"${sc.getLocalProperty("sql.streaming.queryId")}/${sc.getLocalProperty("streaming.sql.batchId")}"
  }

  /** The program's logging and alerts sinks, wrapped to count failures
    * (the fan-out swallows them) and, when tracing, to time each closure,
    * behind a marker that records which chunks the batch can hold.
    * The wrappers run no Spark job. The first sink also pays for
    * materializing the persisted micro-batch. */
  private def sinks(c: Ctx, d: Delivered): Seq[Sinks.Sink] = {
    val conf = Sinks.Config()
    val add: java.util.function.BiFunction[Long, Long, Long] = (a, b) => a + b
    val logging = Sinks.logging(conf, log = {
      case LogLine(n) => d.logged.merge(batchKey(c.spark), n.toLong, add)
      case other => System.err.println(s"[perfbench] unexpected log line: $other")
    })
    val alerts = Sinks.alerts(conf, handler = (rows: Array[Row]) => {
      rows.foreach(r => d.alerts.add((r.getAs[String]("id"), r.getAs[String]("symbol"),
        r.getAs[Double]("price"), r.getAs[Double]("moving_average"))))
      d.alertsPerBatch.merge(batchKey(c.spark), rows.length.toLong, add)
    }, onOverflow = _ => d.overflows.incrementAndGet())
    def wrap(name: String, s: Sinks.Sink): Sinks.Sink = df =>
      c.trace.span(name, batchKey(c.spark)) {
        try s(df)
        catch { case scala.util.control.NonFatal(e) => d.sinkFailures.incrementAndGet(); throw e }
      }
    val taken: Sinks.Sink = _ => d.chunksTaken.set(d.chunksAdded.get)
    val body = Seq(taken, wrap("sinks.logging", logging), wrap("sinks.alerts", alerts))
    if (!c.trace.enabled) body
    else {
      // marker sinks (no Spark action) open and close the fan-out span
      val open = new ThreadLocal[Trace.Open]
      val first: Sinks.Sink = _ => open.set(c.trace.begin("sinks.fanout", batchKey(c.spark)))
      val last: Sinks.Sink = _ => Option(open.get).foreach(c.trace.end)
      first +: body :+ last
    }
  }

  private def start(c: Ctx, ms: MemoryStream[Tick], d: Delivered, ckpt: String,
                    trigger: Trigger): StreamingQuery = {
    val out = c.trace.span("streaming.process", "plan")(
      StreamingEngine.process(ms.toDS(), StreamingEngine.EngineConfig()))
    val w = c.trace.span("sinks.attach", "plan")(Sinks.attach(out, sinks(c, d)))
    w.trigger(trigger).option("checkpointLocation", ckpt).start()
  }

  /** Let every batch of the run end, stop it and wait until the listener
    * has its last progress. */
  private def drainAndStop(c: Ctx, q: StreamingQuery): Unit = {
    if (q.isActive) q.processAllAvailable()
    val lastId = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    q.stop()
    c.batches.await(q.runId, lastId)
  }

  private def committedOffset(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption).flatMap(s => Option(s.endOffset))
      .map(_.trim.toLong).getOrElse(-1L)

  /** Build the tick source (key distribution and permutation); the query
    * starts and warms up inside `measure`, before its window. */
  def setup(spark: SparkSession, a: Args): Unit = {
    val k = cfg(a)
    new TickGen(a.seed, k.keys, k.zipf, k.invalid).chunk(k.burstChunk)
  }

  def measure(c: Ctx): Map[String, Any] = {
    val k = cfg(c.args)
    val spark = c.spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gen = new TickGen(c.args.seed, k.keys, k.zipf, k.invalid)
    val d = new Delivered
    val ms = MemoryStream[Tick](c.args.cores)
    val sent = mutable.ArrayBuffer.empty[Tick]
    // chunk i is MemoryStream offset i
    val chunks = mutable.ArrayBuffer.empty[Map[String, Any]]
    val cumRows = mutable.ArrayBuffer(0L)
    val epoch0 = System.currentTimeMillis().toDouble
    val nano0 = Clock.ms()
    def epochNow(): Double = epoch0 + (Clock.ms() - nano0)
    def add(ticks: Array[Tick], schedMs: Double, phase: String): Unit = {
      // counted first: a batch reaching its sinks may over-count what it
      // holds (one more chunk gets queued), never under-count it
      d.chunksAdded.incrementAndGet()
      c.trace.span("memory_stream.add_data", s"chunk-${chunks.size}")(ms.addData(ticks.toSeq))
      chunks += Map("offset" -> chunks.size, "phase" -> phase, "sched_ms" -> schedMs,
        "added_ms" -> epochNow(), "rows" -> ticks.length)
      cumRows += cumRows.last + ticks.length
      sent ++= ticks
    }
    val ckpt = s"${c.args.work}/stream/ckpt-${java.util.UUID.randomUUID()}"
    val burst = start(c, ms, d, ckpt, Trigger.ProcessingTime(0L))
    // query start-up runs before the measured window
    add(gen.chunk(k.burstChunk), epochNow(), "warm")
    burst.processAllAvailable()
    // closed loop: at least `burstAhead` chunks queued behind the running
    // batch; the next chunk is generated while the engine works
    var next = gen.chunk(k.burstChunk)
    def closedLoop(untilMs: Double, phase: String): Unit =
      while (Clock.ms() < untilMs && burst.isActive) {
        if (d.chunksAdded.get - d.chunksTaken.get < k.burstAhead) {
          add(next, epochNow(), phase)
          next = gen.chunk(k.burstChunk)
        } else Thread.sleep(1)
      }
    // so does the JIT warm-up
    closedLoop(Clock.ms() + k.warmMs, "warm")
    val before = c.stats.snapshot()
    c.stats.resetPeak()
    val t0 = Clock.ms()
    val windowStartMs = epochNow()
    val seconds = c.args.seconds
    val burstMs = if (c.throughputOnly) seconds * 1000 else seconds * 1000 * k.burstShare
    closedLoop(t0 + burstMs, "burst")
    drainAndStop(c, burst)
    val runs = mutable.ArrayBuffer(burst)
    var backlogEnd = 0L
    if (!c.throughputOnly) {
      // restart on the same checkpoint under the fixed trigger; its first
      // batch (query start) runs before the paced phase
      val paced = start(c, ms, d, ckpt, Trigger.ProcessingTime(k.triggerMs.toLong))
      runs += paced
      val perChunk = math.max(1, (k.rate.toLong * k.chunkMs / 1000).toInt)
      add(gen.chunk(perChunk), epochNow(), "warm")
      paced.processAllAvailable()
      // open loop: one chunk every chunkMs at its scheduled time
      val startMs = Clock.ms()
      val startEpoch = epochNow()
      val pacedMs = seconds * 1000 - burstMs
      var i = 0
      while (i * k.chunkMs < pacedMs && paced.isActive) {
        val due = startMs + i * k.chunkMs
        var now = Clock.ms()
        while (now < due) { Thread.sleep(math.max(0L, (due - now).toLong)); now = Clock.ms() }
        add(gen.chunk(perChunk), startEpoch + i * k.chunkMs, "paced")
        i += 1
      }
      backlogEnd = cumRows.last - cumRows((committedOffset(paced) + 1).toInt)
      drainAndStop(c, paced)
    }
    val wallMs = Clock.ms() - t0
    c.stats.sync(spark)
    val window = c.stats.window(before, wallMs, c.args.cores)
    // both runs share the checkpoint, hence the query id and batch ids
    val queryId = burst.id.toString
    val progress = runs.toSeq.flatMap(r => c.batches.of(r.runId))

    val batches = progress.map { p =>
      BatchLog.json(p) ++ Map(
        "jobs" -> Option(c.stats.jobsPerBatch.get((queryId, p.batchId))).map(_.get).getOrElse(0L),
        "alerts" -> d.alertsPerBatch.getOrDefault(s"$queryId/${p.batchId}", 0L))
    }
    // every micro-batch is an operation; a failed sink fails its batch
    batches.foreach(_ => c.ops.count(ok = true))
    (0L until d.sinkFailures.get).foreach(_ => c.ops.count(ok = false))
    val errors = runs.flatMap(_.exception).map(_.toString)
    c.ops.check("query_active", errors.isEmpty, errors.headOption.getOrElse("ok"))
    c.ops.check("alert_overflow", d.overflows.get == 0, s"${d.overflows.get} overflowing batches")
    check(c, sent.toSeq, d)

    Map(
      "params" -> Map("rate" -> k.rate, "trigger_ms" -> k.triggerMs, "chunk_ms" -> k.chunkMs,
        "burst_chunk" -> k.burstChunk, "keys" -> k.keys, "zipf" -> k.zipf),
      "query" -> queryId,
      "chunks" -> chunks.toSeq,
      "batches" -> batches,
      "backlog_end_rows" -> backlogEnd,
      "window_start_ms" -> windowStartMs,
      "spark" -> window)
  }

  /** Delivered alerts must equal the batch recomputation over the tick
    * log; logged counts must add up to the valid ticks sent. */
  private def check(c: Ctx, sent: Seq[Tick], d: Delivered): Unit = {
    val spark = c.spark
    import spark.implicits._
    val valid = sent.count(_.price > 0)
    val logged = d.logged.values.asScala.map(_.longValue).sum
    c.ops.check("logged_rows", logged == valid, s"logged $logged of $valid valid ticks")
    val log: DataFrame = sent.toDF().withColumn("volume", lit(0L))
    val expected = RefPipeline.alerts(
        RefPipeline.movingAverage(RefPipeline.clean(log), n = 5), threshold = 108.0)
      .select("id", "symbol", "price", "moving_average").as[(String, String, Double, Double)]
      .collect().sortBy(_._1).toSeq
    val got = d.alerts.asScala.toSeq.sortBy(_._1)
    val diff = got.diff(expected).size + expected.diff(got).size
    c.ops.check("alerts_vs_batch", diff == 0 && expected.nonEmpty,
      s"${got.size} delivered, ${expected.size} expected, $diff differ")
  }
}
