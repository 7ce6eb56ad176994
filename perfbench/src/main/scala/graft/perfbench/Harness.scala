package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Minimal JSON rendering for the raw measurement file (maps, sequences,
  * strings and numbers only). */
object Json {
  def render(v: Any): String = v match {
    case null | None      => "null"
    case Some(x)          => render(x)
    case s: String        => quote(s)
    case b: Boolean       => b.toString
    case d: Double        => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float         => render(f.toDouble)
    case n: Int           => n.toString
    case n: Long          => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_]      => render(a.toSeq)
    case s: Iterable[_]   => s.map(render).mkString("[", ",", "]")
    case other            => quote(other.toString)
  }

  private def quote(s: String): String = s.map {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(StandardCharsets.UTF_8))
}

/** Parsed command line of one harness invocation. */
final case class Args(workload: String, seed: Long, seconds: Double, mode: String,
                      cores: Int, work: String, out: String, setups: Int,
                      params: Map[String, String]) {
  private def param(k: String): String = params.getOrElse(k, sys.error(s"missing --param $k"))
  def int(k: String): Int = param(k).toInt
  def dbl(k: String): Double = param(k).toDouble
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toSeq
    val m = kv.filterNot(_._1 == "param").toMap
    val params = kv.filter(_._1 == "param").map { case (_, p) =>
      val i = p.indexOf('='); p.take(i) -> p.drop(i + 1) }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("mode", "measure"), m.getOrElse("cores", "4").toInt,
      need("work"), need("out"), m.getOrElse("setups", "3").toInt, params)
  }
}

/** Monotonic wall-clock helpers. */
object Clock {
  def ms(): Double = System.nanoTime() / 1e6
  def timed[A](body: => A): (A, Double) = { val t0 = ms(); val a = body; (a, ms() - t0) }
}

/** Local session in the benchmark's own working directory. */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Execute a DataFrame fully without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Attempted / failed operation counts and named correctness checks. */
final class Ops {
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def count(ok: Boolean): Unit = { attempted.incrementAndGet(); if (!ok) failed.incrementAndGet() }

  def check(name: String, ok: Boolean, detail: String): Unit = synchronized {
    count(ok)
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  /** One query action: failures are counted, not thrown. */
  def action[A](body: => A): Option[A] =
    try { val a = body; count(ok = true); Some(a) }
    catch { case scala.util.control.NonFatal(e) =>
      count(ok = false)
      System.err.println(s"[perfbench] action failed: $e")
      None
    }

  def json: Map[String, Any] =
    Map("attempted" -> attempted.get, "failed" -> failed.get, "checks" -> checks.toSeq)
}

/** In-memory spans: name, start, end, parent span and run/batch id.
  * Disabled tracers record nothing and wrap nothing. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, run: String,
                        startMs: Double, endMs: Double)
  final case class Open(id: Int, parent: Int, name: String, run: String, startMs: Double)
}

final class Trace(val enabled: Boolean) {
  import Trace._
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String, run: String)(body: => A): A =
    if (!enabled) body
    else {
      val open = begin(name, run)
      try body finally end(open)
    }

  def begin(name: String, run: String): Open = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    Open(id, parent, name, run, Clock.ms())
  }

  def end(o: Open): Unit = {
    spans.add(Span(o.id, o.parent, o.name, o.run, o.startMs, Clock.ms()))
    stack.set(stack.get.dropWhile(_ != o.id).drop(1))
  }

  def write(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map(s => Json.render(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Outside-in Spark collector: jobs, tasks, executor run time, shuffle
  * writes, spill, GC and peak execution memory, plus the micro-batch
  * each job belongs to (the `streaming.sql.batchId` job property). */
final class SparkStats extends SparkListener {
  private val markerKey = "perfbench.marker"
  private val batchKey = "streaming.sql.batchId"
  private val queryKey = "sql.streaming.queryId"
  val jobs = new AtomicLong(0)
  val tasks = new AtomicLong(0)
  val runTimeMs = new AtomicLong(0)
  val shuffleWriteB = new AtomicLong(0)
  val spillB = new AtomicLong(0)
  val gcMs = new AtomicLong(0)
  val peakExecMemB = new AtomicLong(0)
  /** (query id, batch id) -> jobs started by that micro-batch. */
  val jobsPerBatch = new ConcurrentHashMap[(String, Long), AtomicLong]()
  private val markersSeen = ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val marker = props.flatMap(p => Option(p.getProperty(markerKey)))
    marker.foreach(markersSeen.add)
    if (marker.isEmpty) {
      jobs.incrementAndGet()
      for (p <- props; b <- Option(p.getProperty(batchKey)); q <- Option(p.getProperty(queryKey)))
        jobsPerBatch.computeIfAbsent((q, b.toLong), _ => new AtomicLong(0)).incrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runTimeMs.addAndGet(m.executorRunTime)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      peakExecMemB.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
  }

  /** Wait until every event posted before now has reached this
    * listener: run one tiny marker job and wait for its start event.
    * Marker jobs are excluded from the counts. */
  def sync(spark: SparkSession): Unit = {
    val id = java.util.UUID.randomUUID().toString
    val sc = spark.sparkContext
    val old = sc.getLocalProperty(markerKey)
    sc.setLocalProperty(markerKey, id)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerKey, old)
    val deadline = System.currentTimeMillis() + 30000
    while (!markersSeen.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "run_time_ms" -> runTimeMs.get,
    "shuffle_write_b" -> shuffleWriteB.get, "spill_b" -> spillB.get, "gc_ms" -> gcMs.get)

  /** Counter deltas between two snapshots plus the peak-memory
    * high-water mark (reset by `resetPeak`). */
  def window(before: Map[String, Long], wallMs: Double, cores: Int): Map[String, Any] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before(k)) } ++ Map(
      "peak_exec_mem_b" -> peakExecMemB.get, "wall_ms" -> wallMs, "cores" -> cores)
  }

  def resetPeak(): Unit = peakExecMemB.set(0)
}

/** Outside-in streaming collector: every `StreamingQueryProgress`
  * (per-batch durations, state-operator metrics and source offsets).
  * Reading progress adds no Spark job to any micro-batch. */
final class BatchLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = all.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)

  /** Block until the listener has seen progress for `batchId` of the run. */
  def await(runId: java.util.UUID, batchId: Long): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!of(runId).exists(_.batchId >= batchId) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }
}

object BatchLog {
  /** One progress record as raw JSON: wall-clock trigger start (epoch
    * ms), durations, the MemoryStream offsets it covered and its state
    * operator metrics. */
  def json(p: StreamingQueryProgress): Map[String, Any] = {
    val src = p.sources.headOption
    val st = p.stateOperators.headOption
    Map(
      "batch" -> p.batchId,
      "rows" -> p.numInputRows,
      "trigger_start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "start_offset" -> src.flatMap(s => Option(s.startOffset)).map(_.trim.toLong).getOrElse(-1L),
      "end_offset" -> src.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L),
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
      "state_mem_b" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
  }
}

/** Process high-water resident set size (`VmHWM`), in bytes. */
object Rss {
  def peakBytes(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024L).getOrElse(0L)
}
