package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured pass sees: the session, the arguments, the
  * operation counts, the outside-in collectors and the tracer. */
final case class Ctx(spark: SparkSession, args: Args, ops: Ops, stats: SparkStats,
                     batches: BatchLog, trace: Trace, throughputOnly: Boolean = false)

trait Workload {
  /** Generate the seeded inputs and warm up; timed as set-up. */
  def setup(spark: SparkSession, a: Args): Unit
  /** One measured pass of `args.seconds`; returns its raw samples. */
  def measure(c: Ctx): Map[String, Any]
  /** Traced per-layer probes that the measured pass does not cover. */
  def probe(c: Ctx): Map[String, Any] = Map.empty
  /** Untimed correctness outputs, once per invocation, before measuring. */
  def check(c: Ctx): Unit = ()
}

/** Benchmark harness entry point. Writes `raw.json` (and `spans.jsonl`
  * when tracing) into `--out`; `perfbench/run.py` turns them into metrics.
  * `--mode` is `measure` (one untimed correctness pass, then the measured
  * pass) or `trace` (also a traced pass, the per-layer probes and a
  * single-core baseline pass).
  *
  * {{{
  * Main --workload stream-ticks --seed 1 --seconds 16 --mode measure \
  *      --cores 4 --work <dir> --out <dir> [--setups 3] [--param k=v ...]
  * }}}
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "stream-ticks" -> StreamTicks,
    "batch-backfill" -> BatchBackfill)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val wl = workloads.getOrElse(a.workload, sys.error(s"unknown workload ${a.workload}"))
    Files.createDirectories(Paths.get(a.out))
    Files.createDirectories(Paths.get(a.work))

    // set up several times; the median is the set-up time
    val setupMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to math.max(1, a.setups)) {
      if (spark != null) spark.stop()
      val (s, ms) = Clock.timed { val s = Session.start(a.cores, a.work); wl.setup(s, a); s }
      spark = s
      setupMs += ms
    }

    val ops = new Ops
    def ctx(traced: Boolean, throughputOnly: Boolean = false, args: Args = a) = {
      val stats = new SparkStats
      spark.sparkContext.addSparkListener(stats)
      val batches = new BatchLog
      spark.streams.addListener(batches)
      Ctx(spark, args, ops, stats, batches, new Trace(traced), throughputOnly)
    }

    // correctness outputs first: untimed, and they leave the JIT warm
    val tCheck = Clock.ms()
    wl.check(ctx(traced = false))
    val checkMs = Clock.ms() - tCheck
    val passes = mutable.LinkedHashMap.empty[String, Any]
    a.mode match {
      case "measure" =>
        passes("e2e") = wl.measure(ctx(traced = false))
      case "trace" =>
        // untraced and traced passes of half the window each: their
        // difference is the tracing overhead
        val half = a.copy(seconds = a.seconds / 2)
        passes("e2e") = wl.measure(ctx(traced = false, args = half))
        val t = ctx(traced = true, args = half)
        passes("traced") = wl.measure(t)
        passes("probe") = wl.probe(t)
        t.trace.write(s"${a.out}/spans.jsonl")
        // single-threaded baseline of the same job: a local[1] session in
        // this (warm) JVM, throughput part only, for half the window
        spark.stop()
        val one = a.copy(cores = 1, seconds = a.seconds / 2)
        spark = Session.start(1, a.work)
        passes("baseline") = wl.measure(ctx(traced = false, throughputOnly = true, args = one))
      case m => sys.error(s"unknown mode $m")
    }

    Json.write(s"${a.out}/raw.json", Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "mode" -> a.mode,
      "seconds" -> a.seconds, "setup_ms" -> setupMs.toSeq, "check_ms" -> checkMs, "ops" -> ops.json,
      "passes" -> passes, "rss_peak_b" -> Rss.peakBytes()))
    spark.stop()
  }
}
