package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{count, count_if, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.RefPipeline
import graft.streaming.StreamingSma.{SmaOut, Tick}

/** End-to-end engine lifecycle (E1-E3, financial_engine.py:329-433):
  * assemble clean → SMA → sink fan-out over a stream of ticks, start,
  * await, stop. The reference's ctor/`start()`/`stop()` machinery
  * (task spawning, cancellation, adapter close) collapses into
  * Structured Streaming's own lifecycle — `start()` returns a
  * `StreamingQuery`, `stop()` cancels it, checkpointing replaces the
  * nothing-survives-restart semantics of the in-process engine.
  *
  * Cadence mapping: the reference polls each adapter at a per-source
  * interval with error backoff (AV 15 s / WS 0.5 s / CSV 2 s,
  * financial_engine.py:30,35-36, backoff :373-377). In Spark the fetch
  * cadence is the micro-batch trigger ([[EngineConfig.triggerInterval]]
  * → `Trigger.ProcessingTime`) and per-source volume control is a
  * source rate option (`rowsPerSecond` on the rate source —
  * [[graft.sources.Sources.rateTicks]] — `maxFilesPerTrigger` /
  * `maxOffsetsPerTrigger` on file/Kafka sources), set where the source
  * is read. Error backoff needs no port: the engine retries failed
  * micro-batches from the checkpoint instead of dropping and sleeping.
  */
object StreamingEngine {

  final case class EngineConfig(
      movingAverageWindow: Int = 5,                 // financial_engine.py:38
      // micro-batch cadence; None = as-fast-as-possible default trigger
      triggerInterval: Option[String] = None,       // financial_engine.py:30,35-36
      // state/progress recovery; None = ephemeral (reference semantics)
      checkpointDir: Option[String] = None,
      sinks: Sinks.Config = Sinks.Config())

  /** Name of the per-batch tick counts in `StreamingQueryProgress.observedMetrics`. */
  val TicksObserved = "graft_ticks"

  /** The processing graph, source-agnostic: validity filter (F2,
    * `RefPipeline.validPrice`) → count-based SMA with warm-up gate (A1).
    * Pure function of the input stream — identical code path for
    * MemoryStream tests, the rate source, or a real feed. Rejected ticks
    * are counted, not silently dropped: the observation [[TicksObserved]]
    * (`ticks_in`, `ticks_rejected`) sits below the filter, in the map
    * stage, which runs once per batch even when sinks re-run the stateful
    * stage. The volume clamp lives in the untyped path.
    */
  def process(ticks: Dataset[Tick], cfg: EngineConfig): Dataset[SmaOut] = {
    val counted = ticks.observe(TicksObserved, count(lit(1)).as("ticks_in"),
      count_if(!RefPipeline.validPrice).as("ticks_rejected"))
    StreamingSma.withMovingAverage(counted.filter(RefPipeline.validPrice), cfg.movingAverageWindow)
  }

  /** Wire the graph to the observer fan-out and start the query with
    * the configured trigger cadence and checkpoint location. The default
    * sink is `logging`; pass `Sinks.console()` in `extraSinks` to print.
    */
  def start(ticks: Dataset[Tick], cfg: EngineConfig,
            extraSinks: Seq[Sinks.Sink] = Nil): StreamingQuery = {
    val sinks = Sinks.logging(cfg.sinks) +: extraSinks
    val writer0 = Sinks.attach(process(ticks, cfg), sinks)
    val writer1 = cfg.triggerInterval
      .map(i => writer0.trigger(Trigger.ProcessingTime(i))).getOrElse(writer0)
    val writer2 = cfg.checkpointDir
      .map(d => writer1.option("checkpointLocation", d)).getOrElse(writer1)
    writer2.start()
  }
}
