package graft.streaming

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Observer-pattern sink fan-out (K1-K4, financial_engine.py:59-110),
  * Spark-first: every attached sink receives the same micro-batch inside
  * a single `foreachBatch` — the analog of `Subject.notify` walking its
  * observer list (:76-83). Per-sink exceptions are swallowed exactly
  * like the reference swallows per-observer exceptions (:82-83): one
  * bad sink must not poison the others or the query.
  *
  * A sink receives a [[Batch]]: the micro-batch `df` with one
  * observation attached (its row count) and its `id`. `report(f)` hands
  * `f` the row count once every sink has run: the logging sink only
  * reports and runs no Spark job.
  *
  * One action per batch. The micro-batch is a plan over the stateful
  * stage's RDD, not a cached table: nothing is persisted, and every
  * Spark action over it re-runs the stateful stage (the shuffle's map
  * output is reused and the state is committed again at the same
  * version, so outputs stay correct). The alerts sink's collect reads
  * the whole batch unless its cap overflowed, and then fills the row
  * count; with the engine's logging and alerts sinks a batch therefore
  * runs one job. When no collect filled it, the fan-out runs one full
  * action itself, so the state advances and the count is exact. Each
  * other action — the `show` in [[console]], or a user sink acting on
  * `df` — is one more job that re-runs the stateful stage.
  *
  * Spark rows are immutable, so the reference's defensive
  * `copy.deepcopy` before each observer (:81) has no analog — isolation
  * is free.
  */
object Sinks {

  /** Ported config keys (ConfigurationManager, financial_engine.py:25-42). */
  final case class Config(
      logLevel: String = "INFO",          // financial_engine.py:40
      alertThreshold: Double = 108.0)     // financial_engine.py:39

  private val Observed = "graft_sinks"

  /** One micro-batch as every sink sees it (see [[Sinks]]). */
  final class Batch private[Sinks] (val df: DataFrame, val id: Long) {
    private var rows: Option[Long] = None
    private val reports = mutable.ArrayBuffer.empty[Long => Unit]

    /** Run `f` on the micro-batch thread with the batch's row count
      * after every sink has run; a failing `f` is isolated like a sink. */
    def report(f: Long => Unit): Unit = reports += f

    /** Collect `query(df)`. A result below its plan's row bound read every
      * row, so the observation its action filled (read synchronously from
      * the executed plan) is the batch's row count. At the bound — an
      * alert cap that overflowed — the ordered limit may have stopped
      * early: over rows already sorted on its key it reads only `limit`
      * rows per partition. */
    private[Sinks] def collect(query: DataFrame => DataFrame): Array[Row] = {
      val q = query(df)
      val out = q.collect()
      if (rows.isEmpty && q.queryExecution.optimizedPlan.maxRows.forall(out.length < _))
        rows = q.queryExecution.observedMetrics.get(Observed).map(_.getLong(0))
      out
    }

    /** Run one full action unless a collect already counted the rows,
      * then deliver the count. A failure here is the batch's own and
      * fails the query. */
    private[Sinks] def deliver(): Unit = {
      val n = rows.getOrElse(df.queryExecution.toRdd.count())
      reports.foreach(r => isolated(id)(r(n)))
    }
  }

  type Sink = Batch => Unit

  /** K1 ConsoleNotifier (:85-88). Not a default of the engine: `show` is
    * a partial action, one more Spark job per batch that re-runs the
    * stateful stage over the partitions it reads. */
  def console(maxRows: Int = 5): Sink = _.df.show(maxRows, truncate = false)

  /** K2 LoggingModule — delivers iff log_level == "INFO" (:90-95). A pure
    * reporter: it runs no Spark job and logs the batch's row count. */
  def logging(cfg: Config, log: String => Unit = println): Sink = b =>
    if (cfg.logLevel == "INFO") b.report(n => log(s"[graft] batch with $n events"))

  /** K3 AlertGenerator — `RefPipeline.alertFires` (:100-106)
    * feeding a downstream handler. Alerts are a filtered trickle by
    * design, but the collect is still driver-side: `maxAlerts` bounds
    * it so a mis-set threshold can never OOM the driver. The cap is
    * deterministic (ordered by id before the limit — an unordered
    * limit keeps an arbitrary subset) and overflow is REPORTED via
    * `onOverflow` — hitting the cap is the signal to move the handler
    * into a distributed writer, so it must never pass silently.
    */
  def alerts(cfg: Config, handler: Array[Row] => Unit,
             maxAlerts: Int = 10000,
             onOverflow: Int => Unit = cap => System.err.println(
               s"[graft] alert sink overflow: batch exceeded $cap alerts; " +
               "excess dropped — route alerts to a distributed sink")): Sink = b => {
    // fetch cap+1: one extra row is the cheapest exact overflow test
    val hits = b.collect(_.filter(graft.operators.RefPipeline.alertFires(cfg.alertThreshold))
      .orderBy("id")
      .limit(maxAlerts + 1))
    if (hits.length > maxAlerts) {
      onOverflow(maxAlerts)
      handler(hits.take(maxAlerts))
    } else handler(hits)
  }

  /** K4 Subject.notify — deliver one batch to every sink, swallowing
    * per-sink failures (:79-83), then its row count to every report.
    * NonFatal only: the reference swallows `Exception`, not errors — a
    * fatal JVM condition (OOM, thread interrupt) must propagate and fail
    * the query rather than be reported as a delivered batch. */
  def fanOut(sinks: Seq[Sink])(df: DataFrame, batchId: Long): Unit = {
    val batch = new Batch(df.observe(Observed, count(lit(1)).as("rows")), batchId)
    sinks.foreach(s => isolated(batchId)(s(batch)))
    batch.deliver()
  }

  // reference behavior: log and continue (financial_engine.py:82-83)
  private def isolated(batchId: Long)(body: => Unit): Unit =
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"[graft] sink failed on batch $batchId: ${e.getMessage}")
    }

  /** Observer attach/detach registry (financial_engine.py:68-74): the
    * reference mutates its observer list while the engine runs; here
    * each micro-batch reads the CURRENT sink set, so `detach` takes
    * effect from the next batch without restarting the query.
    */
  final class SinkRegistry {
    @volatile private var sinks: Vector[Sink] = Vector.empty
    def attach(s: Sink): this.type = synchronized { sinks = sinks :+ s; this }
    def detach(s: Sink): this.type =
      synchronized { sinks = sinks.filterNot(_ eq s); this }
    def current: Seq[Sink] = sinks
  }

  /** Wire a stream through the fan-out; caller starts/stops the query. */
  def attach(stream: Dataset_, sinks: Seq[Sink]): DataStreamWriter[Row] =
    stream.toDF().writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, id: Long) => fanOut(sinks)(b, id))

  /** Registry variant: sink membership is re-read per batch. */
  def attach(stream: Dataset_, registry: SinkRegistry): DataStreamWriter[Row] =
    stream.toDF().writeStream.outputMode("append")
      .foreachBatch((b: DataFrame, id: Long) => fanOut(registry.current)(b, id))

  private type Dataset_ = org.apache.spark.sql.Dataset[_]
}
