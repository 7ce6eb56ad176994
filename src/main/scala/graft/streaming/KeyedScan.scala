package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one stateful operator of the sequential streaming twins — the
  * reference's per-symbol deque folded in arrival order
  * (`MovingAverageCalculator`, financial_engine.py:293-312),
  * generalized: rows are grouped by `key`, each micro-batch's rows of
  * a key are sorted by `order`, and `step` folds them one by one into
  * the key's state, emitting zero or one output per row.
  *
  * Every twin that carries state across micro-batches in executor
  * state goes through [[scan]], so the state layer (operator, output
  * mode, timeout policy, state-store backend) is decided here once.
  * The state type `S` is the twin's checkpointed state schema: a
  * restarted query reads it back from the state store, so changing a
  * state case class breaks existing checkpoints.
  *
  * Scale: state is hash-partitioned by key across executors and
  * checkpointed via the state store — the fault-tolerant version of
  * the reference's in-process dict (which loses everything on
  * restart, financial_engine.py:298).
  */
object KeyedScan {

  /** Fold each key's rows, sorted by `order` within the micro-batch,
    * through `step` from the key's stored state (`init` for a key not
    * seen before); the final state is stored for the next micro-batch.
    * Outputs of a key come out in `order`.
    */
  def scan[T, K: Encoder, O: Ordering, S: Encoder, U: Encoder](ds: Dataset[T])(
      key: T => K, order: T => O, init: S)(step: (S, T) => (S, Option[U])): Dataset[U] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, U](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[S]) =>
          var s = state.getOption.getOrElse(init)
          val out = rows.toSeq.sortBy(order).flatMap { row =>
            val (next, emitted) = step(s, row)
            s = next
            emitted
          }
          state.update(s)
          out.iterator
      }

  /** Spark's `round(x, 6)` on a double (HALF_UP on its decimal image) —
    * the rounding the twins apply wherever the batch expression does.
    * Like Spark's, it passes NaN and infinities through unchanged. */
  private[streaming] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The batch cents projection `round(price * 100).cast("bigint")`. */
  private[streaming] def cents(price: Double): Long =
    BigDecimal(price * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
}
