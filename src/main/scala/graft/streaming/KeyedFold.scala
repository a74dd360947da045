package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-key state carried between micro-batches: the one shape of every
  * graft streaming operator that keeps a single value per key (the
  * reference's keyed `ValueState` operators, flink/StreamJob.scala:202-222).
  *
  * `KeyedFold(ds, "funnel")(_.user_id)(step)` groups `ds` by `key` and, for
  * each key present in a micro-batch, calls `step(key, prev, rows)` with the
  * state stored by the key's previous batch (`None` on its first) and the
  * key's rows of this batch, in no particular order. `step` returns the new
  * state and the rows to emit.
  *
  * Contract: `step` consumes `rows` before it returns. The returned state is
  * stored before the returned rows are emitted, so an output iterator still
  * lazily reading `rows`, or a state mutated while it is drained, would store
  * the wrong state.
  *
  * The state lives in the engine's state store under `stateName`, encoded
  * with `Encoder[S]`. The fold runs `transformWithState` with
  * `TimeMode.None`, `OutputMode.Append` and no TTL. Spark records only
  * (time mode, output mode, state variables) in the checkpoint, not the
  * processor class, so a checkpoint stays resumable across changes to
  * `step` as long as `stateName` and the key and state schemas stay the
  * same. Operators needing timers, TTL or more than one state variable
  * (TtlDedup, AllowedLateness, StreamResample) use the raw API.
  */
object KeyedFold {

  def apply[I, K: Encoder, S: Encoder, O: Encoder](ds: Dataset[I],
      stateName: String)(key: I => K)(
      step: (K, Option[S], Iterator[I]) => (S, Iterator[O])): Dataset[O] =
    ds.groupByKey(key).transformWithState(new Fold(stateName, step),
      TimeMode.None(), OutputMode.Append(), implicitly[Encoder[O]])

  private final class Fold[K, I, S: Encoder, O](stateName: String,
      step: (K, Option[S], Iterator[I]) => (S, Iterator[O]))
      extends StatefulProcessor[K, I, O] {

    @transient private var st: ValueState[S] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[S](stateName, implicitly[Encoder[S]],
        TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[I],
        timerValues: TimerValues): Iterator[O] = {
      val (next, out) = step(key, if (st.exists()) Some(st.get()) else None, rows)
      st.update(next)
      out
    }
  }
}
