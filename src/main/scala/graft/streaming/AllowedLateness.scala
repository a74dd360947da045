package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Flink-style `allowedLateness` windowing for Structured Streaming — the
  * re-fire semantic Spark's built-in windowed aggregation lacks (reference
  * StreamJob.scala:308-310: a late-but-allowed event UPDATES an already-fired
  * window instead of being dropped).
  *
  * Flink's window lifecycle, reproduced here exactly (at micro-batch
  * granularity): with watermark W = maxSeenTs − maxOutOfOrderness,
  *   1. the window [start, end) first FIRES when W ≥ end;
  *   2. each late element arriving while end ≤ W < end + allowedLateness
  *      RE-FIRES the window with the updated aggregate;
  *   3. at W ≥ end + allowedLateness the state is purged (emitted here as a
  *      terminal `isFinal` row) and later elements are dropped.
  *
  * The Spark mechanics: Structured Streaming filters rows behind the
  * watermark BEFORE any stateful operator, and that filter is per-ROW while
  * Flink's lateness cutoff is per-WINDOW. So the operator widens the Spark
  * watermark delay to windowSize + allowedLateness + maxOutOfOrderness —
  * making the row-level filter strictly more permissive than Flink's cutoff
  * for every row of a live window — and applies the EXACT window-level gate
  * itself: with the widened Spark watermark w, the Flink watermark is
  * w + windowSize + allowedLateness, so "window closed" (W ≥ end+lateness)
  * is simply w ≥ start. Firing thresholds map the same way: on-time fire
  * (W ≥ end) at w ≥ start − allowedLateness, purge at w ≥ start. State is
  * keyed by (key, windowStart) in a `transformWithState` processor with
  * event-time timers (registered timers are cleared before re-arming — the
  * single-armed-timeout discipline), freed at purge — bounded state at
  * 100 TB; the plan is one shuffle on the group key with RocksDB-backed
  * per-group state, like any Spark stateful aggregation.
  */
object AllowedLateness {

  final case class Event(key: String, ts: java.sql.Timestamp, value: Double)

  /** One row per firing: `fire` numbers the firings of a window (1 = the
    * on-time firing, 2.. = late re-fires), `isFinal` marks the purge. */
  final case class Fired(
      key: String,
      windowStart: Long,
      windowEnd: Long,
      count: Long,
      sum: Double,
      fire: Int,
      isFinal: Boolean)

  /** Internal per-window state (public: Spark's product encoder generates
    * accessor code for it). */
  final case class WState(count: Long, sum: Double, fires: Int, hasFired: Boolean)

  private final class AlProcessor(windowSizeMs: Long, allowedLatenessMs: Long)
      extends StatefulProcessor[(String, Long), Event, Fired] {

    @transient private var st: ValueState[WState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[WState]("w", Encoders.product[WState], TTLConfig.NONE)

    private def mkFired(kw: (String, Long), s: WState, n: Int, fin: Boolean) =
      Fired(kw._1, kw._2, kw._2 + windowSizeMs, s.count, s.sum, n, fin)

    /** Single-armed-timeout discipline on the multi-timer API: clear every
      * registered timer but `firing`, then arm one strictly-future timer. */
    private def armTimeout(at: Long, curWm: Long, firing: Option[Long]): Unit = {
      StreamResample.clearTimers(getHandle, firing)
      getHandle.registerTimer(math.max(at, curWm + 1))
    }

    override def handleInputRows(kw: (String, Long), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[Fired] = {
      val wStart = kw._2
      // thresholds in the WIDENED watermark clock (see scaladoc):
      val fireAt = wStart - allowedLatenessMs // Flink W >= windowEnd
      val purgeAt = wStart // Flink W >= windowEnd + allowedLateness
      val curWm = timerValues.getCurrentWatermarkInMs()

      if (curWm >= purgeAt) {
        // window already closed in Flink terms: rows are TOO late — drop
        // them; if the purge timer is still pending, finalize now
        if (st.exists()) {
          val s = st.get()
          st.clear()
          StreamResample.clearTimers(getHandle, None)
          Iterator.single(mkFired(kw, s, s.fires + 1, fin = true))
        } else Iterator.empty
      } else {
        val prev = if (st.exists()) st.get() else WState(0L, 0.0, 0, hasFired = false)
        // deterministic fold order within the micro-batch
        val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
        val acc = WState(prev.count + batch.size,
          batch.foldLeft(prev.sum)(_ + _.value), prev.fires, prev.hasFired)
        if (prev.hasFired || curWm >= fireAt) {
          // late-but-allowed data after (or at) the on-time firing:
          // immediate re-fire with the updated aggregate
          val next = acc.copy(fires = acc.fires + 1, hasFired = true)
          st.update(next)
          armTimeout(purgeAt, curWm, None)
          Iterator.single(mkFired(kw, next, next.fires, fin = false))
        } else {
          // window still open: accumulate silently until W >= windowEnd
          st.update(acc)
          armTimeout(fireAt, curWm, None)
          Iterator.empty
        }
      }
    }

    override def handleExpiredTimer(kw: (String, Long), timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Fired] = {
      val purgeAt = kw._2
      val curWm = timerValues.getCurrentWatermarkInMs()
      val s = if (st.exists()) st.get() else WState(0L, 0.0, 0, hasFired = false)
      if (!s.hasFired) {
        // on-time firing (W reached windowEnd with no new data)
        val onTime = mkFired(kw, s, s.fires + 1, fin = false)
        if (curWm >= purgeAt) { // lateness interval already elapsed too
          st.clear()
          Iterator(onTime, mkFired(kw, s, s.fires + 2, fin = true))
        } else {
          st.update(s.copy(fires = s.fires + 1, hasFired = true))
          armTimeout(purgeAt, curWm, Some(expiredTimerInfo.getExpiryTimeInMs()))
          Iterator.single(onTime)
        }
      } else { // purge: terminal firing, state freed
        st.clear()
        Iterator.single(mkFired(kw, s, s.fires + 1, fin = true))
      }
    }
  }

  /** Tumbling-window count/sum with Flink allowed-lateness semantics. */
  def tumblingSum(
      ds: Dataset[Event],
      windowSizeMs: Long,
      allowedLatenessMs: Long,
      maxOutOfOrdernessMs: Long = 0L): Dataset[Fired] = {
    implicit val keyEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    implicit val outEnc: Encoder[Fired] = Encoders.product[Fired]
    val widenedMs = windowSizeMs + allowedLatenessMs + maxOutOfOrdernessMs

    ds.withWatermark("ts", s"$widenedMs milliseconds")
      .groupByKey(e => (e.key, (e.ts.getTime / windowSizeMs) * windowSizeMs))
      .transformWithState(new AlProcessor(windowSizeMs, allowedLatenessMs),
        TimeMode.EventTime(), OutputMode.Append(), outEnc)
  }
}
