package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming one-sided CUSUM alarms — the online form of
  * [[graft.queries.EventQueries.cusum]] (stream-job framing per the
  * reference's stateful aggregates, flink/StreamJob.scala:202-222; CUSUM
  * itself is the classic sequential detector the batch query computes via
  * its closed-form window identity).
  *
  * State per user is EXACTLY the recurrence's sufficient statistic: the
  * current cusum value `s` plus a fired flag — 9 bytes logical. Each
  * micro-batch folds its rows in (ts_us, event_id) order (the batch sort
  * order; a key's rows inside a micro-batch arrive unsorted, so the
  * group's batch slice is buffered and sorted — bounded by the per-user
  * per-batch row count), emitting the FIRST crossing of `s >= h` once.
  * Because the recurrence is evaluated in the identical order with
  * identical integer arithmetic, the streamed alarm set is BIT-EQUAL to
  * the batch query's, proven by StreamCusumSpec across >= 3 AvailableNow
  * micro-batches.
  *
  * The reference threshold pair (k, h) is a PARAMETER here: the batch
  * query derives k = global mean cents in-plan, which an unbounded stream
  * cannot know — the online deployment pins (k, h) from a training window
  * (exactly how production CUSUM monitors are configured). The spec feeds
  * the batch-derived k so the twin is comparable.
  */
object StreamCusum {

  final case class CusumEvent(user_id: Long, ts_us: Long, event_id: Long,
      v: Long)
  final case class CusumAlarm(user_id: Long, alarm_event_id: Long,
      alarm_ts_us: Long, s_cents: Long)
  final case class CusumState(s: Long, fired: Boolean)

  def apply(ds: Dataset[CusumEvent], k: Long, h: Long): Dataset[CusumAlarm] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "cusum")(_.user_id) { (user, prev: Option[CusumState], rows) =>
      var state = prev.getOrElse(CusumState(0L, fired = false))
      var alarm: Option[CusumAlarm] = None
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        val s = math.max(0L, state.s + (r.v - k))
        val fires = !state.fired && s >= h
        if (fires && alarm.isEmpty)
          alarm = Some(CusumAlarm(user, r.event_id, r.ts_us, s))
        state = CusumState(s, state.fired || fires)
      }
      (state, alarm.iterator)
    }
  }
}
