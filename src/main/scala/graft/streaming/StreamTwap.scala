package graft.streaming

import org.apache.spark.sql.Dataset

/** Time-weighted average as a keyed streaming accumulator — the incremental
  * form of [[graft.queries.EventAnalytics.twap]]. State per key is four
  * longs (last event's ts/value + the exact integer num/den sums); each
  * micro-batch emits the key's running TWAP after folding the batch, so
  * the LATEST emitted row per key always equals the batch query over
  * everything ingested so far.
  *
  * The left-Riemann segment between the last event of one micro-batch and
  * the first event of the next is accounted when the later batch arrives —
  * the carried (last_ts, last_v) state closes the gap exactly, so the
  * equality contract (StreamTwapSpec) holds across batch boundaries under
  * event-time-ordered ingest (same precondition as the other state
  * machines). */
object StreamTwap {

  final case class ValueEvent(event_id: Long, ts_us: Long, user_id: Long,
      value_c: Long)
  final case class TwapRow(user_id: Long, twap_num: Long, twap_den: Long)
  final case class TwapState(last_ts: Long, last_v: Long, num: Long, den: Long)

  def apply(ds: Dataset[ValueEvent]): Dataset[TwapRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "twap")(_.user_id) { (user, prev: Option[TwapState], rows) =>
      var s = prev.orNull
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        if (s == null) s = TwapState(r.ts_us, r.value_c, 0L, 0L)
        else {
          val dtMs = (r.ts_us - s.last_ts) / 1000L
          s = TwapState(r.ts_us, r.value_c,
            s.num + s.last_v * dtMs, s.den + dtMs)
        }
      }
      // no emission until a key has an actual time segment: the batch
      // query produces NO row for single-event users (its lead() filter),
      // so a (0,0) emission would break the latest-row == batch contract
      (s, if (s.den > 0L) Iterator.single(TwapRow(user, s.num, s.den))
        else Iterator.empty)
    }
  }
}
