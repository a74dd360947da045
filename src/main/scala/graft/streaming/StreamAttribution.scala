package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming multi-touch attribution — the online form of
  * [[graft.queries.EventAnalytics.attribution]] (stream-job framing per
  * the reference's stateful aggregates, flink/StreamJob.scala:202-222):
  * per user, buffer `view`/`click` touchpoints; each `purchase` is a
  * conversion that credits the buffered touches inside its 7-day lookback
  * under the three models, with the SAME exact integer-PPM arithmetic as
  * batch (floored even split + rank-ordered remainder, so every
  * conversion's credit sums to exactly 10⁶).
  *
  * State per user is the WATERMARK-HORIZON touch buffer: only touches
  * younger than `lookbackUs` relative to the newest event seen for that
  * user can ever be credited again (later conversions have later
  * timestamps under the ordered-delivery contract every twin in this
  * package shares), so the buffer self-prunes to the lookback window —
  * per-key state is bounded by per-user 7-day activity, never the stream
  * length (the TtlDedup discipline). Rows inside a micro-batch arrive
  * unsorted, so each group's batch slice is buffered and folded in
  * (ts_us, event_id) order — the batch query's rank order exactly.
  *
  * Emissions are per-(conversion, touch) credit rows; aggregating them by
  * (model, touch type) reproduces the batch report bit-for-bit
  * (StreamAttributionSpec). */
object StreamAttribution {

  final case class AttrEvent(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  final case class Touch(ts_us: Long, event_id: Long, event_type: String)
  final case class AttrBuf(maxTs: Long, touches: Seq[Touch])
  final case class AttrCredit(user_id: Long, conv_id: Long, touch_id: Long,
      touch_type: String, c_first: Long, c_last: Long, c_linear: Long)

  def apply(ds: Dataset[AttrEvent],
      lookbackUs: Long = 7L * 24 * 3600 * 1000000): Dataset[AttrCredit] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "touches")(_.user_id) { (user, prev: Option[AttrBuf], rows) =>
      var buf = prev.getOrElse(AttrBuf(Long.MinValue, Nil))
      val out = Seq.newBuilder[AttrCredit]
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        if (r.event_type == "view" || r.event_type == "click") {
          buf = AttrBuf(math.max(buf.maxTs, r.ts_us),
            buf.touches :+ Touch(r.ts_us, r.event_id, r.event_type))
        } else if (r.event_type == "purchase") {
          val eligible = buf.touches
            .filter(t => t.ts_us < r.ts_us && t.ts_us >= r.ts_us - lookbackUs)
            .sortBy(t => (t.ts_us, t.event_id))
          val n = eligible.length
          if (n > 0) {
            val per = 1000000L / n
            val rem = 1000000L % n
            eligible.zipWithIndex.foreach { case (t, i) =>
              val rk = i + 1
              out += AttrCredit(user, r.event_id, t.event_id, t.event_type,
                if (rk == 1) 1000000L else 0L,
                if (rk == n) 1000000L else 0L,
                per + (if (rk <= rem) 1L else 0L))
            }
          }
          buf = AttrBuf(math.max(buf.maxTs, r.ts_us), buf.touches)
        } else {
          buf = AttrBuf(math.max(buf.maxTs, r.ts_us), buf.touches)
        }
      }
      // horizon prune: a touch older than (newest seen ts − lookback) can
      // never again satisfy `touch_ts >= conv_ts − lookback` for any later
      // conversion under ordered delivery
      val pruned = buf.touches.filter(_.ts_us >= buf.maxTs - lookbackUs)
      (AttrBuf(buf.maxTs, pruned), out.result().iterator)
    }
  }
}
