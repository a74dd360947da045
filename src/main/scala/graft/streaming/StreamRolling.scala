package graft.streaming

import org.apache.spark.sql.Dataset

/** Rolling 24-hour revenue peak as a keyed streaming state machine — the
  * incremental form of [[graft.queries.EventQueries.rolling24h]] (stream-job
  * framing per the reference's windowed aggregates,
  * flink/StreamJob.scala:286-315).
  *
  * Per-user state is the SPARSE deque of active-hour sums inside the
  * current 24-hour horizon (≤ 24 entries — old hours are evicted as the
  * horizon advances) plus the best (roll, hour) seen — bounded ~400 B/key
  * regardless of stream length, never an event buffer.
  *
  * The roll is re-evaluated after EVERY event over the ≤24-entry deque
  * (an O(24) integer sum — constant work per event). Evaluating against a
  * partially-accumulated current hour is safe for the MAX under the same
  * non-negativity precondition the batch sparse form documents: each
  * hour's last evaluation sees its complete sum, and earlier partial
  * evaluations are ≤ it, so the running max equals the max over complete
  * active-hour rolls. Ties keep the EARLIEST hour (the batch
  * `min(hr)`-on-max rule).
  *
  * EQUALITY CONTRACT (proven by StreamRollingSpec): under
  * watermark-respecting ingest (micro-batches in non-decreasing event-time
  * order, events folded in (ts_us, event_id) order within each batch — the
  * same precondition as [[StreamFunnel]]/[[StreamRetention]]) the final
  * per-user (max_roll_cents, peak_hour_s) equals batch `ev_rolling_24h`
  * exactly.
  */
object StreamRolling {

  final case class RollEvent(event_id: Long, ts_us: Long, user_id: Long,
      cents: Long)
  /** Best-so-far snapshot for one user (emitted each batch the user
    * appears in; the latest one is the final answer). */
  final case class RollPeak(user_id: Long, max_roll_cents: Long,
      peak_hour_s: Long)
  final case class RollState(hours: Seq[Long], sums: Seq[Long],
      best: Long, bestHidx: Long)

  private final val HourUs = 3600L * 1000000L

  def apply(ds: Dataset[RollEvent]): Dataset[RollPeak] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "roll24")(_.user_id) { (user, prev: Option[RollState], rows) =>
      val s0 = prev.getOrElse(RollState(Nil, Nil, -1L, -1L))
      val hours = scala.collection.mutable.ArrayBuffer.from(s0.hours)
      val sums = scala.collection.mutable.ArrayBuffer.from(s0.sums)
      var best = s0.best
      var bestH = s0.bestHidx
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        val h = r.ts_us / HourUs
        if (hours.nonEmpty && hours.last == h) sums(sums.length - 1) += r.cents
        else { hours += h; sums += r.cents }
        while (hours.head < h - 23) { hours.remove(0); sums.remove(0) }
        var roll = 0L
        var i = 0
        while (i < hours.length) { roll += sums(i); i += 1 }
        if (roll > best || (roll == best && h < bestH)) { best = roll; bestH = h }
      }
      (RollState(hours.toSeq, sums.toSeq, best, bestH),
        Iterator.single(RollPeak(user, best, bestH * 3600L)))
    }
  }
}
