package graft.streaming

import org.apache.spark.sql.Dataset

/** Cohort retention as a keyed streaming state machine — the incremental
  * form of [[graft.queries.EventAnalytics.retention]] (stream-job framing
  * per the reference's stateful operators, flink/StreamJob.scala:202-222).
  *
  * Per-user state is the cohort day (the UTC day of the first event seen)
  * plus a 4-bit mask of already-emitted day offsets {0,1,3,7} — 12 bytes
  * per key, never an event buffer; each newly reached offset emits exactly
  * one RetentionHit. Counting hits per (cohort_s, off_days) downstream
  * reproduces the batch cohort table.
  *
  * EQUALITY CONTRACT (proven by StreamRetentionSpec): under
  * watermark-respecting ingest (micro-batches in non-decreasing event-time
  * order — the same precondition as [[StreamFunnel]]) the first event seen
  * for a user IS its min-timestamp event, so the streamed cohort day equals
  * the batch `min(day)` and final hit counts per (cohort_s, off_days)
  * equal `ev_retention` exactly.
  */
object StreamRetention {

  final case class RetEvent(event_id: Long, ts_us: Long, user_id: Long)
  /** One first-activity-at-offset observation for one user. */
  final case class RetentionHit(user_id: Long, cohort_s: Long, off_days: Long)
  /** `mask` bit i set = offsets(i) already emitted. */
  final case class RetState(cohortS: Long, mask: Int)

  /** The reported day offsets, and their bit positions in `RetState.mask`. */
  val Offsets: Seq[Long] = Seq(0L, 1L, 3L, 7L)

  private final val DayUs = 86400L * 1000000L

  def apply(ds: Dataset[RetEvent]): Dataset[RetentionHit] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "retention")(_.user_id) { (user, prev: Option[RetState], rows) =>
      var s = prev.getOrElse(RetState(-1L, 0))
      val out = scala.collection.mutable.ListBuffer.empty[RetentionHit]
      // fold in event-time order within the batch so the first row seen for
      // a fresh user is its batch-min timestamp (the cohort rule)
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        val dS = (r.ts_us / DayUs) * 86400L // UTC day in epoch seconds
        if (s.cohortS < 0) s = RetState(dS, 0)
        val off = (dS - s.cohortS) / 86400L
        val bit = Offsets.indexOf(off)
        if (bit >= 0 && (s.mask & (1 << bit)) == 0) {
          s = s.copy(mask = s.mask | (1 << bit))
          out += RetentionHit(user, s.cohortS, off)
        }
      }
      (s, out.iterator)
    }
  }
}
