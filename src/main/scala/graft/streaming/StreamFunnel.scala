package graft.streaming

import org.apache.spark.sql.Dataset

/** Ordered-sequence funnel as a keyed streaming state machine — the
  * incremental form of [[graft.queries.EventAnalytics.funnel]] (stream-job
  * framing per the reference's stateful operators,
  * flink/StreamJob.scala:202-222).
  *
  * Per-user state is three fixed timestamps (t1,t2,t3 — first step-1 event,
  * first step-2 event strictly after t1, first step-3 event strictly after
  * t2 and within `horizonUs` of t1); a step advance emits one StepHit row.
  * Constant state per key (24 bytes), no event buffering — the 100 TB
  * shape.
  *
  * EQUALITY CONTRACT (proven by StreamFunnelSpec): events are folded in
  * (ts_us, event_id) order within each micro-batch; when micro-batches
  * arrive in non-decreasing event-time order (watermark-respecting ingest,
  * same precondition as [[CleanCorpusStream]]/[[StreamResample]]) the
  * first-qualifying-event-in-order rule IS the batch query's
  * min-qualifying-timestamp rule, so final per-step user counts equal the
  * batch `ev_funnel` exactly. */
object StreamFunnel {

  final case class FunnelEvent(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String)
  /** One step advance for one user. `step` is 1-based. */
  final case class StepHit(user_id: Long, step: Int, ts_us: Long)
  /** -1 = step not yet reached. */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  def apply(ds: Dataset[FunnelEvent], s1: String, s2: String, s3: String,
      horizonUs: Long): Dataset[StepHit] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "funnel")(_.user_id) { (user, prev: Option[FunnelState], rows) =>
      var s = prev.getOrElse(FunnelState(-1L, -1L, -1L))
      val out = scala.collection.mutable.ListBuffer.empty[StepHit]
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        if (s.t1 < 0) {
          if (r.event_type == s1) {
            s = s.copy(t1 = r.ts_us); out += StepHit(user, 1, r.ts_us)
          }
        } else if (s.t2 < 0) {
          if (r.event_type == s2 && r.ts_us > s.t1) {
            s = s.copy(t2 = r.ts_us); out += StepHit(user, 2, r.ts_us)
          }
        } else if (s.t3 < 0) {
          if (r.event_type == s3 && r.ts_us > s.t2 &&
              r.ts_us <= s.t1 + horizonUs) {
            s = s.copy(t3 = r.ts_us); out += StepHit(user, 3, r.ts_us)
          }
        }
      }
      (s, out.iterator)
    }
  }
}
