package graft.streaming

import org.apache.spark.sql.Dataset

/** SCD2 change-history maintenance as a keyed streaming op — the
  * incremental form of [[graft.queries.EventAnalytics.scd2History]]: each
  * user's consecutive run of an identical attribute value becomes one
  * validity row, emitted the moment the attribute CHANGES (the run's
  * end_us is then known = the new run's start). The still-open run lives
  * only in state — one (attr, start, count, run_no) tuple per key, no
  * event buffering.
  *
  * EQUALITY CONTRACT (proven by StreamScd2Spec): events fold in
  * (ts_us, event_id) order within each micro-batch; under event-time-
  * ordered micro-batch arrival the emitted rows are EXACTLY the batch
  * query's closed runs (end_us != -1), and state holds exactly the batch
  * query's open last run per user. */
object StreamScd2 {

  final case class AttrEvent(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String)
  /** One CLOSED validity interval. */
  final case class RunRow(user_id: Long, run_no: Long, event_type: String,
      start_us: Long, end_us: Long, n_events: Long)
  final case class OpenRun(run_no: Long, attr: String, start_us: Long,
      n_events: Long)

  def apply(ds: Dataset[AttrEvent]): Dataset[RunRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "run")(_.user_id) { (user, prev: Option[OpenRun], rows) =>
      var cur: OpenRun = prev.orNull
      val out = scala.collection.mutable.ListBuffer.empty[RunRow]
      rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).foreach { r =>
        if (cur == null) {
          cur = OpenRun(1L, r.event_type, r.ts_us, 1L)
        } else if (r.event_type == cur.attr) {
          cur = cur.copy(n_events = cur.n_events + 1L)
        } else {
          out += RunRow(user, cur.run_no, cur.attr, cur.start_us, r.ts_us,
            cur.n_events)
          cur = OpenRun(cur.run_no + 1L, r.event_type, r.ts_us, 1L)
        }
      }
      (cur, out.iterator)
    }
  }
}
