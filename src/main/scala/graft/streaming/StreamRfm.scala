package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming RFM sufficient statistic — the online half of
  * [[graft.queries.EventAnalytics.rfm]] (stream-job framing per the
  * reference's stateful aggregates, flink/StreamJob.scala:202-222).
  *
  * State per user is EXACTLY the batch aggregate's sufficient statistic:
  * (last_ts, freq, monetary_c) — 24 bytes logical per key. Each
  * micro-batch folds its rows in with max/count/sum (all
  * order-insensitive integer ops, so arrival order inside a batch is
  * irrelevant — no buffering or sorting needed, unlike the
  * order-sensitive CUSUM/EMA twins) and emits the user's CURRENT stats
  * row, so the latest emission per user always equals the batch
  * groupBy over everything ingested so far.
  *
  * The quintile GRID is scored on demand from a stats snapshot via the
  * shared [[graft.queries.EventAnalytics.rfmGrid]] — scoring is
  * positional (global ranks), which no per-key online state can carry;
  * maintaining the tiny per-user statistic online and ranking at read
  * time is exactly how production RFM dashboards are built. Equality to
  * batch `ev_rfm` across ≥3 AvailableNow micro-batches is proven by
  * StreamRfmSpec (grid-level AND stats-level).
  */
object StreamRfm {

  final case class RfmEvent(user_id: Long, ts_us: Long, cents: Long)
  final case class RfmStats(user_id: Long, last_ts: Long, freq: Long,
      monetary_c: Long)

  def apply(ds: Dataset[RfmEvent]): Dataset[RfmStats] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "rfm")(_.user_id) { (user, prev: Option[RfmStats], rows) =>
      var s = prev.getOrElse(RfmStats(user, Long.MinValue, 0L, 0L))
      rows.foreach { r =>
        s = RfmStats(user, math.max(s.last_ts, r.ts_us), s.freq + 1L,
          s.monetary_c + r.cents)
      }
      (s, Iterator.single(s))
    }
  }
}
