package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming 3-sigma anomaly stats — the incremental form of
  * [[graft.queries.EventAnalytics.anomalyZscore]] (stream-job framing per
  * the reference's stateful aggregates, flink/StreamJob.scala:202-222 and
  * the SSD/variance Welford aggregate, model/aggregate/).
  *
  * The batch query is inherently two-pass: the outlier predicate
  * `(n·x − S)² > 9·(n·Q − S²)` evaluates every event against the FINAL
  * per-type (n, S, Q). The streaming form therefore maintains exactly that
  * sufficient statistic as keyed state — three longs per event type,
  * updated by pure integer addition (order-independent, so the streamed
  * totals are BIT-EQUAL to the batch aggregate, not approximately equal) —
  * and emits the updated snapshot each micro-batch. Flagging is then the
  * shared pure predicate [[flag]] applied against whichever snapshot the
  * caller pins: against the latest snapshot for provisional online flags,
  * or against the final snapshot for batch-exact results (proven by
  * StreamAnomalySpec).
  *
  * Scale shape: state is 24 bytes per event type (a handful of keys), the
  * per-batch fold is map-side combinable, and flagging is a broadcast join
  * of the tiny stats frame — the event stream itself never shuffles.
  */
object StreamAnomaly {

  final case class ValueEvent(event_id: Long, event_type: String, x: Long)
  /** Running per-type sufficient statistic after a micro-batch. `n` is
    * monotonic, so max-n per type is the latest (= final) snapshot. */
  final case class TypeStats(event_type: String, n: Long, s: Long, q: Long)

  def apply(ds: Dataset[ValueEvent]): Dataset[TypeStats] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "stats")(_.event_type) { (t, prev: Option[TypeStats], rows) =>
      var s = prev.getOrElse(TypeStats(t, 0L, 0L, 0L))
      rows.foreach { r =>
        s = TypeStats(t, s.n + 1L, s.s + r.x, s.q + r.x * r.x)
      }
      (s, Iterator.single(s))
    }
  }

  /** The shared integer outlier predicate: given events (event_id,
    * event_type, x cents) and a stats snapshot (event_type, n, s, q),
    * return the rows with `(n·x − s)² > 9·(n·q − s²)` — identical algebra
    * to the batch query, so streamed-final-stats + flag == `ev_anomaly`.
    *
    * The predicate runs in DECIMAL(38,0) like the batch twin — the squared
    * deviation overflows Int64 once per-type `n · max|x|` passes ~3e9
    * (caught at the 10× tier, r16). Remaining precondition: per-type
    * `n · max|x| < ~1.3e19` and `q = Σx² < 2^63` for the Long state
    * accumulator — ~1e6× headroom at the 100× tier. */
  def flag(events: DataFrame, stats: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val dev: Column = col("n").cast(dec) * col("x").cast(dec) - col("s").cast(dec)
    events.join(broadcast(stats.select(col("event_type").as("t"),
        col("n"), col("s"), col("q"))),
      col("event_type") === col("t"))
      .filter(dev * dev > lit(9L).cast(dec) * (col("n").cast(dec) *
        col("q").cast(dec) - col("s").cast(dec) * col("s").cast(dec)))
      .select(col("event_id"), col("event_type"), col("x").as("val_c"))
      .orderBy("event_id")
  }
}
