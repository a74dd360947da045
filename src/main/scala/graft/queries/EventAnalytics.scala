package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Product-analytics operators over the events stream — the funnel /
  * retention / history / anomaly family every event-analytics engine ships
  * on top of its window primitives (the reference stops at the windowed
  * aggregates themselves: flink/StreamJob.scala:286-315; these are the
  * additive query layer above them).
  *
  * Cross-engine determinism: all comparisons and bucketings are exact
  * integer µs / cents arithmetic (see [[Q]]); nothing here depends on
  * float ordering.
  */
object EventAnalytics {

  /** Ordered-sequence funnel: first `view`, then the first `click` strictly
    * after it, then the first `purchase` strictly after that AND within 7
    * days of the view. Per-step distinct-user counts.
    *
    * Scale shape: each step is a keyed aggregate joined to the previous
    * step's per-user frame — all three joins hash on `user_id`, so one
    * shuffle partitioning carries the whole chain, and each step's frame is
    * at most one row per converting user (AQE broadcasts them when small).
    * No per-user event-list collection, no window over the full stream. */
  /** The per-user step frames (t1 / t2 / t3 with t1 carried through), the
    * shared core of [[funnel]] and [[funnelTimes]]. */
  private def funnelSteps(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ev = events(s, dir).select("user_id", "event_type", "ts_us")
    val horizonUs = 7L * 24 * 3600 * 1000000 // 7 days in µs
    val u1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val u2 = ev.filter(col("event_type") === "click")
      .join(u1, "user_id")
      .filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min("ts_us").as("t2"), min("t1").as("t1"))
    val u3 = ev.filter(col("event_type") === "purchase")
      .join(u2, "user_id")
      .filter(col("ts_us") > col("t2") &&
        col("ts_us") <= col("t1") + lit(horizonUs))
      .groupBy("user_id").agg(min("ts_us").as("t3"), min("t1").as("t1"))
    (u1, u2, u3)
  }

  def funnel(s: SparkSession, dir: String): DataFrame = {
    val (u1, u2, u3) = funnelSteps(s, dir)
    def step(df: DataFrame, name: String): DataFrame =
      df.agg(count(lit(1)).as("users")).select(lit(name).as("step"), col("users"))
    step(u1, "1_view")
      .unionAll(step(u2, "2_click"))
      .unionAll(step(u3, "3_purchase"))
      .orderBy("step")
  }

  /** Time-to-convert over the full funnel: exact integer µs stats of
    * t3 − t1 across converting users (one row — the latency profile a
    * horizon/attribution window is tuned from). */
  def funnelTimes(s: SparkSession, dir: String): DataFrame = {
    val (_, _, u3) = funnelSteps(s, dir)
    u3.select((col("t3") - col("t1")).as("dt"))
      .agg(count(lit(1)).as("n_converted"), min("dt").as("min_us"),
        max("dt").as("max_us"), sum("dt").as("sum_us"))
  }

  val funnelTimesSql: String =
    """WITH u1 AS (SELECT user_id, min(epoch_us(ts)::BIGINT) t1 FROM events
      |            WHERE event_type='view' GROUP BY 1),
      |u2 AS (SELECT e.user_id, min(epoch_us(ts)::BIGINT) t2, min(t1) t1
      |       FROM events e JOIN u1 ON e.user_id=u1.user_id
      |       WHERE event_type='click' AND epoch_us(ts)::BIGINT > t1 GROUP BY 1),
      |u3 AS (SELECT e.user_id, min(epoch_us(ts)::BIGINT) t3, min(t1) t1
      |       FROM events e JOIN u2 ON e.user_id=u2.user_id
      |       WHERE event_type='purchase' AND epoch_us(ts)::BIGINT > t2
      |         AND epoch_us(ts)::BIGINT <= t1 + 604800000000 GROUP BY 1)
      |SELECT count(*)::BIGINT n_converted,
      |       CAST(min(t3 - t1) AS BIGINT) min_us,
      |       CAST(max(t3 - t1) AS BIGINT) max_us,
      |       CAST(sum(t3 - t1) AS BIGINT) sum_us
      |FROM u3""".stripMargin

  /** Seasonality heatmap frame: activity by day-of-week × hour-of-day.
    * Spark's dayofweek is 1=Sunday; the oracle's is 0=Sunday — the −1
    * aligns them. One map-side-combined groupBy over a 168-cell domain. */
  def seasonality(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("val_c"))
      .orderBy("dow", "hod")

  val seasonalitySql: String =
    """SELECT CAST(dayofweek(ts) AS BIGINT) dow, CAST(hour(ts) AS BIGINT) hod,
      |       count(*)::BIGINT cnt,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) val_c
      |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  val funnelSql: String =
    """WITH u1 AS (SELECT user_id, min(epoch_us(ts)::BIGINT) t1 FROM events
      |            WHERE event_type='view' GROUP BY 1),
      |u2 AS (SELECT e.user_id, min(epoch_us(ts)::BIGINT) t2, min(t1) t1
      |       FROM events e JOIN u1 ON e.user_id=u1.user_id
      |       WHERE event_type='click' AND epoch_us(ts)::BIGINT > t1 GROUP BY 1),
      |u3 AS (SELECT e.user_id, min(epoch_us(ts)::BIGINT) t3
      |       FROM events e JOIN u2 ON e.user_id=u2.user_id
      |       WHERE event_type='purchase' AND epoch_us(ts)::BIGINT > t2
      |         AND epoch_us(ts)::BIGINT <= t1 + 604800000000 GROUP BY 1)
      |SELECT * FROM (
      |  SELECT '1_view' step, count(*)::BIGINT users FROM u1
      |  UNION ALL SELECT '2_click', count(*)::BIGINT FROM u2
      |  UNION ALL SELECT '3_purchase', count(*)::BIGINT FROM u3)
      |ORDER BY step""".stripMargin

  /** Cohort retention: users cohorted by the (UTC) day of their first
    * event; per cohort, distinct users active again at day offsets
    * 0/1/3/7. One distinct (user, day) pass, then a user_id-keyed join of
    * the per-user cohort day — the same single-shuffle shape at any scale
    * (the cohort frame is one row per user). */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val act = events(s, dir)
      .select(col("user_id"), epochS(date_trunc("day", col("ts"))).as("d_s"))
      .distinct()
    val first = act.groupBy("user_id").agg(min("d_s").as("cohort_s"))
    act.join(first, "user_id")
      .withColumn("off_days", expr("(d_s - cohort_s) div 86400"))
      .filter(col("off_days").isin(0L, 1L, 3L, 7L))
      .groupBy("cohort_s", "off_days")
      .agg(count(lit(1)).as("users"))
      .orderBy("cohort_s", "off_days")
  }

  val retentionSql: String =
    """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) d0 FROM events
      |           GROUP BY 1),
      |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) d FROM events),
      |j AS (SELECT f.user_id, CAST(floor(epoch(d0)) AS BIGINT) cohort_s,
      |             (CAST(floor(epoch(d)) AS BIGINT)
      |              - CAST(floor(epoch(d0)) AS BIGINT))//86400 AS offd
      |      FROM a JOIN f ON a.user_id=f.user_id)
      |SELECT cohort_s, CAST(offd AS BIGINT) off_days, count(*)::BIGINT users
      |FROM j WHERE offd IN (0,1,3,7) GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** SCD2-style change history: collapse each user's consecutive run of an
    * identical attribute value (event_type here) into one validity row
    * [start_us, end_us) — gaps-and-islands via lag + running break sum.
    * end_us of the last open run is -1 (the "current" row).
    *
    * Scale shape: two window passes and one groupBy, all partitioned by
    * `user_id` — Catalyst reuses a single hash exchange; state per key is
    * one row of lookback, never a buffered history. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runs = events(s, dir)
      .select("user_id", "event_type", "ts_us", "event_id")
      .withColumn("brk",
        when(col("event_type") === lag("event_type", 1).over(w), lit(0))
          .otherwise(lit(1)))
      .withColumn("run_no", sum("brk").over(wRun))
      .groupBy("user_id", "run_no")
      .agg(min("event_type").as("event_type"), min("ts_us").as("start_us"),
        count(lit(1)).as("n_events"))
    val wLead = Window.partitionBy("user_id").orderBy("run_no")
    runs
      .withColumn("end_us",
        coalesce(lead("start_us", 1).over(wLead), lit(-1L)))
      .select("user_id", "run_no", "event_type", "start_us", "end_us",
        "n_events")
      .orderBy("user_id", "run_no")
  }

  /** The SKEW-PROOF twin of [[scd2History]] — identical output (it shares
    * `ev_scd2`'s DuckDB oracle), different physical shape for hot keys:
    *
    *  - the per-key lag+running-sum pass rides [[graft.ops.RangeScan
    *    .runNumbersBucketed]] (the all-codegen two-level scan: window over
    *    fine (user, time-bucket) partitions + seam-chaining on the tiny
    *    summary frame), so one user holding 20% of events spreads over
    *    many tasks instead of sorting on one (the measured 2.7× straggler,
    *    SCALE.md r16);
    *  - the run-level `lead(start_us)` stays a window: the runs frame is
    *    value-CHANGES only and the lead is a single pointer chase — the
    *    measured cost is ~100 ms where a self-join alternative pays a
    *    full shuffle (a one-off stage profile, r16).
    *
    * Use this form when `pipe_skew_audit` flags a dominant key; the window
    * form stays the default on healthy key distributions (codegen'd window
    * beats the two-pass RDD scan there). */
  def scd2Spread(s: SparkSession, dir: String): DataFrame = {
    val base = events(s, dir)
      .select("user_id", "event_type", "ts_us", "event_id")
    val runs = graft.ops.RangeScan
      .runNumbersBucketed(base, "user_id", "ts_us", "event_id", "event_type")
      .groupBy("user_id", "run_no")
      .agg(min("event_type").as("event_type"), min("ts_us").as("start_us"),
        count(lit(1)).as("n_events"))
    val wLead = Window.partitionBy("user_id").orderBy("run_no")
    runs
      .withColumn("end_us",
        coalesce(lead("start_us", 1).over(wLead), lit(-1L)))
      .select("user_id", "run_no", "event_type", "start_us", "end_us",
        "n_events")
      .orderBy("user_id", "run_no")
  }

  val scd2HistorySql: String =
    """WITH o AS (SELECT user_id, event_type, epoch_us(ts)::BIGINT tus, event_id,
      |                  CASE WHEN event_type = lag(event_type) OVER
      |                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |                  THEN 0 ELSE 1 END brk
      |           FROM events),
      |i AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                               ROWS UNBOUNDED PRECEDING) run FROM o),
      |g AS (SELECT user_id, run, min(event_type) event_type, min(tus) start_us,
      |             count(*)::BIGINT n_events FROM i GROUP BY 1,2)
      |SELECT user_id, CAST(run AS BIGINT) run_no, event_type, start_us,
      |       coalesce(lead(start_us) OVER (PARTITION BY user_id ORDER BY run), -1)
      |         end_us,
      |       n_events
      |FROM g ORDER BY user_id, run_no""".stripMargin

  /** 3-sigma outliers per event type, exactly: with per-type count n, cents
    * sum S and square-sum Q, `|x - S/n| > 3·sd` is the INTEGER predicate
    * `(n·x - S)² > 9·(n·Q - S²)` — no float mean/sd, so both engines flag
    * the identical rows. The predicate runs in DECIMAL(38,0) (DuckDB:
    * HUGEINT) — exact 128-bit integers both sides — because the squared
    * deviation overflows Int64 as soon as per-type `n · max|x|` passes
    * ~3e9 (caught by the 10× scale-parity gate, round 16: dev² ≈ 4e20 at
    * 1M events). Remaining precondition: per-type `n · max|x| < ~1.3e19`
    * (dev² inside 38 digits) and `Q = Σx² < 2^63` for the Long
    * accumulation — ~1e6× headroom at the 100× tier.
    *
    * Scale shape: one groupBy for the 5-row stats frame, broadcast back —
    * the event stream itself is scanned once and never shuffled. */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val c = events(s, dir).select(col("event_id"), col("event_type"),
      cents(col("value")).as("x"))
    val dec = "decimal(38,0)"
    val st = c.groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).cast(dec).as("n"), sum("x").cast(dec).as("s0"),
        sum(col("x") * col("x")).cast(dec).as("q"))
    val dev = col("n") * col("x").cast(dec) - col("s0")
    c.join(broadcast(st), col("event_type") === col("t"))
      .filter(dev * dev > lit(9L).cast(dec) *
        (col("n") * col("q") - col("s0") * col("s0")))
      .select(col("event_id"), col("event_type"), col("x").as("val_c"))
      .orderBy("event_id")
  }

  val anomalyZscoreSql: String =
    """WITH c AS (SELECT event_id, event_type,
      |                  CAST(round(value*100) AS BIGINT) x FROM events),
      |st AS (SELECT event_type t, count(*)::HUGEINT n, sum(x)::HUGEINT s,
      |              sum(x*x)::HUGEINT q FROM c GROUP BY 1)
      |SELECT event_id, event_type, x val_c
      |FROM c JOIN st ON event_type = t
      |WHERE (n*x - s)*(n*x - s) > 9 * (n*q - s*s)
      |ORDER BY event_id""".stripMargin

  /** Time-weighted average value per user (left-Riemann: each value is
    * weighted by the ms until the NEXT event). Numerator/denominator stay
    * exact integers (cents × ms — range-checked through sf0.1; DECIMAL at
    * web scale); the single final division is the same IEEE op in both
    * engines. One lag/lead pass on the same user_id shuffle the final
    * aggregation reuses. */
  def twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, dir)
      .select(col("user_id"), cents(col("value")).as("v"), col("ts_us"),
        col("event_id"))
      .withColumn("nxt", lead("ts_us", 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dt_ms", expr("(nxt - ts_us) div 1000"))
      .groupBy("user_id")
      .agg(sum(col("v") * col("dt_ms")).as("twap_num"),
        sum("dt_ms").as("twap_den"))
      .withColumn("twap_c",
        col("twap_num").cast("double") / col("twap_den").cast("double"))
      .orderBy("user_id")
  }

  /** SKEW-PROOF twin of [[twap]] — identical output (shares `ev_twap`'s
    * oracle): the per-row successor pointer rides
    * [[graft.ops.RangeScan.nextTsBucketed]] (adaptive hot-key
    * time-bucketing + next-bucket first-row patch), so the 2.8× hot-user
    * straggler the skew rehearsal measured on the sort-window lead
    * (SCALE.md r16) spreads across tasks; the weighted aggregation after
    * it was always fine-grained. */
  def twapSpread(s: SparkSession, dir: String): DataFrame =
    graft.ops.RangeScan.nextTsBucketed(
        events(s, dir).select(col("user_id"), cents(col("value")).as("v"),
          col("ts_us"), col("event_id")),
        "user_id", "ts_us", "event_id", "nxt")
      .filter(col("nxt").isNotNull)
      .withColumn("dt_ms", expr("(nxt - ts_us) div 1000"))
      .groupBy("user_id")
      .agg(sum(col("v") * col("dt_ms")).as("twap_num"),
        sum("dt_ms").as("twap_den"))
      .withColumn("twap_c",
        col("twap_num").cast("double") / col("twap_den").cast("double"))
      .orderBy("user_id")

  val twapSql: String =
    """WITH o AS (SELECT user_id, CAST(round(value*100) AS BIGINT) v,
      |                  epoch_us(ts)::BIGINT tus, event_id,
      |                  lead(epoch_us(ts)::BIGINT) OVER
      |                    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) nxt
      |           FROM events),
      |seg AS (SELECT user_id, v, (nxt - tus)//1000 dt_ms FROM o WHERE nxt IS NOT NULL)
      |SELECT user_id, CAST(sum(v * dt_ms) AS BIGINT) twap_num,
      |       CAST(sum(dt_ms) AS BIGINT) twap_den,
      |       CAST(sum(v * dt_ms) AS BIGINT)::DOUBLE
      |         / CAST(sum(dt_ms) AS BIGINT)::DOUBLE twap_c
      |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin

  /** OHLC bars per (event_type, hour): open/close are the values at the
    * lexicographic (ts_us, event_id) extremes — deterministic under ties
    * because event_id is unique — via Spark's native struct min/max (one
    * map-side-combined aggregate, no window, no self-join; the DuckDB
    * mirror uses min_by/max_by on a HUGEINT composite key whose 1e10
    * multiplier assumes event_id < 1e10 — snowflake-scale ids would need
    * a wider multiplier THERE; the Spark struct order is magnitude-free). */
  def ohlc(s: SparkSession, dir: String): DataFrame =
    graft.ops.Windows.ohlcBars(
        events(s, dir).select(col("event_type"), col("ts"),
          cents(col("value")).as("v"), col("ts_us"), col("event_id")),
        col("ts"), col("event_type"), "1 hour", col("event_id"), col("v"))
      .select(col("event_type"), unix_timestamp(col("window.start")).as("hour_s"),
        col("open").as("open_c"), col("high").as("high_c"),
        col("low").as("low_c"), col("close").as("close_c"), col("volume"))
      .orderBy("event_type", "hour_s")

  val ohlcSql: String =
    """WITH c AS (SELECT event_type, date_trunc('hour', ts) hr,
      |                  CAST(round(value*100) AS BIGINT) v,
      |                  epoch_us(ts)::HUGEINT * 10000000000 + event_id k
      |           FROM events)
      |SELECT event_type, CAST(floor(epoch(hr)) AS BIGINT) hour_s,
      |       min_by(v, k) open_c, max(v) high_c, min(v) low_c,
      |       max_by(v, k) close_c, count(*)::BIGINT volume
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Cumulative distinct-user curve: new users per first-seen day plus the
    * running total. The windowed cumsum runs over the per-DAY frame (one
    * row per active day — bounded by calendar length, not data), so the
    * single-partition window is safe at any scale. */
  def cumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    val f = events(s, dir)
      .select(col("user_id"), epochS(date_trunc("day", col("ts"))).as("d_s"))
      .groupBy("user_id").agg(min("d_s").as("day_s"))
      .groupBy("day_s").agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy("day_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f.withColumn("cum_users", sum("new_users").over(w))
      .orderBy("day_s")
  }

  val cumulativeUsersSql: String =
    """WITH f AS (SELECT user_id,
      |                  CAST(floor(epoch(min(date_trunc('day', ts)))) AS BIGINT) d0
      |           FROM events GROUP BY 1),
      |g AS (SELECT d0 day_s, count(*)::BIGINT new_users FROM f GROUP BY 1)
      |SELECT day_s, new_users,
      |       CAST(sum(new_users) OVER (ORDER BY day_s ROWS UNBOUNDED PRECEDING)
      |            AS BIGINT) cum_users
      |FROM g ORDER BY day_s""".stripMargin

  /** Changelog compaction (SCD1 latest-wins): the materialized "current
    * state" per key — the whole row at the (ts, event_id) maximum via ONE
    * struct-max aggregate (no window, no self-join; same algebraic trick
    * as [[ohlc]], so it compacts a stream in append mode too). The shape
    * every CDC pipeline runs to collapse a changelog into a table. */
  def latestState(s: SparkSession, dir: String): DataFrame = {
    val k = struct(col("ts_us"), col("event_id"), col("event_type").as("et"),
      cents(col("value")).as("v"))
    events(s, dir)
      .groupBy("user_id")
      .agg(max(k).as("m"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("m.event_id").as("last_event_id"),
        col("m.et").as("last_type"), col("m.v").as("last_val_c"),
        col("m.ts_us").as("last_ts_us"), col("n_events"))
      .orderBy("user_id")
  }

  val latestStateSql: String =
    """WITH k AS (SELECT user_id,
      |                  epoch_us(ts)::HUGEINT * 10000000000 + event_id kk,
      |                  event_id, event_type,
      |                  CAST(round(value*100) AS BIGINT) v,
      |                  epoch_us(ts)::BIGINT tus
      |           FROM events)
      |SELECT user_id, max_by(event_id, kk) last_event_id,
      |       max_by(event_type, kk) last_type, max_by(v, kk) last_val_c,
      |       CAST(max(tus) AS BIGINT) last_ts_us, count(*)::BIGINT n_events
      |FROM k GROUP BY 1 ORDER BY 1""".stripMargin

  /** Behavioral transition matrix: (previous event type → next) counts in
    * deterministic (ts, event_id) order — the first-order Markov frame
    * session personalization and anomaly models start from. One lag()
    * pass; output is |types|² rows regardless of data size. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, dir)
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("prev_type", "next_type")
  }

  val transitionsSql: String =
    """WITH o AS (SELECT user_id, event_type,
      |                  lag(event_type) OVER (PARTITION BY user_id
      |                    ORDER BY ts, event_id) prev
      |           FROM events)
      |SELECT prev prev_type, event_type next_type, count(*)::BIGINT cnt
      |FROM o WHERE prev IS NOT NULL GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  /** Day-over-day distribution drift: L1 distance between consecutive
    * daily event-type share vectors, in EXACT ppm integers (share =
    * cnt·1e6 div day_total; drift = Σ|ppm − prev_ppm|) — the data-drift
    * monitor an ingest gate alarms on, with no float arithmetic to
    * diverge across engines.
    *
    * The share vectors are aligned on the DENSE (active day × corpus
    * type) domain — a type absent on a day contributes ppm=0, so a type
    * VANISHING (the classic distribution collapse) registers its full
    * |prev_ppm| term instead of silently dropping out of the lag. Domain
    * size = days × |types|, bounded by calendar × type-vocabulary, not
    * data. */
  def typeShareDrift(s: SparkSession, dir: String): DataFrame = {
    // four consumers read this aggregate (days, types, per-day totals,
    // the dense-domain join) and their projections all differ, so nothing
    // reuses the exchange — unpersisted, the full events scan + groupBy
    // re-ran four times (r21; the frame itself is days × types, tiny)
    val d = graft.util.CacheBin.persist(events(s, dir)
      .groupBy(epochS(date_trunc("day", col("ts"))).as("day_s"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt")))
    val days = d.select("day_s").distinct()
    val types = d.select("event_type").distinct()
    val t = d.groupBy(col("day_s").as("td")).agg(sum("cnt").as("tot"))
    val dense = days.crossJoin(broadcast(types))
      .join(d, Seq("day_s", "event_type"), "left")
      .join(t, col("day_s") === col("td"))
      .select(col("day_s"), col("event_type"),
        expr("(coalesce(cnt, 0L) * 1000000) div tot").as("ppm"))
    val w = Window.partitionBy("event_type").orderBy("day_s")
    dense.withColumn("prev_ppm", lag("ppm", 1).over(w))
      .filter(col("prev_ppm").isNotNull)
      .groupBy("day_s")
      .agg(sum(abs(col("ppm") - col("prev_ppm"))).as("l1_drift_ppm"),
        count(lit(1)).as("n_types"))
      .orderBy("day_s")
  }

  val typeShareDriftSql: String =
    """WITH d AS (SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) day_s,
      |                  event_type, count(*)::BIGINT cnt
      |           FROM events GROUP BY 1,2),
      |t AS (SELECT day_s, CAST(sum(cnt) AS BIGINT) tot FROM d GROUP BY 1),
      |dom AS (SELECT dd.day_s, ty.event_type
      |        FROM (SELECT DISTINCT day_s FROM d) dd,
      |             (SELECT DISTINCT event_type FROM d) ty),
      |p AS (SELECT dom.day_s, dom.event_type,
      |             (coalesce(d.cnt, 0) * 1000000) // t.tot ppm
      |      FROM dom LEFT JOIN d ON dom.day_s = d.day_s
      |                          AND dom.event_type = d.event_type
      |      JOIN t ON dom.day_s = t.day_s),
      |l AS (SELECT day_s, event_type, ppm,
      |             lag(ppm) OVER (PARTITION BY event_type ORDER BY day_s) prev_ppm
      |      FROM p)
      |SELECT day_s, CAST(sum(abs(ppm - prev_ppm)) AS BIGINT) l1_drift_ppm,
      |       count(*)::BIGINT n_types
      |FROM l WHERE prev_ppm IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin

  /** Revenue concentration: the top-decile users' share of total revenue
    * in exact ppm (the Pareto/whale analysis a monetization or abuse team
    * runs). The global rank is the DISTRIBUTED two-pass
    * [[graft.ops.Packing.globalRank]] over (revenue desc, user_id) — no
    * single-partition `row_number()` window anywhere, so the plan holds at
    * billions of users (round 18; the oracle keeps the plain window as the
    * equivalence proof); totals ride a broadcast 1-row frame. */
  def powerUsers(s: SparkSession, dir: String): DataFrame = {
    val u = events(s, dir).groupBy("user_id")
      .agg(sum(cents(col("value"))).as("c"))
      .withColumn("negc", -col("c")) // rank asc by (-c, user) == (c desc, user)
    val tot = u.agg(count(lit(1)).as("n"), sum("c").as("tot"))
    graft.ops.Packing.globalRank(u, Seq("negc"), "user_id", "rn")
      .crossJoin(broadcast(tot))
      .agg(min("n").as("n_users"),
        expr("(min(n)+9) div 10").as("top_decile_users"),
        sum(when(col("rn") <= expr("(n+9) div 10"), col("c")).otherwise(0L))
          .as("top_decile_c"),
        min("tot").as("total_c"))
      .withColumn("share_ppm", expr("top_decile_c * 1000000 div total_c"))
  }

  val powerUsersSql: String =
    """WITH u AS (SELECT user_id, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) c
      |           FROM events GROUP BY 1),
      |r AS (SELECT user_id, c, row_number() OVER (ORDER BY c DESC, user_id) rn,
      |             count(*) OVER () n, CAST(sum(c) OVER () AS BIGINT) tot FROM u)
      |SELECT CAST(min(n) AS BIGINT) n_users,
      |       CAST((min(n) + 9) // 10 AS BIGINT) top_decile_users,
      |       CAST(sum(CASE WHEN rn <= (n + 9) // 10 THEN c ELSE 0 END) AS BIGINT) top_decile_c,
      |       CAST(min(tot) AS BIGINT) total_c,
      |       CAST(sum(CASE WHEN rn <= (n + 9) // 10 THEN c ELSE 0 END) * 1000000
      |            // min(tot) AS BIGINT) share_ppm
      |FROM r""".stripMargin

  /** Multi-touch ATTRIBUTION: every `purchase` is a conversion; the same
    * user's `view`/`click` events strictly before it and within a 7-day
    * lookback are its touchpoints. Three standard credit models over the
    * same touch frame — `first` (all credit to the earliest touch),
    * `last` (to the latest), `linear` (split evenly) — reported as total
    * credited ppm and credited-touch counts per (model, touch type).
    *
    * Cross-engine exactness: credits are integer PPM per conversion.
    * Linear's 1000000/n splits as floor(1e6/n) per touch with the
    * remainder (1e6 mod n) distributed +1 to the n_mod earliest touches
    * (rank order, event_id tie-break), so every conversion's credit sums
    * to exactly 1,000,000 in BOTH engines — no float division anywhere.
    *
    * Scale shape: one user_id-keyed shuffle joins touches to conversions
    * (per-user fan-out = touches×conversions inside the lookback, bounded
    * by per-user activity; the hot-key remedy is the quota/salt chain
    * pipe_skew_audit drives); one conv_id-keyed exchange ranks each
    * conversion's touch list (lists are lookback-bounded, never
    * corpus-sized); the final aggregate is 6 rows. */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val lookbackUs = 7L * 24 * 3600 * 1000000
    val ev = events(s, dir).select("event_id", "user_id", "event_type", "ts_us")
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts_us").as("conv_ts"))
    val touch = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("ts_us").as("touch_ts"))
    val paired = touch.join(conv, "user_id")
      .filter(col("touch_ts") < col("conv_ts") &&
        col("touch_ts") >= col("conv_ts") - lit(lookbackUs))
    val w = Window.partitionBy("conv_id")
    val ranked = paired
      .withColumn("rk", row_number().over(w.orderBy("touch_ts", "touch_id")))
      .withColumn("n", count(lit(1)).over(w))
    val credited = ranked.select(col("touch_type"),
      when(col("rk") === 1, lit(1000000L)).otherwise(lit(0L)).as("c_first"),
      when(col("rk") === col("n"), lit(1000000L)).otherwise(lit(0L)).as("c_last"),
      (expr("1000000L div n") +
        when(col("rk") <= expr("1000000L % n"), 1L).otherwise(0L)).as("c_linear"))
    def model(name: String, c: String): DataFrame =
      credited.groupBy("touch_type")
        .agg(sum(col(c)).as("credit_ppm"),
          sum(when(col(c) > 0, 1L).otherwise(0L)).as("touches"))
        .select(lit(name).as("model"), col("touch_type"), col("credit_ppm"),
          col("touches"))
    model("first", "c_first")
      .unionAll(model("last", "c_last"))
      .unionAll(model("linear", "c_linear"))
      .orderBy("model", "touch_type")
  }

  val attributionSql: String =
    """WITH conv AS (SELECT user_id, event_id conv_id, epoch_us(ts)::BIGINT conv_ts
      |              FROM events WHERE event_type = 'purchase'),
      |touch AS (SELECT user_id, event_id touch_id, event_type touch_type,
      |                 epoch_us(ts)::BIGINT touch_ts
      |          FROM events WHERE event_type IN ('view', 'click')),
      |p AS (SELECT t.touch_type, c.conv_id, t.touch_ts, t.touch_id
      |      FROM touch t JOIN conv c ON t.user_id = c.user_id
      |      WHERE t.touch_ts < c.conv_ts
      |        AND t.touch_ts >= c.conv_ts - 604800000000),
      |r AS (SELECT touch_type,
      |             row_number() OVER (PARTITION BY conv_id
      |                                ORDER BY touch_ts, touch_id) rk,
      |             count(*) OVER (PARTITION BY conv_id) n
      |      FROM p),
      |cr AS (SELECT touch_type,
      |              CASE WHEN rk = 1 THEN 1000000 ELSE 0 END c_first,
      |              CASE WHEN rk = n THEN 1000000 ELSE 0 END c_last,
      |              1000000 // n + (CASE WHEN rk <= 1000000 % n THEN 1 ELSE 0 END) c_linear
      |       FROM r)
      |SELECT model, touch_type, CAST(credit_ppm AS BIGINT) credit_ppm,
      |       CAST(touches AS BIGINT) touches FROM (
      |  SELECT 'first' model, touch_type, sum(c_first) credit_ppm,
      |         sum(CASE WHEN c_first > 0 THEN 1 ELSE 0 END) touches
      |  FROM cr GROUP BY 2
      |  UNION ALL
      |  SELECT 'last', touch_type, sum(c_last),
      |         sum(CASE WHEN c_last > 0 THEN 1 ELSE 0 END)
      |  FROM cr GROUP BY 2
      |  UNION ALL
      |  SELECT 'linear', touch_type, sum(c_linear),
      |         sum(CASE WHEN c_linear > 0 THEN 1 ELSE 0 END)
      |  FROM cr GROUP BY 2)
      |ORDER BY model, touch_type""".stripMargin

  /** RFM segmentation (recency / frequency / monetary — the classic
    * customer-value grid): per user, last-activity timestamp, event count,
    * and cents revenue; each dimension quintile-scored 1–5 positionally
    * (ntile(5) semantics over the TOTAL order (metric, user_id) — the
    * tie-break is what makes both engines assign identical scores), then
    * rolled up to the 125-cell segment grid with user counts and total
    * cents.
    *
    * Scale shape (round 18 killed the repo's last single-partition window;
    * round 20, VERDICT r19 #3, cut the orchestration constant): one
    * user_id-keyed aggregate builds the keys-sized per-user frame; the
    * three metrics are unpivoted to (m, v, user_id) and ranked in ONE
    * DISTRIBUTED two-pass [[graft.ops.Packing.globalRank]] over the total
    * order (m, v, user_id) — metric-major, so each per-metric position is
    * the narrow expression gp − m·n (three chained rank passes used to pay
    * 3× the sample/shuffle/offsets-collect round trips); one user_id
    * groupBy re-assembles the positions; the quintile is
    * then a closed-form narrow expression of (position, n) that reproduces
    * ntile(5)'s bucket sizes exactly — bucket k of n rows spans positions
    * (cum_{k−1}, cum_k], base = n div 5, the first n mod 5 buckets one
    * larger. The ORACLE keeps plain `ntile(5) over (ORDER BY …)`: the
    * hash match IS the proof the distributed formulation equals the
    * window. Final rollup is ≤125 rows. */
  def rfm(s: SparkSession, dir: String): DataFrame = rfmGrid(rfmStats(s, dir))

  /** The per-user RFM sufficient statistic (last_ts, freq, monetary_c) —
    * the 24 B/key frame [[graft.streaming.StreamRfm]] maintains online;
    * batch and stream share [[rfmGrid]] for the scoring half. */
  def rfmStats(s: SparkSession, dir: String): DataFrame =
    events(s, dir).groupBy("user_id")
      .agg(max("ts_us").as("last_ts"),
        count(lit(1)).as("freq"),
        sum(cents(col("value"))).as("monetary_c"))

  /** Quintile-score a (user_id, last_ts, freq, monetary_c) frame and roll
    * up the 125-cell grid (the scoring half of [[rfm]], shared with the
    * streaming twin's state snapshot). */
  def rfmGrid(u: DataFrame): DataFrame = {
    import graft.ops.Packing.globalRank
    // ONE distributed rank pass instead of three chained ones (round 20,
    // VERDICT r19 #3): each globalRank pays a range-sample job, a range
    // shuffle and an offsets collect, so the chained form was ~9 jobs of
    // pure orchestration (1.96 s at sf0.1 for microseconds of arithmetic).
    // Unpivot the three metrics into (m, v, user_id) — 3n skinny rows —
    // rank ONCE over the total order (m, v, user_id), and read each
    // per-metric position as global_pos − m·n: every metric contributes
    // exactly n rows and the order is metric-major, so the m-th block
    // occupies global positions (m·n, (m+1)·n]. Bit-identical to the three
    // independent (value, user_id) ranks (the oracle's ntile windows) by
    // construction; one user_id groupBy re-assembles the positions.
    // monetary_c needs no extra carry — it IS metric 2's value.
    val up = u.select(col("user_id"),
      explode(array(
        struct(lit(0L).as("m"), col("last_ts").cast("long").as("v")),
        struct(lit(1L).as("m"), col("freq").cast("long").as("v")),
        struct(lit(2L).as("m"), col("monetary_c").cast("long").as("v")))).as("x"))
      .select(col("user_id"), col("x.m").as("m"), col("x.v").as("v"))
    // n3 = 3n rides out of the rank pass as a driver-side literal (the
    // per-partition counts are already collected there) — no separate
    // count aggregate, no broadcast exchange
    val byUser = graft.ops.Packing
      .globalRankWithTotal(up, Seq("m", "v"), "user_id", "gp", Some("n3"))
      .withColumn("p", col("gp") - col("m") * expr("n3 div 3"))
      .groupBy("user_id")
      .agg(max(when(col("m") === 0L, col("p"))).as("p_r"),
        max(when(col("m") === 1L, col("p"))).as("p_f"),
        max(when(col("m") === 2L, col("p"))).as("p_m"),
        max(when(col("m") === 2L, col("v"))).as("monetary_c"),
        expr("max(n3) div 3").as("n"))
    // exact ntile(5) from 1-based position p and row count n
    def quint(p: String) = expr(
      s"CASE WHEN $p <= (n % 5) * (n div 5 + 1)" +
        s" THEN ($p - 1) div (n div 5 + 1) + 1" +
        s" ELSE (n % 5) + ($p - (n % 5) * (n div 5 + 1) - 1) div (n div 5) + 1 END")
    byUser
      .select(quint("p_r").as("r_score"), quint("p_f").as("f_score"),
        quint("p_m").as("m_score"), col("monetary_c"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"), sum("monetary_c").as("tot_c"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmSql: String =
    """WITH u AS (SELECT user_id, max(epoch_us(ts)::BIGINT) last_ts,
      |                  count(*)::BIGINT freq,
      |                  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) monetary_c
      |           FROM events GROUP BY 1),
      |q AS (SELECT user_id, monetary_c,
      |             CAST(ntile(5) OVER (ORDER BY last_ts, user_id) AS BIGINT) r_score,
      |             CAST(ntile(5) OVER (ORDER BY freq, user_id) AS BIGINT) f_score,
      |             CAST(ntile(5) OVER (ORDER BY monetary_c, user_id) AS BIGINT) m_score
      |      FROM u)
      |SELECT r_score, f_score, m_score, count(*)::BIGINT n_users,
      |       CAST(sum(monetary_c) AS BIGINT) tot_c
      |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "ev_attribution" -> (attribution _),
    "ev_rfm" -> (rfm _),
    "ev_power_users" -> (powerUsers _),
    "ev_share_drift" -> (typeShareDrift _),
    "ev_latest_state" -> (latestState _),
    "ev_transitions" -> (transitions _),
    "ev_funnel_times" -> (funnelTimes _),
    "ev_seasonality" -> (seasonality _),
    "ev_twap" -> (twap _),
    "ev_twap_spread" -> (twapSpread _),
    "ev_ohlc" -> (ohlc _),
    "ev_cumulative_users" -> (cumulativeUsers _),
    "ev_funnel" -> (funnel _),
    "ev_retention" -> (retention _),
    "ev_scd2" -> (scd2History _),
    "ev_scd2_spread" -> (scd2Spread _),
    "ev_anomaly" -> (anomalyZscore _),
  )

  val oracle: Map[String, String] = Map(
    "ev_attribution" -> attributionSql,
    "ev_rfm" -> rfmSql,
    "ev_power_users" -> powerUsersSql,
    "ev_share_drift" -> typeShareDriftSql,
    "ev_latest_state" -> latestStateSql,
    "ev_transitions" -> transitionsSql,
    "ev_funnel_times" -> funnelTimesSql,
    "ev_seasonality" -> seasonalitySql,
    "ev_twap" -> twapSql,
    "ev_twap_spread" -> twapSql, // identical output by contract
    "ev_ohlc" -> ohlcSql,
    "ev_cumulative_users" -> cumulativeUsersSql,
    "ev_funnel" -> funnelSql,
    "ev_retention" -> retentionSql,
    "ev_scd2" -> scd2HistorySql,
    "ev_scd2_spread" -> scd2HistorySql, // identical output by contract
    "ev_anomaly" -> anomalyZscoreSql,
  )
}
