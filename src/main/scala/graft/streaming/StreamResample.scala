package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode, StatefulProcessor, StatefulProcessorHandle, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming form of [[graft.ops.Resample.locf]] — continuous per-key
  * LOCF resampling onto a fixed grid with event-time timers.
  *
  * Semantics (identical to the batch operator over the closed prefix): per
  * key, the grid starts at the key's first observed bucket; a bucket's
  * value is its last observation (max (ts, seq) order) or, for gap
  * buckets, the previous grid value carried forward. A bucket EMITS when
  * the watermark passes its end — from then on no in-order observation can
  * change it — and emission never runs past the newest observed bucket, so
  * an idle key occupies no timer and emits nothing until data returns
  * (matching the batch grid, which ends at the key's last observation).
  *
  * The reference's windowed-aggregation driver (StreamJob.scala:286-315)
  * fires once per window WITH data; gap-fill needs the complementary
  * "fire even without data" discipline, which is exactly what the
  * [[StatefulProcessor]] timer API provides: one armed timer per key at
  * the next unemitted bucket's end (clear-then-arm single-timeout
  * discipline, like [[AllowedLateness]]).
  *
  * State per key is bounded by the key's out-of-orderness horizon: a
  * cursor (last emitted bucket + its value) plus the not-yet-closed
  * observed buckets in a MapState — at most
  * ceil(maxOutOfOrderness/step)+1 live entries, RocksDB-backed. The plan
  * is one shuffle on the key, the same shape as any stateful aggregation;
  * at 100 TB the grid densification cost is the emitted row count, never a
  * driver-side calendar.
  */
object StreamResample {

  /** One observation; `seq` breaks within-bucket ts ties deterministically
    * (pass a unique id — the batch twin's orderKey contract). */
  final case class Obs(key: String, ts: java.sql.Timestamp, value: Double, seq: Long)

  /** One grid cell: `bucketStart` is epoch millis of the grid-aligned
    * bucket; `observed` is false for LOCF-filled gap rows. */
  final case class Filled(key: String, bucketStart: Long, value: Double, observed: Boolean)

  /** Emission cursor (public: product encoder). `started` is false until
    * the first bucket closes; `lastBucket`/`lastValue` then track the
    * newest emitted grid cell; `maxObs` the newest observed bucket. */
  final case class Cursor(lastBucket: Long, lastValue: Double, maxObs: Long, started: Boolean)

  /** Best observation of a not-yet-closed bucket. */
  final case class Best(ts: Long, seq: Long, value: Double)

  /** Delete every timer of the current key except `firing`, the expiry of
    * the timer being handled, which Spark has already removed. */
  private def clearTimers(h: StatefulProcessorHandle, firing: Option[Long]): Unit =
    h.listTimers().foreach { t =>
      val at = t.asInstanceOf[Long]
      if (!firing.contains(at)) h.deleteTimer(at)
    }

  private final class LocfProcessor(stepMs: Long)
      extends StatefulProcessor[String, Obs, Filled] {

    @transient private var cur: ValueState[Cursor] = _
    @transient private var pend: MapState[Long, Best] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cur = getHandle.getValueState[Cursor]("cur", Encoders.product[Cursor], TTLConfig.NONE)
      pend = getHandle.getMapState[Long, Best]("pend",
        Encoders.scalaLong, Encoders.product[Best], TTLConfig.NONE)
    }

    private def bucketOf(tsMs: Long): Long = Math.floorDiv(tsMs, stepMs) * stepMs

    /** Emit every closable bucket: from the cursor (or the key's first
      * observed bucket) up to min(watermark-closed, newest observed). */
    private def drain(key: String, wmMs: Long): (Cursor, List[Filled]) = {
      var c = if (cur.exists()) cur.get() else Cursor(0L, 0.0, Long.MinValue, started = false)
      val out = List.newBuilder[Filled]
      if (!c.started) {
        // grid starts at the key's first observed bucket
        val ks = pend.keys()
        if (!ks.hasNext) return (c, Nil)
        var first = Long.MaxValue
        while (ks.hasNext) first = math.min(first, ks.next())
        c = c.copy(lastBucket = first - stepMs)
      }
      var next = c.lastBucket + stepMs
      var lastValue = c.lastValue
      var started = c.started
      while (next <= c.maxObs && next + stepMs <= wmMs) {
        val obs = pend.getValue(next) // null when the bucket is a gap
        val observed = obs != null
        val v = if (observed) { pend.removeKey(next); obs.value } else lastValue
        out += Filled(key, next, v, observed)
        lastValue = v
        started = true
        next += stepMs
      }
      (Cursor(next - stepMs, lastValue, c.maxObs, started), out.result())
    }

    /** Clear-then-arm: one timer, at the next unemitted bucket's end. */
    private def rearm(c: Cursor, wmMs: Long, firing: Option[Long]): Unit = {
      clearTimers(getHandle, firing)
      if (c.maxObs > c.lastBucket || !c.started)
        getHandle.registerTimer(math.max(c.lastBucket + 2 * stepMs, wmMs + 1))
    }

    override def handleInputRows(key: String, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[Filled] = {
      var c = if (cur.exists()) cur.get() else Cursor(0L, 0.0, Long.MinValue, started = false)
      rows.foreach { o =>
        val b = bucketOf(o.ts.getTime)
        // behind the emitted frontier: too late for in-order LOCF — dropped
        // (the widened watermark makes this the same per-row cutoff the
        // batch twin's deterministic order would resolve)
        if (!(c.started && b <= c.lastBucket)) {
          val prev = pend.getValue(b)
          if (prev == null || o.ts.getTime > prev.ts ||
              (o.ts.getTime == prev.ts && o.seq > prev.seq))
            pend.updateValue(b, Best(o.ts.getTime, o.seq, o.value))
          if (b > c.maxObs) c = c.copy(maxObs = b)
        }
      }
      cur.update(c)
      val wm = timerValues.getCurrentWatermarkInMs()
      val (nc, out) = drain(key, wm)
      cur.update(nc)
      rearm(nc, wm, None)
      out.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Filled] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val (nc, out) = drain(key, wm)
      cur.update(nc)
      rearm(nc, wm, Some(expiredTimerInfo.getExpiryTimeInMs()))
      out.iterator
    }
  }

  /** LOCF-resampled stream: one `Filled` row per closed grid cell per key,
    * in grid order within each key. */
  def locf(
      ds: Dataset[Obs],
      stepMs: Long,
      maxOutOfOrdernessMs: Long): Dataset[Filled] = {
    implicit val outEnc: Encoder[Filled] = Encoders.product[Filled]
    ds.withWatermark("ts", s"$maxOutOfOrdernessMs milliseconds")
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new LocfProcessor(stepMs),
        TimeMode.EventTime(), OutputMode.Append(), outEnc)
  }

  // ---- linear interpolation (streaming twin of Resample.linearScaled) ----

  /** One observation with an INTEGER value (e.g. cents) — the exactness
    * contract of [[graft.ops.Resample.linearScaled]]. */
  final case class IObs(key: String, ts: java.sql.Timestamp, c: Long, seq: Long)

  /** One grid cell: `valueScaled` = c·subScale at observed cells, the exact
    * integer interpolation at gap cells. */
  final case class IFilled(key: String, bucketStart: Long, valueScaled: Long, observed: Boolean)

  /** Interpolation cursor: the last FINALIZED observation (open segment
    * start). */
  final case class ICursor(b0: Long, c0: Long, started: Boolean)

  /** Best integer observation of a not-yet-finalized bucket. */
  final case class IBest(ts: Long, seq: Long, c: Long)

  private final class InterpProcessor(stepMs: Long, subScale: Long)
      extends StatefulProcessor[String, IObs, IFilled] {

    @transient private var cur: ValueState[ICursor] = _
    @transient private var pend: MapState[Long, IBest] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cur = getHandle.getValueState[ICursor]("cur", Encoders.product[ICursor], TTLConfig.NONE)
      pend = getHandle.getMapState[Long, IBest]("pend",
        Encoders.scalaLong, Encoders.product[IBest], TTLConfig.NONE)
    }

    private def bucketOf(tsMs: Long): Long = Math.floorDiv(tsMs, stepMs) * stepMs

    /** An observed bucket FINALIZES when the watermark passes its end (its
      * best-of-bucket can no longer change). Finalization is prefix-closed
      * in bucket order, and a finalized observation at b1 closes every gap
      * cell of the segment (b0, b1) at once — gap values need BOTH
      * endpoints, which is exactly why interpolation (unlike LOCF) never
      * emits past the last finalized observation. */
    private def drain(key: String, wmMs: Long): (ICursor, List[IFilled]) = {
      var c = if (cur.exists()) cur.get() else ICursor(0L, 0L, started = false)
      val ready = {
        val ks = pend.keys()
        val b = List.newBuilder[Long]
        while (ks.hasNext) { val k = ks.next(); if (k + stepMs <= wmMs) b += k }
        b.result().sorted
      }
      val out = List.newBuilder[IFilled]
      ready.foreach { b1 =>
        val obs = pend.getValue(b1)
        pend.removeKey(b1)
        if (c.started) {
          val span = (b1 - c.b0) / stepMs
          var i = 1L
          while (i < span) {
            // exact integer interpolation, identical to the batch twin
            val v = (c.c0 * (span - i) + obs.c * i) * subScale / span
            out += IFilled(key, c.b0 + i * stepMs, v, observed = false)
            i += 1
          }
        }
        out += IFilled(key, b1, obs.c * subScale, observed = true)
        c = ICursor(b1, obs.c, started = true)
      }
      (c, out.result())
    }

    /** As LOCF's rearm: one timer, at the oldest pending bucket's end. */
    private def rearm(wmMs: Long, firing: Option[Long]): Unit = {
      clearTimers(getHandle, firing)
      val ks = pend.keys()
      var next = Long.MaxValue
      while (ks.hasNext) next = math.min(next, ks.next())
      if (next != Long.MaxValue)
        getHandle.registerTimer(math.max(next + stepMs, wmMs + 1))
    }

    override def handleInputRows(key: String, rows: Iterator[IObs],
        timerValues: TimerValues): Iterator[IFilled] = {
      val c = if (cur.exists()) cur.get() else ICursor(0L, 0L, started = false)
      rows.foreach { o =>
        val b = bucketOf(o.ts.getTime)
        if (!(c.started && b <= c.b0)) { // behind the finalized frontier: drop
          val prev = pend.getValue(b)
          if (prev == null || o.ts.getTime > prev.ts ||
              (o.ts.getTime == prev.ts && o.seq > prev.seq))
            pend.updateValue(b, IBest(o.ts.getTime, o.seq, o.c))
        }
      }
      val wm = timerValues.getCurrentWatermarkInMs()
      val (nc, out) = drain(key, wm)
      cur.update(nc)
      rearm(wm, None)
      out.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[IFilled] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val (nc, out) = drain(key, wm)
      cur.update(nc)
      rearm(wm, Some(expiredTimerInfo.getExpiryTimeInMs()))
      out.iterator
    }
  }

  /** Linearly interpolated stream: grid cells emit as soon as both segment
    * endpoints are finalized by the watermark — bit-identical values to
    * [[graft.ops.Resample.linearScaled]] over the closed prefix. */
  def linearScaled(
      ds: Dataset[IObs],
      stepMs: Long,
      maxOutOfOrdernessMs: Long,
      subScale: Long = 10000L): Dataset[IFilled] = {
    implicit val outEnc: Encoder[IFilled] = Encoders.product[IFilled]
    ds.withWatermark("ts", s"$maxOutOfOrdernessMs milliseconds")
      .groupByKey(_.key)(Encoders.STRING)
      .transformWithState(new InterpProcessor(stepMs, subScale),
        TimeMode.EventTime(), OutputMode.Append(), outEnc)
  }
}
