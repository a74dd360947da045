package graft.ops

import graft.model.GraftEvent
import graft.streaming.KeyedFold
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Control-gating (reference filterByControlSource, StreamJob.scala:179-227):
  * a data stream keyed like a control stream passes data events only while
  * the latest control event for the key is `$active`.
  *
  * Batch: a running last-ignore-nulls window over the time-ordered union —
  * one shuffle on key, no state.
  * Streaming: the union of tagged events folded per key by
  * [[graft.streaming.KeyedFold]], holding the latest control activation
  * per key in the state store (the reference's keyed filterWithState
  * shape).
  */
object ControlGate {

  /** Internal tagged union row. */
  private[ops] final case class Tagged(
      key: String, ts: Long, isControl: Boolean, active: Boolean, payloadJson: String)

  def gate[D <: GraftEvent: Encoder, C <: GraftEvent: Encoder](
      controls: Dataset[C],
      data: Dataset[D],
      batchMode: Boolean): Dataset[D] =
    if (batchMode) gateBatch(controls, data) else gateStreaming(controls, data)

  private def gateBatch[D <: GraftEvent: Encoder, C <: GraftEvent: Encoder](
      controls: Dataset[C], data: Dataset[D]): Dataset[D] = {
    val spark = data.sparkSession
    import spark.implicits._
    // pair every data event with the latest prior control state for its key
    val c = controls.map(e => (e.$key, e.$timestamp, e.$active)).toDF("k", "ts", "active")
    val d = data.map(e => (e.$key, e.$timestamp, e.$id)).toDF("k", "ts", "id")
    val tagged = c.select(col("k"), col("ts"), lit(true).as("isc"),
        col("active"), lit(null: String).as("id"))
      .unionByName(d.select(col("k"), col("ts"), lit(false).as("isc"),
        lit(false).as("active"), col("id")))
    val w = Window.partitionBy("k").orderBy(col("ts"), col("isc").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gated = tagged
      .withColumn("gate",
        last(when(col("isc"), col("active")), ignoreNulls = true).over(w))
      .filter(!col("isc") && col("gate"))
      .select(col("id").as("gid"))
    // distributed semi-join back to the typed events (no driver collect)
    implicit val pairEnc: Encoder[(String, D)] =
      Encoders.tuple(Encoders.STRING, implicitly[Encoder[D]])
    data.map(e => (e.$id, e)).toDF("gid0", "ev")
      .join(gated, col("gid0") === col("gid"), "left_semi")
      .select(col("ev.*"))
      .as[D]
  }

  private def gateStreaming[D <: GraftEvent: Encoder, C <: GraftEvent: Encoder](
      controls: Dataset[C], data: Dataset[D]): Dataset[D] = {
    val spark = data.sparkSession
    implicit val taggedEnc: Encoder[(String, Long, Boolean, Boolean, D)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong, Encoders.scalaBoolean,
        Encoders.scalaBoolean, implicitly[Encoder[D]])
    import spark.implicits._

    val dTagged = data.map(e => (e.$key, e.$timestamp, false, false, e))
    val cTagged = controls.map { e =>
      (e.$key, e.$timestamp, true, e.$active, null.asInstanceOf[D])
    }
    KeyedFold(cTagged.union(dTagged), "active")(_._1) {
      (_, prev: Option[Boolean], rows) =>
        // within a micro-batch, apply in event-time order (control first on ties)
        var on = prev.contains(true)
        val out = rows.toSeq.sortBy(r => (r._2, !r._3)).flatMap {
          case (_, _, true, a, _) => on = a; None
          case (_, _, false, _, d) => if (on) Some(d) else None
        }
        (on, out.iterator)
    }
  }
}
