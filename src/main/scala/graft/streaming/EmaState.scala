package graft.streaming

import graft.agg.EmaFamily
import graft.agg.EmaFamily.{EmaState => S}
import org.apache.spark.sql.Dataset

/** Keyed exponential-moving aggregates as a stateful streaming op — the
  * order-dependent EMA family (reference ExponentialMovingAverage/Variance/
  * StandardDeviation) cannot be a commutative Spark aggregate, so per-key
  * state + deterministic event-time ordering within each micro-batch is the
  * correct Structured Streaming shape. Runs on [[KeyedFold]] (state in the
  * RocksDB-capable state store — the same engine-managed, checkpointed
  * home as every other graft stateful op).
  *
  * Emits one updated (key, count, ema, emv, emsd) row per input event batch.
  */
object EmaState {

  final case class KeyedValue(key: String, ts: Long, value: Double)
  final case class EmaOutput(key: String, count: Long, ema: Double, emv: Double, emsd: Double)

  def apply(
      ds: Dataset[KeyedValue],
      alpha: Double = EmaFamily.DefaultAlpha): Dataset[EmaOutput] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "ema")(_.key) { (key, prev: Option[S], rows) =>
      // deterministic per-key event-time order inside the micro-batch
      val end = rows.toSeq.sortBy(_.ts)
        .foldLeft(prev.getOrElse(S.empty))((s, r) => s.add(r.value, alpha))
      (end, Iterator.single(EmaOutput(key, end.count, end.ema, end.emv, end.emsd)))
    }
  }
}
