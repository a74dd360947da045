package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key COUNT windows — Flink's `keyBy(...).countWindow(n)` assigner,
  * the non-time window family the reference's windowedAggregation accepts
  * (SURVEY §2.4: "arbitrary WindowAssigners (e.g. global/count windows) →
  * keyed stateful processing", here on [[KeyedFold]]).
  *
  * Batch: a ranking window assigns each row its per-key sequence number;
  * `(seq - 1) div n` is the window ordinal — one shuffle + one sort, fully
  * native. Streaming: keyed state holds the in-progress window's
  * (count, sum) and emits exactly when it fills — per-key state is one
  * struct regardless of stream length.
  */
object CountWindows {

  /** Batch count-window aggregate: (key, win_seq, cnt, sum) — rows ordered
    * within key by `orderCols` (must form a total order for determinism).
    * The trailing partial window IS emitted — end-of-input flush, matching
    * Flink's BATCH execution of countWindow on bounded input (the streaming
    * variant below never fires partials, matching unbounded Flink). */
  def tumblingCount(df: DataFrame, keyCol: Column, orderCols: Seq[Column],
      valueCol: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    df.select(keyCol.as("key"), valueCol.as("v"), row_number().over(w).as("rn"))
      .select(col("key"), col("v"), expr(s"(rn - 1) div $n").cast("long").as("win_seq"))
      .groupBy("key", "win_seq")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum"))
  }

  final case class KeyedValue(key: String, ts: Long, value: Double)
  final case class CountWindow(key: String, winSeq: Long, cnt: Long, sum: Double)

  /** Internal per-key state (public: Spark's product encoder generates
    * accessor code for it — a private class fails Janino compilation). */
  final case class CwState(winSeq: Long, cnt: Long, sum: Double)

  /** Streaming count windows on [[KeyedFold]]: emits one row per
    * FILLED window of `n` events per key (Flink countWindow semantics — a
    * partial window at stream end never fires). */
  def streaming(ds: Dataset[KeyedValue], n: Int): Dataset[CountWindow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "cw")(_.key) { (key, prev: Option[CwState], rows) =>
      var s = prev.getOrElse(CwState(0L, 0L, 0.0))
      val out = Seq.newBuilder[CountWindow]
      // deterministic order within the micro-batch
      rows.toSeq.sortBy(r => (r.ts, r.value)).foreach { r =>
        s = s.copy(cnt = s.cnt + 1, sum = s.sum + r.value)
        if (s.cnt == n) {
          out += CountWindow(key, s.winSeq, s.cnt, s.sum)
          s = CwState(s.winSeq + 1, 0L, 0.0)
        }
      }
      (s, out.result().iterator)
    }
  }
}
