package graft.streaming

import graft.{SimpleA, SimpleC, SparkSpec}
import graft.ops.{ControlGate, Dedup}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The keyed-state fold every single-`ValueState` streaming operator runs
  * on: what `step` sees across micro-batches and restarts, the
  * state-after-consumption contract, and the state-variable names that
  * keep existing checkpoints resumable. */
class KeyedFoldSpec extends SparkSpec {

  private type Row = (String, Long)
  /** (key, previous sum or -1 on the key's first batch, new sum) */
  private type Seen = (String, Long, Long)

  /** Per-key running sum that reports the state it was handed. */
  private def sums(ds: Dataset[Row]): Dataset[Seen] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold(ds, "sum")(_._1) { (k, prev: Option[Long], rows) =>
      val next = prev.getOrElse(0L) + rows.map(_._2).sum
      (next, Iterator.single((k, prev.getOrElse(-1L), next)))
    }
  }

  private def memorySink(out: Dataset[_], name: String, ck: String): StreamingQuery =
    out.writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ck).start()

  private def table[T: Encoder](name: String): Seq[T] =
    spark.table(name).as[T].collect().toSeq

  behavior of "KeyedFold"

  it should "hand the first batch of a key None and later batches the stored state" in {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Row]
    val q = memorySink(sums(input.toDS()), "kf_sums",
      SparkSpec.tempDir("kf-sums"))
    input.addData(("a", 1L), ("a", 2L), ("b", 5L))
    q.processAllAvailable()
    input.addData(("a", 10L))
    q.processAllAvailable()
    input.addData(("b", 1L), ("c", 7L))
    q.processAllAvailable()
    q.stop()
    table[Seen]("kf_sums").sorted shouldBe Seq(
      ("a", -1L, 3L), ("a", 3L, 13L), ("b", -1L, 5L), ("b", 5L, 6L),
      ("c", -1L, 7L))
  }

  it should "read back in the next micro-batch the state a stopped query wrote" in {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val ck = SparkSpec.tempDir("kf-restart")
    val got = scala.collection.mutable.ArrayBuffer.empty[Seen]
    def start(input: MemoryStream[Row]): StreamingQuery =
      sums(input.toDS()).writeStream
        .foreachBatch { (b: Dataset[Seen], _: Long) =>
          val rows = b.collect()
          got.synchronized { got ++= rows }
          ()
        }
        .option("checkpointLocation", ck).start()
    val first = MemoryStream[Row]
    first.addData(("a", 4L))
    val q1 = start(first)
    q1.processAllAvailable()
    q1.stop()
    // a new source object resumes from the same checkpoint past the offset
    // already committed: the state store alone carries "a"'s sum across
    val second = MemoryStream[Row]
    second.addData(("a", 4L))
    second.addData(("a", 6L))
    val q2 = start(second)
    q2.processAllAvailable()
    q2.stop()
    got.toSeq shouldBe Seq(("a", -1L, 4L), ("a", 4L, 10L))
  }

  it should "store the state a step mutated while consuming its rows" in {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Row]
    // the SBF shape: one mutable filter, updated row by row while the
    // output is built, serialized once the rows are consumed
    val out = KeyedFold(input.toDS(), "seen")(_._1) {
      (_, prev: Option[Array[Byte]], rows) =>
        val seen = prev.fold(new java.util.BitSet)(java.util.BitSet.valueOf)
        val fresh = rows.filter { r =>
          val isNew = !seen.get(r._2.toInt); seen.set(r._2.toInt); isNew
        }.toVector
        (seen.toByteArray, fresh.iterator)
    }
    val q = memorySink(out, "kf_seen", SparkSpec.tempDir("kf-seen"))
    input.addData(("k", 1L), ("k", 2L), ("k", 2L))
    q.processAllAvailable()
    input.addData(("k", 2L), ("k", 3L), ("k", 1L), ("k", 3L))
    q.processAllAvailable()
    q.stop()
    table[Row]("kf_seen").map(_._2).sorted shouldBe Seq(1L, 2L, 3L)
  }

  it should "keep every operator's state-variable name in the checkpoint" in {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    def one[T: Encoder](row: T): Dataset[T] = {
      val m = MemoryStream[T]
      m.addData(row)
      m.toDS()
    }
    val twins: Seq[(String, Dataset[_])] = Seq(
      "funnel" -> StreamFunnel(one(StreamFunnel.FunnelEvent(1L, 1L, 1L, "view")),
        "view", "click", "purchase", 1L),
      "run" -> StreamScd2(one(StreamScd2.AttrEvent(1L, 1L, 1L, "view"))),
      "retention" -> StreamRetention(one(StreamRetention.RetEvent(1L, 1L, 1L))),
      "roll24" -> StreamRolling(one(StreamRolling.RollEvent(1L, 1L, 1L, 1L))),
      "cusum" -> StreamCusum(one(StreamCusum.CusumEvent(1L, 1L, 1L, 1L)), 0L, 1L),
      "stats" -> StreamAnomaly(one(StreamAnomaly.ValueEvent(1L, "view", 1L))),
      "touches" -> StreamAttribution(
        one(StreamAttribution.AttrEvent(1L, 1L, 1L, "view"))),
      "rfm" -> StreamRfm(one(StreamRfm.RfmEvent(1L, 1L, 1L))),
      "twap" -> StreamTwap(one(StreamTwap.ValueEvent(1L, 1L, 1L, 1L))),
      "ema" -> EmaState(one(EmaState.KeyedValue("k", 1L, 1.0))),
      "cw" -> CountWindows.streaming(one(CountWindows.KeyedValue("k", 1L, 1.0)), 2),
      "active" -> ControlGate.gate(one(SimpleC("c1", "k", 1L, activeFlag = true)),
        one(SimpleA("a1", "k", 2L, 1.0)), batchMode = false),
      "sbf" -> Dedup.sbfStreaming(one(SimpleA("a1", "k", 1L, 1.0))))
    val stateName = "\"stateName\":\"([^\"]+)\"".r
    // Spark's own reader of the operator metadata the checkpoint carries
    val names = twins.map { case (_, out) =>
      val ck = SparkSpec.tempDir("kf-names")
      val q = out.writeStream.format("noop").option("checkpointLocation", ck).start()
      q.processAllAvailable()
      q.stop()
      spark.read.format("state-metadata").load(ck)
        .select("operatorProperties").as[String].collect().toSeq
        .flatMap(stateName.findAllMatchIn(_).map(_.group(1)))
    }
    names shouldBe twins.map { case (name, _) => Seq(name) }
  }
}
