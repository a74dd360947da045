package graft.ops

import graft.algorithm.StableBloomFilter
import graft.model.GraftEvent
import graft.streaming.KeyedFold
import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** Deduplication operators (reference SBFDeduplicationFilter.scala:45-109):
  *
  *  - `exact`: Spark-native `dropDuplicates` on `$dedupeId` (streaming:
  *    `dropDuplicatesWithinWatermark` bounds state by the watermark);
  *  - `sbf`: Stable-Bloom-Filter dedup — the bounded-memory answer for
  *    100 TB streams where exact state would grow without bound. Keyed by
  *    `$key` so filter state shards across executors; each key holds its
  *    own SBF in [[graft.streaming.KeyedFold]] state (streaming) or a per-partition
  *    filter (batch, where partition-local dedup after a key repartition is
  *    exact per key).
  */
object Dedup {

  def exact[E <: GraftEvent: Encoder](ds: Dataset[E], withinWatermark: Boolean = false): Dataset[E] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val tupleEnc: Encoder[(String, E)] =
      Encoders.tuple(Encoders.STRING, implicitly[Encoder[E]])
    val keyed = ds.map(e => (e.$dedupeId, e))
    val deduped =
      if (withinWatermark && ds.isStreaming) keyed.dropDuplicatesWithinWatermark("_1")
      else keyed.dropDuplicates("_1")
    deduped.map(_._2)
  }

  /** Batch SBF dedup: repartition by `$key` so each key's duplicates land in
    * one partition, then run a partition-local filter. Bounded memory per
    * partition regardless of input size. */
  def sbfBatch[E <: GraftEvent: Encoder](
      ds: Dataset[E],
      numCells: Int = 1 << 20,
      bitsPerCell: Int = 3,
      numHashes: Int = 5,
      decayCells: Int = 10): Dataset[E] = {
    import org.apache.spark.sql.functions.col
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val tupleEnc: Encoder[(String, E)] =
      Encoders.tuple(Encoders.STRING, implicitly[Encoder[E]])
    ds.map(e => (e.$dedupeId, e))
      .repartition(col("_1"))
      .mapPartitions { it =>
        val sbf = StableBloomFilter(numCells, bitsPerCell, numHashes, decayCells)
        it.flatMap { case (id, e) => if (sbf.add(id)) None else Some(e) }
      }
  }

  /** Streaming SBF dedup keyed by `$key`: each key's filter lives as bytes
    * in the state store (the reference keeps SBF in keyed Flink state the
    * same way, SBFDeduplicationFilter.scala:66-84). */
  def sbfStreaming[E <: GraftEvent: Encoder](
      ds: Dataset[E],
      numCells: Int = 1 << 16,
      bitsPerCell: Int = 3,
      numHashes: Int = 5,
      decayCells: Int = 10): Dataset[E] = {
    val spark = ds.sparkSession
    import spark.implicits._
    implicit val tupleEnc: Encoder[(String, E)] =
      Encoders.tuple(Encoders.STRING, implicitly[Encoder[E]])
    KeyedFold(ds.map(e => (e.$key, e)), "sbf")(_._1) {
      (_, prev: Option[Array[Byte]], rows) =>
        val sbf = prev.fold(StableBloomFilter(numCells, bitsPerCell, numHashes, decayCells))(
          StableBloomFilter.fromBytes(_, numCells, bitsPerCell, numHashes, decayCells))
        val out = rows.flatMap { case (_, e) =>
          if (sbf.add(e.$dedupeId)) None else Some(e)
        }.toVector
        (sbf.toBytes, out.iterator)
    }
  }
}
