package graft.streaming

import graft.ops.NearDup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming NEAR-duplicate front door: the stateful composition of
  * [[NearDup]]'s MinHash-LSH band keys with cross-micro-batch state, so a
  * document stream drops near-duplicates of anything seen within the
  * retention window — the C4-style ingest gate, one step stronger than the
  * canonical-URL front door (exact key) because it catches REWORDED
  * near-copies.
  *
  * Policy (single-pass, deterministic): a document is dropped iff any of
  * its band keys was seen in a retained earlier micro-batch, or appears on
  * a smaller-id document in the same batch. Band keys of EVERY processed
  * document register (kept or dropped) — the same semantics as the SBF
  * dedup filter, whose `add` registers while it checks
  * (reference operator/SBFDeduplicationFilter.scala:85-108).
  *
  * State shape (the 100 TB contract): band keys live in a PARTITIONED
  * table (`batch=<id>` subdirs), not executor memory — restart-safe,
  * shared across executors, and append-only per micro-batch with
  * deterministic overwrite into the batch's own partition, so micro-batch
  * REPLAY is idempotent (same discipline as the commitTag-named avro
  * sink). Lookups are one left-semi equi-join per batch on (band, k) —
  * never a pair scan.
  *
  * Retention comes in two forms, composable:
  *  - `retainBatches`: keep the last N batch partitions (operational cap).
  *  - EVENT-TIME retention (`eventTimeCol` + `retentionMs`): the
  *    watermark-aligned form real ingest wants — a key expires once its
  *    event time falls more than `retentionMs` behind the observed
  *    watermark (max event time across the batch and ALL state
  *    partitions, so neither a late nor a replayed batch regresses it).
  *    Each band key registers with the max event time of the docs that
  *    carried it; each partition records its max in a `_MAX_ET` sidecar,
  *    so the watermark and the eviction set come from driver-side sidecar
  *    reads, never a per-batch state scan. The lookup filters expired
  *    keys row-precise, and whole partitions whose MAX event time expired
  *    are deleted from disk — dropDuplicatesWithinWatermark's eviction
  *    discipline applied to band-key state. A NULL event time fails the
  *    batch loudly (it could neither match later lookups nor register
  *    honestly).
  */
object StreamNearDup {

  /** Process one micro-batch against the band-key state at `statePath`:
    * returns the kept rows of `batch`, registers all of the batch's band
    * keys under `batch=<batchId>`, and evicts expired partitions. Callable
    * from any foreachBatch loop (see [[frontDoor]]) and directly testable
    * as a batch function.
    *
    * `eventTimeCol` must be numeric epoch-based and `retentionMs` in the
    * same unit (named for the common millis case). A state dir written
    * without event-time mode cannot be read with it (no `et` column) —
    * pick one mode per state path. */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      statePath: String, p: NearDup.Params = NearDup.Params(),
      batchId: Long = 0L, retainBatches: Int = Int.MaxValue,
      eventTimeCol: Option[String] = None, retentionMs: Long = -1L): DataFrame = {
    val spark = batch.sparkSession
    require(eventTimeCol.isEmpty || retentionMs > 0,
      s"event-time retention needs retentionMs > 0, got $retentionMs")
    // (doc_id, band, k [, et]): narrow shingle→minhash maps + one explode.
    // Feeds the state lookup, the in-batch window AND the register write —
    // persist for the micro-batch, released before returning
    val bands0 = NearDup.bandKeys(
      NearDup.signatures(NearDup.shingleHashes(batch, idCol, textCol, p), p), p)
    val bands = (eventTimeCol match {
      case Some(c) => bands0.join(
        batch.select(col(idCol).as("__eid"), col(c).cast("long").as("et")),
        bands0("doc_id") === col("__eid")).drop("__eid")
      case None => bands0
    }).persist()
    val seen = BatchState.read(spark, statePath, batchId)
    // watermark-aligned expiry floor: a key is live iff et >= floor.
    // The watermark is the max event time over this batch AND every state
    // partition (read from the per-partition _MAX_ET sidecars — no state
    // scan), so neither a late nor a replayed batch can regress it. No
    // event time observed anywhere -> no floor (nothing filtered, nothing
    // evicted) — never an underflowed sentinel arithmetic.
    val batchMaxOpt: Option[Long] = eventTimeCol.flatMap { etCol =>
      val r = bands.agg(max("et").as("mx"),
        count(when(col("et").isNull, 1)).as("nulls")).head()
      // a null event time can neither match later lookups (null >= floor
      // is never true — a silent dedup miss) nor register honestly; the
      // engine's degenerate-input policy is to fail the batch loudly
      require(r.getLong(1) == 0L,
        s"StreamNearDup: ${r.getLong(1)} band keys with NULL '$etCol' in batch " +
          s"$batchId — filter or repair null event times upstream")
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    val partMax: Map[Long, Long] =
      if (eventTimeCol.isDefined && seen.isDefined) partitionMaxes(spark, statePath)
      else Map.empty
    val floorOpt: Option[Long] = eventTimeCol.flatMap { _ =>
      (batchMaxOpt ++ partMax.values).maxOption.map(_ - retentionMs)
    }
    val live = (seen, floorOpt) match {
      case (Some(s), Some(floor)) => Some(s.filter(col("et") >= floor))
      case _ => seen
    }
    val stateHits = live.map(s =>
        bands.join(s, Seq("band", "k"), "left_semi"))
      .getOrElse(bands.limit(0))
      .select("doc_id").distinct()
    // in-batch collisions: the smallest id holding a band key wins
    val w = Window.partitionBy("band", "k")
    val batchHits = bands.withColumn("__mn", min("doc_id").over(w))
      .filter(col("doc_id") > col("__mn")).select("doc_id").distinct()
    val dropped = stateHits.unionByName(batchHits).distinct()
    // materialize the keep decision BEFORE mutating state: the register
    // write and the eviction below change the very files the lazy plan
    // reads — localCheckpoint pins the micro-batch-sized result in
    // executor memory with lineage truncated
    val kept = batch.join(dropped,
      batch(idCol) === dropped("doc_id"), "left_anti").localCheckpoint()
    // register this batch's keys idempotently (overwrite OUR partition
    // only); in event-time mode each key carries the max event time of
    // the docs holding it
    val register = eventTimeCol match {
      case Some(_) => bands.groupBy("band", "k").agg(max("et").as("et"))
      case None => bands.select("band", "k").distinct()
    }
    register.write.mode("overwrite").parquet(BatchState.dir(statePath, batchId))
    // per-partition max event time as a sidecar, so later batches derive
    // the watermark and the eviction set WITHOUT re-scanning state
    batchMaxOpt.foreach(mx =>
      writeSidecar(spark, BatchState.dir(statePath, batchId), mx))
    bands.unpersist()
    // batch-count retention
    if (retainBatches != Int.MaxValue)
      BatchState.evict(spark, statePath)(_ < batchId - retainBatches + 1)
    // time retention: a partition whose MAX event time fell behind the
    // floor holds only expired keys. Row precision is the lookup filter's
    // job; this is the disk-space half, from the sidecar maxes, no scan
    floorOpt.foreach { floor =>
      val expired = (partMax ++ batchMaxOpt.map(batchId -> _))
        .filter { case (_, mx) => mx < floor }.keySet
      if (expired.nonEmpty) BatchState.evict(spark, statePath)(expired)
    }
    kept
  }

  private val SidecarName = "_MAX_ET"

  private def writeSidecar(spark: org.apache.spark.sql.SparkSession,
      partitionPath: String, maxEt: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(partitionPath, SidecarName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(maxEt.toString.getBytes("UTF-8")) finally out.close()
  }

  /** (batchId → max event time) for every state partition: from the
    * `_MAX_ET` sidecars, falling back to a one-partition parquet agg for a
    * partition whose sidecar is missing (crash between the two writes) —
    * driver-side file reads, no full state scan. */
  private def partitionMaxes(spark: org.apache.spark.sql.SparkSession,
      statePath: String): Map[Long, Long] = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    BatchState.partitions(spark, statePath).flatMap { case (id, dir) =>
      val sc = new org.apache.hadoop.fs.Path(dir, SidecarName)
      val fromSidecar: Option[Long] =
        if (fs.exists(sc)) {
          val in = fs.open(sc)
          val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          s.trim.toLongOption
        } else None
      fromSidecar.orElse {
        val r = spark.read.parquet(dir.toString).agg(max("et")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }.map(id -> _)
    }.toMap
  }

  /** The front door as a ready writeStream: each micro-batch is near-dup
    * screened, then handed (kept rows only) to `emit`. */
  def frontDoor(stream: DataFrame, idCol: String, textCol: String,
      statePath: String, p: NearDup.Params = NearDup.Params(),
      retainBatches: Int = Int.MaxValue,
      eventTimeCol: Option[String] = None, retentionMs: Long = -1L)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: java.lang.Long) =>
      emit(processBatch(b, idCol, textCol, statePath, p, id, retainBatches,
        eventTimeCol, retentionMs), id)
    }
}
