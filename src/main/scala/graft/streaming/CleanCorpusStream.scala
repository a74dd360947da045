package graft.streaming

import graft.ops.NearDup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The composite clean-corpus pipeline (quality filter → exact dedup →
  * Jaccard-verified MinHash-LSH near-dup removal — the batch-proven
  * `pipe_clean_corpus` chain) as an incremental STREAMING ingest, the
  * framework shape the reference exists for (its jobs are stream jobs:
  * reference flink/StreamJob.scala:31-384).
  *
  * Semantics per micro-batch (keep-FIRST across batches, keep-min-id
  * within a batch):
  *   1. quality + fingerprints — per-row, identical to batch stage 1
  *      ([[graft.queries.PipelineQueries.qualityFingerprints]], shared
  *      definition);
  *   2. exact dedup — drop docs whose content fp was seen in a retained
  *      earlier batch, keep min doc_id per fp within the batch;
  *   3. near-dup — LSH band-key candidates against BOTH the in-batch set
  *      and the accumulated state, then exact shingle-set Jaccard
  *      verification (same integer threshold arithmetic as the batch
  *      operator — unlike [[StreamNearDup]]'s band-collision-only front
  *      door, a band collision alone never drops here).
  *
  * EQUALITY CONTRACT (proven by CleanCorpusStreamSpec): when micro-batches
  * arrive in non-decreasing doc_id order — e.g. an append-only ingest with
  * monotone ids — keep-first equals the batch pipeline's global keep-min-id,
  * so the streamed survivor set is EXACTLY the batch `pipe_clean_corpus`
  * survivor set. Out-of-order ids degrade gracefully to keep-first (the
  * policy every streaming dedup gate has), never to a missed duplicate.
  *
  * State shape (the 100 TB contract, same discipline as [[StreamNearDup]]):
  * three append-only parquet tables partitioned `batch=<id>` —
  *   - `fp/`    (fp)               content fingerprints of survivors;
  *   - `bands/` (band, k, doc_id)  LSH band keys of exact-dedup survivors
  *                                 (kept AND near-dup-dropped — the batch
  *                                 pipeline's pair set is over the exact
  *                                 survivor set, so both must register);
  *   - `hs/`    (doc_id, hs, n)    sorted distinct shingle-hash sets for
  *                                 exact Jaccard verification.
  * Each batch overwrites only its own partition → micro-batch replay is
  * idempotent. Lookups are equi-joins on fp / (band, k) / doc_id — never a
  * pair scan; the hs join touches only docs that band-collided. */
object CleanCorpusStream {

  /** Run one micro-batch of raw documents (`doc_id`, `text`, `lang`)
    * against the state at `statePath`; returns the kept rows
    * (doc_id, lang, fp) and registers the batch's state under
    * `batch=<batchId>`. Directly callable from any foreachBatch loop (see
    * [[frontDoor]]) and testable as a plain batch function. */
  def processBatch(batch: DataFrame, statePath: String, batchId: Long,
      jaccNum: Long, jaccDen: Long, p: NearDup.Params = NearDup.Params()): DataFrame = {
    val spark = batch.sparkSession
    graft.functions.GraftFunctions.register(spark)

    // ---- stage 1: quality + fingerprints (shared batch definition) ----
    val quality = graft.queries.PipelineQueries
      .qualityFingerprints(batch.select(col("doc_id"), col("text"), col("lang")))
      .select("doc_id", "lang", "norm", "fp")

    // ---- stage 2: exact dedup (state fp anti-join + in-batch min-id) ----
    val wFp = Window.partitionBy("fp")
    val inBatchCanon = quality
      .withColumn("__mn", min("doc_id").over(wFp))
      .filter(col("doc_id") === col("__mn")).drop("__mn")
    val seenFp = BatchState.read(spark, s"$statePath/fp", batchId)
    val exactSurvivors0 = seenFp match {
      case Some(s) => inBatchCanon.join(s.select("fp"), Seq("fp"), "left_anti")
      case None => inBatchCanon
    }
    // consumed by shingle hashing, the candidate joins, the keep anti-join
    // and the state registers — one persist for the micro-batch
    val exactSurvivors = exactSurvivors0.persist()

    // ---- stage 3: near-dup (LSH candidates + exact Jaccard verify) ----
    // sorted sets so graft_intersect_size takes its merge fast path; the
    // same sorted form is what registers, so cross-batch joins inherit it
    val hs = NearDup.shingleHashes(exactSurvivors, "doc_id", "norm", p)
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), sort_array(col("hs")).as("hs"),
        size(col("hs")).cast("long").as("n"))
      .persist()
    val bands = NearDup.bandKeys(NearDup.signatures(hs, p), p).persist()

    // in-batch candidate pairs (doc_a < doc_b), exact Jaccard, drop doc_b —
    // the batch operator's exact policy over this batch's survivor set
    val inBatchPairs = NearDup.candidatePairs(bands)
    val inBatchDrops = verifiedDrops(inBatchPairs, hs, hs, jaccNum, jaccDen)

    // cross-batch: this batch's band keys against retained state bands —
    // every state hit is verified against the OLD doc's exact shingle set
    val crossDrops = BatchState.read(spark, s"$statePath/bands", batchId) match {
      case Some(sb) =>
        val cand = bands.join(sb.select(col("band"), col("k"),
              col("doc_id").as("doc_a")), Seq("band", "k"))
          .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
        val oldHs = BatchState.read(spark, s"$statePath/hs", batchId).get
        verifiedDrops(cand, oldHs, hs, jaccNum, jaccDen)
      case None => hs.select("doc_id").limit(0).withColumnRenamed("doc_id", "drop_id")
    }
    val drops = inBatchDrops.unionByName(crossDrops).distinct()

    // pin the keep decision BEFORE mutating the very state files the lazy
    // plan reads (same discipline as StreamNearDup.processBatch)
    val kept = exactSurvivors.select("doc_id", "lang", "fp")
      .join(drops, col("doc_id") === col("drop_id"), "left_anti")
      .localCheckpoint()

    // ---- register (idempotent: overwrite OUR partition only) ----
    exactSurvivors.select("fp").distinct()
      .write.mode("overwrite").parquet(BatchState.dir(s"$statePath/fp", batchId))
    bands.write.mode("overwrite").parquet(BatchState.dir(s"$statePath/bands", batchId))
    hs.write.mode("overwrite").parquet(BatchState.dir(s"$statePath/hs", batchId))
    bands.unpersist(); hs.unpersist(); exactSurvivors.unpersist()
    kept
  }

  /** Jaccard-verified drop ids: candidate (doc_a, doc_b) pairs joined to
    * both exact shingle sets; doc_b is dropped iff inter·den ≥ union·num
    * (integer arithmetic — no float drift vs the batch operator). */
  private def verifiedDrops(cand: DataFrame, hsA: DataFrame, hsB: DataFrame,
      jaccNum: Long, jaccDen: Long): DataFrame =
    cand
      .join(hsA.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(hsB.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n").as("n_b")), Seq("doc_b"))
      .withColumn("inter",
        call_function("graft_intersect_size", col("hs_a"), col("hs_b")))
      .filter(col("inter") * jaccDen >= (col("n_a") + col("n_b") - col("inter")) * jaccNum)
      .select(col("doc_b").as("drop_id")).distinct()

  /** The pipeline as a ready writeStream: each micro-batch is cleaned and
    * the kept rows handed to `emit`. Callers set the checkpoint location
    * and trigger (`Trigger.AvailableNow` drains a directory then stops). */
  def frontDoor(stream: DataFrame, statePath: String,
      jaccNum: Long, jaccDen: Long, p: NearDup.Params = NearDup.Params())(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: java.lang.Long) =>
      emit(processBatch(b, statePath, id, jaccNum, jaccDen, p), id)
    }
}
