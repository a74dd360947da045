package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming per-document n-gram NOVELTY — the online form of
  * [[graft.queries.TextQueries.novelty]]: as documents arrive, score each
  * against every gram the stream has EVER seen (ingest-time curation —
  * tag-and-route by novelty at the front door instead of re-profiling the
  * corpus in batch).
  *
  * A doc's gram is novel iff its hash was never registered by a retained
  * earlier micro-batch AND no smaller-id doc in the same batch carries it
  * — when docs arrive in ascending doc_id order this is exactly the batch
  * query's `min(doc_id) == doc_id` first-occurrence rule, so the streamed
  * (n_grams, n_novel, novelty_pct) rows are bit-equal to batch novelty
  * (StreamNoveltySpec, ≥3 AvailableNow micro-batches).
  *
  * State shape (the [[StreamNearDup]] band-key discipline, 100 TB
  * contract): first-seen gram hashes live in a PARTITIONED parquet table
  * (`batch=<id>` subdirs), not executor memory — restart-safe, shared
  * across executors, append-only per micro-batch with deterministic
  * overwrite into the batch's own partition so replay is idempotent. The
  * per-batch lookup is ONE left-anti equi-join on the 8-byte gram hash
  * (grams travel as 64-bit polynomial hashes via the codegen'd
  * graft_shingle_hashes frontend — never raw strings); registration
  * appends only the batch's distinct NEW hashes, so state size is the
  * distinct-gram count of the corpus, never the instance count.
  */
object StreamNovelty {

  /** Score one micro-batch of documents against the gram state at
    * `statePath` and register its new grams. Returns
    * (doc_id, n_grams, n_novel, novelty_pct) for the batch's docs.
    * Callable from any foreachBatch loop (see [[frontDoor]]) and directly
    * testable as a batch function. */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      statePath: String, k: Int = 3, hashBase: Long = 31L,
      hashP: Long = 1000000007L, batchId: Long = 0L): DataFrame = {
    val spark = batch.sparkSession
    // (doc_id, gh): the one codegen'd normalize→shingle→hash→distinct pass
    // every near-dup operator rides; persist — it feeds the state lookup,
    // the in-batch window AND the register write
    val grams = batch.select(col(idCol).as("doc_id"),
      explode(call_function("graft_shingle_hashes", col(textCol),
        lit(k), lit(hashBase), lit(hashP))).as("gh")).persist()
    val seen = BatchState.read(spark, statePath, batchId)
    // in-batch first occurrence: smallest doc_id per gram this batch
    val wg = Window.partitionBy("gh")
    val inBatchFirst = grams
      .withColumn("first_doc", min("doc_id").over(wg))
      .withColumn("batch_first", col("doc_id") === col("first_doc"))
      .drop("first_doc")
    // cross-batch: a gram in state is never novel now. Left-anti keeps
    // only state-unseen grams; novel = state-unseen AND batch-first. One
    // row per NEW gram (its first-occurrence doc), so this frame is both
    // the n_novel numerator and the register set — materialized
    // (micro-batch-sized, the StreamNearDup localCheckpoint discipline)
    // BEFORE the register write mutates the state files its plan reads.
    val newGrams = seen.map(s =>
        inBatchFirst.join(s.select("gh"), Seq("gh"), "left_anti"))
      .getOrElse(inBatchFirst)
      .filter(col("batch_first"))
      .select(col("doc_id").as("n_doc"), col("gh"))
      .localCheckpoint()
    val out = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(newGrams.groupBy("n_doc").agg(count(lit(1)).as("n_novel")),
        col("doc_id") === col("n_doc"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_pct", expr("(n_novel * 100) div n_grams"))
      .orderBy("doc_id")
      .localCheckpoint()
    // register the batch's NEW grams idempotently (overwrite OUR partition
    // only — replay rebuilds the identical set because the lookup excludes
    // batch >= batchId). Registering only the unseen set keeps state at
    // distinct-corpus size: a state-seen gram is already registered.
    newGrams.select("gh").write.mode("overwrite")
      .parquet(BatchState.dir(statePath, batchId))
    grams.unpersist()
    out
  }

  /** The scorer as a ready writeStream: each micro-batch's novelty rows are
    * handed to `emit`. */
  def frontDoor(stream: DataFrame, idCol: String, textCol: String,
      statePath: String, k: Int = 3, hashBase: Long = 31L,
      hashP: Long = 1000000007L)(
      emit: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (b: DataFrame, id: java.lang.Long) =>
      emit(processBatch(b, idCol, textCol, statePath, k, hashBase, hashP, id), id)
    }
}
