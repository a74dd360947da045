package graft.tools

import org.apache.spark.sql.functions._

/** State-scale stress for the round-19 StreamVecDedup front door (the
  * StateStress discipline applied to its parquet-partitioned vector
  * state): N micro-batches × M synthetic vectors, 5% of each batch b>0
  * planted as EXACT copies of batch b−1 vectors (the cross-batch dup
  * tier), every batch's classification counts asserted exactly.
  *
  * What to read from the output: state rows must equal ALL processed
  * vectors (kept AND dropped register — the batch operator's pair
  * semantics), and dup counts must be exactly the planted 5% with the
  * planted partners. Timing expectations differ by mode:
  *
  *   - `random` (default): every batch's vectors spray across the whole
  *     2^numPlanes bucket space, so the bucket-partition pruning (round
  *     20) cannot skip anything and per-batch time grows (at most
  *     linearly) with accumulated state — the honest worst case.
  *   - `clustered`: the realistic crawl-ingest shape — each batch's
  *     vectors cluster around FRESH per-batch prototype directions (new
  *     domains land in new LSH regions), planted dups still copy batch
  *     b−1 exactly. Each micro-batch then touches a bounded, mostly-new
  *     slice of the 4096-bucket space (numPlanes=12), the pruned state
  *     scan reads ~one batch's worth of files regardless of history, and
  *     per-batch time stays FLAT as state grows — the property the
  *     round-19 stress (×1.8 growth over ×16 state) lacked.
  *
  * Usage: VecDedupStress [nBatches] [rowsPerBatch] [dim] [random|clustered]
  */
object VecDedupStress {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(16)
    val perBatch = if (args.length > 1) args(1).toInt else 20000
    val dim = if (args.length > 2) args(2).toInt else 32
    val clustered = args.length > 3 && args(3) == "clustered"
    // clustered mode spreads prototypes over a 4096-bucket space so fresh
    // batches land in mostly-fresh buckets; random mode keeps the operator
    // default (64 buckets, every batch touches all of them)
    val numPlanes = if (clustered) 12 else 6
    val planted = perBatch / 20 // 5%
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val state = java.nio.file.Files.createTempDirectory("vds_state").toString
    println(s"[vds] state=$state batches=$nBatches rows/batch=$perBatch " +
      s"dim=$dim mode=${if (clustered) "clustered" else "random"} planes=$numPlanes")

    // deterministic centered components from a content id: batch b>0 rows
    // i < planted carry the CONTENT of row i of batch b-1 (exact copies)
    def batchDf(b: Int) = {
      val base = b.toLong * perBatch
      spark.range(base, base + perBatch)
        // planted range [0, p) copies the PREVIOUS batch's rows [p, 2p) —
        // that source range is original content in EVERY batch (the
        // planted range is always [0, p)), so no copy-of-a-copy chains
        // whose content would drift two batches back
        .withColumn("content_id",
          when(col("id") % perBatch < planted && lit(b) > 0,
            col("id") - perBatch + planted).otherwise(col("id")))
        .select(col("id").as("vec_id"),
          if (!clustered)
            // xxhash64-mixed components: a linear-congruence form collides
            // whole vectors on id ≡ id' (mod modulus) — a mixed hash makes
            // accidental 0.999-cosine pairs effectively impossible
            transform(sequence(lit(1), lit(dim)),
              d => pmod(xxhash64(col("content_id"), d), lit(2048L))
                .cast("double") / lit(2048.0) - lit(0.5)).as("embedding")
          else {
            // clustered: prototype direction per (content_id div 500) — 40
            // fresh clusters per 20k-row batch, never reused across batches
            // (content ids are globally unique per original row) — plus 10%
            // per-row noise. 10% keeps distinct same-cluster vectors at
            // cosine ≈ 0.97–0.99 < the 0.999 threshold (no spurious dups),
            // while exact copies remain bit-identical (same content_id ⇒
            // same cluster AND same noise ⇒ same bucket, always found).
            val cluster = col("content_id") - pmod(col("content_id"), lit(500L))
            transform(sequence(lit(1), lit(dim)),
              d => (pmod(xxhash64(cluster, d), lit(2048L))
                  .cast("double") / lit(2048.0) - lit(0.5)) +
                (pmod(xxhash64(col("content_id"), d, lit(7L)), lit(2048L))
                  .cast("double") / lit(2048.0) - lit(0.5)) * lit(0.1))
              .as("embedding")
          })
    }

    (0 until nBatches).foreach { b =>
      val t0 = System.nanoTime()
      val out = graft.streaming.StreamVecDedup.processBatch(
        batchDf(b), "vec_id", "embedding", dim, 0.999, state,
        numPlanes = numPlanes, batchId = b.toLong)
      val byStatus = out.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val durMs = (System.nanoTime() - t0) / 1e6
      // diagnostics (replicates processBatch's path pruning): batch bucket
      // spread + how many state (batch,bucket) dirs the pruned read opens
      val probeBuckets = graft.util.CacheBin.withScope {
        batchDf(b)
          .select(graft.ops.VecDedup.bucketExpr(
            transform(col("embedding"), x => x.cast("double")), dim, numPlanes)
            .as("bk"))
          .distinct().collect().map(_.getLong(0)).toSet
      }
      val fs = new org.apache.hadoop.fs.Path(state)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // exclude batch >= b: the pruned read only opens dirs with
      // batch id < batchId, and processBatch has already registered this
      // batch's own bucket dirs — counting them would overstate what the
      // lookup opened by one batch's bucket count (ADVICE r20)
      val nPaths = fs.listStatus(new org.apache.hadoop.fs.Path(state))
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("batch=") &&
            n.stripPrefix("batch=").toLongOption.exists(_ < b)
        }
        .map { bd =>
          fs.listStatus(bd.getPath).count { bs =>
            val n = bs.getPath.getName
            n.startsWith("bucket=") &&
              n.stripPrefix("bucket=").toLongOption.exists(probeBuckets)
          }
        }.sum
      val dups = byStatus.getOrElse("dup", 0L)
      val keeps = byStatus.getOrElse("keep", 0L)
      val expDups = if (b == 0) 0L else planted.toLong
      val stateRows = spark.read.parquet(state).count()
      // partner correctness on the planted tier: the source is the
      // previous batch's original row at index + planted
      val badPartners = if (b == 0) 0L else out
        .filter(col("status") === "dup" &&
          col("partner") =!= col("vec_id") - perBatch + planted).count()
      println(f"[vds] batch=$b%2d dur_ms=$durMs%7.0f keep=$keeps%6d " +
        f"dup=$dups%5d state_rows=$stateRows%8d bad_partners=$badPartners " +
        f"probe_buckets=${probeBuckets.size}%5d pruned_dirs=$nPaths%6d")
      require(dups == expDups, s"batch $b: expected $expDups dups, got $dups")
      require(keeps == perBatch - expDups, s"batch $b: keep count off")
      require(stateRows == (b + 1).toLong * perBatch,
        s"batch $b: state must hold every processed vector")
      require(badPartners == 0L, s"batch $b: $badPartners wrong partners")
    }
    println("[vds] ALL BATCHES GREEN")
    spark.stop()
  }
}
