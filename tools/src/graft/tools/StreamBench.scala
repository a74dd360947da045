package graft.tools

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Dev tool: sustained streaming THROUGHPUT benchmark (round-16, VERDICT
  * r15 #4). The streaming parity matrix proves correctness; this measures
  * rows/s. Each representative twin is driven from the `rate` source at a
  * fixed rows-per-batch (`rate-micro-batch` source, back-to-back
  * triggers) for a fixed wall time, so every micro-batch is identically
  * sized and the per-batch duration distribution is meaningful. Reported
  * per op: sustained rows/s (total rows / total busy time, batch 0
  * dropped), per-batch p50/p95 duration, and batches observed — the
  * numbers a 100 TB per-executor sizing multiplies out.
  *
  * Ops: funnel (transformWithState, 100k-key population), ttldedup (TTL'd
  * state, all-new keys), ohlc (windowed algebraic agg + watermark),
  * cleancorpus (composite quality->dedup->LSH front door over synthetic
  * docs; doc rate = rows/20, reported in docs/s).
  *
  * Usage: StreamBench [secondsPerOp] [rowsPerBatch] [ops-csv]
  */
object StreamBench {

  final case class M(op: String, batchId: Long, durMs: Long, rows: Long)

  final case class DedupEvent(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String) extends graft.model.GraftEvent {
    override def $id: String = event_id.toString
    override def $key: String = user_id.toString
    override def $timestamp: Long = ts_us / 1000L
    override def $dedupeId: String = event_id.toString
  }

  def main(args: Array[String]): Unit = {
    val secs = args.headOption.map(_.toInt).getOrElse(45)
    val rpb = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val ops: Set[String] = args.lift(2)
      .map(_.split(',').map(_.trim).toSet)
      .getOrElse(Set("funnel", "ttldedup", "ohlc", "cleancorpus"))
    val keys = 100000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // the engine's session base (extensions, LocalFs, shared codegen
    // class loader), with the bench's state-store settings on top
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        "true")
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        sys.env.getOrElse("GRAFT_BOUND_MB", "512"))
      // changelog checkpointing: commit appends the batch's delta instead
      // of snapshotting SST files; snapshots move to background
      // maintenance. GRAFT_CHANGELOG=1 to measure the difference.
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        sys.env.getOrElse("GRAFT_CHANGELOG", "0") == "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._

    val metrics = scala.collection.mutable.ArrayBuffer.empty[M]
    @volatile var currentOp = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        metrics.synchronized {
          metrics += M(currentOp, e.progress.batchId,
            e.progress.batchDuration, e.progress.numInputRows)
        }
    })

    val root = java.nio.file.Files.createTempDirectory("stream_bench").toFile

    def rate(perBatch: Long): DataFrame = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", perBatch)
      .option("numPartitions", cpus.toInt)
      .load()

    // synthetic event stream: monotone event_id, fast-forwarded event time
    // (1 ms of event time per row => watermarked windows close during the
    // run), bounded user population
    def events(perSec: Long): DataFrame = rate(perSec).select(
      col("value").as("event_id"),
      (lit(1700000000000000L) + col("value") * 1000L).as("ts_us"),
      (col("value") % keys).as("user_id"),
      element_at(typedlit(Seq("view", "click", "purchase")),
        (col("value") % 3 + 1).cast("int")).as("event_type"))

    def run(op: String)(mk: => org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit =
      if (ops(op)) {
        currentOp = op
        val q = mk
          .option("checkpointLocation",
            new java.io.File(root, s"ck/$op").getAbsolutePath)
          .trigger(Trigger.ProcessingTime(0))
          .start()
        Thread.sleep(secs * 1000L)
        q.stop()
        Thread.sleep(1000)
      }

    run("funnel") {
      graft.streaming.StreamFunnel(
        events(rpb).as[graft.streaming.StreamFunnel.FunnelEvent],
        "view", "click", "purchase", 7L * 24 * 3600 * 1000000)
        .writeStream.foreachBatch {
          (d: Dataset[graft.streaming.StreamFunnel.StepHit], _: Long) =>
            d.count(); ()
        }
    }

    run("ttldedup") {
      graft.streaming.TtlDedup(events(rpb).as[DedupEvent],
          java.time.Duration.ofSeconds(30))
        .writeStream.foreachBatch {
          (d: Dataset[DedupEvent], _: Long) => d.count(); ()
        }
    }

    run("ohlc") {
      graft.ops.Windows.ohlcBars(
          events(rpb)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", "10 seconds"),
          col("ts"), col("user_id"), "5 seconds", col("event_id"),
          (col("event_id") % 1000).cast("double"))
        .writeStream.outputMode("append").foreachBatch {
          (d: DataFrame, _: Long) => d.count(); ()
        }
    }

    if (ops("cleancorpus")) {
      currentOp = "cleancorpus"
      val docs = rate(math.max(rpb / 20, 1000)).select(
        col("value").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(29)),
          i => concat(lit("w"), (col("value") * 31 + i * 7919) % 1000000)),
          " ").as("text"),
        lit("en").as("lang"))
      val q = graft.streaming.CleanCorpusStream.frontDoor(docs,
          new java.io.File(root, "cc_state").getAbsolutePath,
          jaccNum = 8L, jaccDen = 10L)((kept, _) => { kept.count(); () })
        .option("checkpointLocation",
          new java.io.File(root, "ck/cleancorpus").getAbsolutePath)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      Thread.sleep(secs * 1000L)
      q.stop()
      Thread.sleep(1000)
    }

    println(f"%n[stream-bench] secs/op=$secs rowsPerBatch=$rpb " +
      f"keys=$keys cpus=$cpus (warmup: batch 0 dropped)")
    println("op           batches  rows/s   p50_ms  p95_ms  rows_total")
    ops.toSeq.sorted.foreach { op =>
      val ms = metrics.toSeq.filter(m => m.op == op && m.rows > 0)
        .sortBy(_.batchId).drop(1)
      if (ms.nonEmpty) {
        val durs = ms.map(_.durMs).sorted
        val p50 = durs(durs.length / 2)
        val p95 = durs(math.min(durs.length - 1, durs.length * 95 / 100))
        val rows = ms.map(_.rows).sum
        val busyMs = ms.map(_.durMs).sum
        val rowsPerSec = if (busyMs > 0) rows * 1000 / busyMs else -1
        println(f"$op%-12s ${ms.length}%7d $rowsPerSec%8d $p50%7d $p95%7d $rows%11d")
      }
    }
    spark.stop()
  }
}
