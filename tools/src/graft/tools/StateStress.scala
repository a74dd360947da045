package graft.tools

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** Dev tool: transformWithState state-scale stress (round-15, VERDICT r14
  * #4; extended round-16 per VERDICT r15 #3). The streaming parity specs
  * run tens of keys; this drives the stateful fleet with ~100k keys across
  * many AvailableNow micro-batches on the RocksDB provider and reports, per
  * batch: wall time, state rows, and state-store memory — per-batch time
  * must track O(new data), and state size must track the WATERMARK/TTL
  * HORIZON, not total input.
  *
  * Ops: funnel, scd2, retention (r15: one value per key — state rows must
  * plateau at the key count) plus the watermark-bounded fleet (r16):
  *  - ttldedup: every batch brings ONLY NEW dedupe ids; without TTL state
  *    would reach batches x keys x perKey — with a 5 s TTL it must plateau
  *    at the TTL/batch-time horizon.
  *  - sjoin: stream-stream interval join; each batch advances event time
  *    1 h against a 10 min watermark delay — join state must hold ~1
  *    batch's rows, not 48.
  *  - lateness: AllowedLateness tumbling windows (1 h window + 1 h
  *    lateness); live (key, window) state must plateau at ~3 windows per
  *    key as old windows purge on watermark.
  *  - neardup: StreamNearDup's partitioned band-key table with event-time
  *    retention 5 h against 1 h/batch advance — on-disk state must hold
  *    ~6 batch partitions, not all of them.
  * Each op ends with a hard assert on its horizon bound.
  *
  * Usage: StateStress [keys] [batches] [eventsPerKeyPerBatch] [ops-csv]
  */
object StateStress {

  final case class BatchMetric(op: String, batchId: Long, durMs: Long,
      stateRows: Long, stateMemBytes: Long, inputRows: Long)

  /** Event whose dedupe id is the globally-unique event id — so for the
    * ttldedup stress every batch is 100% NEW keys and only the TTL can
    * bound the state. */
  final case class StressEvent(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String) extends graft.model.GraftEvent {
    override def $id: String = event_id.toString
    override def $key: String = user_id.toString
    override def $timestamp: Long = ts_us / 1000L
    override def $dedupeId: String = event_id.toString
  }

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toInt).getOrElse(100000)
    val batches = args.lift(1).map(_.toInt).getOrElse(4)
    val perKey = args.lift(2).map(_.toInt).getOrElse(2)
    val ops: Set[String] = args.lift(3)
      .map(_.split(',').map(_.trim).toSet)
      .getOrElse(Set("funnel", "scd2", "retention", "rfm"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // memoryUsedBytes reports RocksDB NATIVE usage (block cache + table
      // readers + memtables over the run's accumulating SST files), which
      // reads as ~3 MB/batch "growth" at flat logical rows; it is NOT a
      // logical-state leak (minBatchesToRetain and compactOnCommit leave
      // the curve unchanged — measured). Production caps the native side
      // with boundedMemoryUsage (GRAFT_BOUND_MB here) — the knob the 100 TB
      // deployment sets per executor.
      .config("spark.sql.streaming.minBatchesToRetain",
        sys.env.getOrElse("GRAFT_RETAIN", "100"))
      .config("spark.sql.streaming.stateStore.rocksdb.compactOnCommit",
        sys.env.getOrElse("GRAFT_COMPACT", "0") == "1")
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage",
        sys.env.contains("GRAFT_BOUND_MB"))
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB",
        sys.env.getOrElse("GRAFT_BOUND_MB", "500"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val metrics = scala.collection.mutable.ArrayBuffer.empty[BatchMetric]
    @volatile var currentOp = ""
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val st = p.stateOperators.headOption
        metrics.synchronized {
          metrics += BatchMetric(currentOp, p.batchId, p.batchDuration,
            st.map(_.numRowsTotal).getOrElse(-1L),
            st.map(_.memoryUsedBytes).getOrElse(-1L), p.numInputRows)
        }
      }
    })

    // ---- synthetic keyed batches: `batches` parquet files, increasing
    // event time, every key in every batch ----
    val root = java.nio.file.Files.createTempDirectory("state_stress").toFile
    val types = Seq("view", "click", "purchase")
    (0 until batches).foreach { b =>
      val df = spark.range(keys.toLong).select(
        (col("id") + lit(b.toLong * keys * perKey)).as("event_id"),
        (lit(1700000000000000L) + lit(b.toLong * 3600L * 1000000L)
          + col("id") * 10L).as("ts_us"),
        col("id").as("user_id"),
        element_at(typedlit(types), (col("id") % 3 + 1 + b).cast("int") % 3 + 1)
          .as("event_type"))
      // perKey events per key per batch: replicate with distinct event ids
      val rep = (0 until perKey).map(i =>
        df.withColumn("event_id", col("event_id") + lit(i.toLong * keys))
          .withColumn("ts_us", col("ts_us") + lit(i.toLong * 5L)))
        .reduce(_ unionByName _)
      val f = new java.io.File(root, f"in/part$b%03d")
      rep.coalesce(4).write.mode("overwrite").parquet(f.getAbsolutePath)
      f.setLastModified(1700000000000L + b * 60000L)
    }
    val inGlob = new java.io.File(root, "in/part*").getAbsolutePath

    def drive[T](op: String, out: Dataset[T]): Unit = if (ops(op)) {
      currentOp = op
      val q = out.writeStream
        .foreachBatch { (d: Dataset[T], _: Long) => d.count(); () }
        .option("checkpointLocation",
          new java.io.File(root, s"ck/$op").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType)))
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inGlob)

    drive("funnel", graft.streaming.StreamFunnel(
      stream.as[graft.streaming.StreamFunnel.FunnelEvent],
      "view", "click", "purchase", 7L * 24 * 3600 * 1000000))
    drive("scd2", graft.streaming.StreamScd2(
      stream.as[graft.streaming.StreamScd2.AttrEvent]))
    drive("retention", graft.streaming.StreamRetention(
      stream.select("event_id", "ts_us", "user_id")
        .as[graft.streaming.StreamRetention.RetEvent]))
    // rfm (r18): one 24 B sufficient-statistic value per key — rows must
    // plateau at the key count like funnel/scd2/retention
    drive("rfm", graft.streaming.StreamRfm(
      stream.select(col("user_id"), col("ts_us"),
          (col("event_id") % 1000L).as("cents"))
        .as[graft.streaming.StreamRfm.RfmEvent]))

    // ---- watermark/TTL-horizon fleet (r16): state must track the horizon,
    // not total input ----

    // ttldedup: event_id is globally unique -> every batch is 100% new
    // dedupe ids; the 5 s TTL must cap state at the TTL/batch-time horizon.
    // TTL forces TimeMode.ProcessingTime, under which AvailableNow /
    // processAllAvailable drains never self-terminate (empty timer batches
    // keep scheduling; measured in graft.tools.TtlRepro) — so run the
    // production-faithful ProcessingTime trigger and stop manually once
    // every input file-batch has landed.
    if (ops("ttldedup")) {
      currentOp = "ttldedup"
      val out = graft.streaming.TtlDedup(
        stream.as[StressEvent], java.time.Duration.ofSeconds(5))
      val q = out.writeStream
        .foreachBatch { (d: Dataset[StressEvent], _: Long) => d.count(); () }
        .option("checkpointLocation",
          new java.io.File(root, "ck/ttldedup").getAbsolutePath)
        .trigger(Trigger.ProcessingTime(100))
        .start()
      // the drain is done once every generated row has been processed
      val want = batches.toLong * keys * perKey
      val deadline = System.currentTimeMillis() + 30L * 60 * 1000
      def rowsSeen = metrics.synchronized(
        metrics.filter(_.op == "ttldedup").map(_.inputRows).sum)
      var lastLog = 0L
      while (rowsSeen < want && System.currentTimeMillis() < deadline) {
        if (System.currentTimeMillis() - lastLog > 10000) {
          lastLog = System.currentTimeMillis()
          println(s"[state-stress] ttldedup waiting: $rowsSeen/$want rows")
        }
        Thread.sleep(500)
      }
      Thread.sleep(1500) // let the final progress event land
      q.stop()
      assert(rowsSeen >= want,
        s"ttldedup: only $rowsSeen/$want input rows before deadline")
    }

    // sjoin: self interval join on user_id; batches advance event time 1 h
    // against a 10 min watermark delay -> state holds ~1 batch per side
    if (ops("sjoin")) {
      currentOp = "sjoin"
      val lhs = stream.withColumn("ts", timestamp_micros(col("ts_us")))
        .select(col("user_id").as("l_user"), col("ts").as("l_ts"))
      val rhs = stream.withColumn("ts", timestamp_micros(col("ts_us")))
        .select(col("user_id").as("r_user"), col("ts").as("r_ts"))
      val joined = graft.streaming.StreamJoin.interval(
        lhs, "l_user", "l_ts", rhs, "r_user", "r_ts", windowSec = 60L)
      val q = joined.writeStream
        .foreachBatch { (d: Dataset[org.apache.spark.sql.Row], _: Long) => d.count(); () }
        .option("checkpointLocation",
          new java.io.File(root, "ck/sjoin").getAbsolutePath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // lateness: 1 h tumbling windows + 1 h allowed lateness; live
    // (key, window) state must plateau at ~3 windows/key
    drive("lateness", graft.streaming.AllowedLateness.tumblingSum(
      stream.select(col("user_id").cast("string").as("key"),
          timestamp_micros(col("ts_us")).as("ts"),
          lit(1.0).as("value"))
        .as[graft.streaming.AllowedLateness.Event],
      windowSizeMs = 3600L * 1000, allowedLatenessMs = 3600L * 1000))

    // neardup: batch-function loop over the partitioned band-key state —
    // event time advances 1 h/batch against 5 h retention, so the on-disk
    // state must hold ~6 batch partitions regardless of batch count
    val ndMetrics = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    if (ops("neardup")) {
      val nDocs = math.max(keys / 20, 500) // band explode is ~30x rows
      val ndState = new java.io.File(root, "nd_state").getAbsolutePath
      val retentionMs = 5L * 3600 * 1000
      (0 until batches).foreach { b =>
        val docs = spark.range(nDocs.toLong).select(
          (col("id") + lit(b.toLong * nDocs)).as("doc_id"),
          array_join(transform(sequence(lit(0), lit(29)),
            i => concat(lit("w"),
              ((col("id") + lit(b.toLong * nDocs)) * 31 + i * 7919) % 1000000)),
            " ").as("text"),
          lit(1700000000000L + b.toLong * 3600 * 1000).as("et"))
        val t0 = System.nanoTime()
        val kept = graft.streaming.StreamNearDup.processBatch(docs, "doc_id",
          "text", ndState, batchId = b,
          eventTimeCol = Some("et"), retentionMs = retentionMs)
        kept.count()
        val durMs = (System.nanoTime() - t0) / 1000000L
        val parts = new java.io.File(ndState).listFiles()
          .count(_.getName.startsWith("batch="))
        ndMetrics += ((b.toLong, durMs, parts))
      }
    }

    spark.streams.active.foreach(_.stop())
    Thread.sleep(2000) // let the last progress events land
    println(f"%n[state-stress] keys=$keys batches=$batches perKey=$perKey")
    println("op         batch  dur_ms  state_rows  state_MB  bytes/key")
    metrics.toSeq.filter(_.inputRows > 0)
      .sortBy(m => (m.op, m.batchId)).foreach { m =>
      val bpk = if (m.stateRows > 0) m.stateMemBytes / m.stateRows else -1
      println(f"${m.op}%-10s ${m.batchId}%5d ${m.durMs}%7d ${m.stateRows}%11d ${m.stateMemBytes / 1048576.0}%9.1f ${bpk}%10d")
    }
    if (ndMetrics.nonEmpty) {
      println("neardup    batch  dur_ms  state_partitions (5h retention / 1h advance)")
      ndMetrics.foreach { case (b, d, p) =>
        println(f"neardup    $b%5d $d%7d $p%17d")
      }
    }

    // ---- horizon asserts (only meaningful at stress depth; smoke runs
    // with few batches never reach the horizon) ----
    def opSeq(op: String) = metrics.toSeq
      .filter(m => m.op == op && m.inputRows > 0).sortBy(m => m.batchId)
    def assertHorizon(op: String, bound: Long, desc: String): Unit =
      if (ops(op) && batches >= 12) {
        val ms = opSeq(op)
        assert(ms.nonEmpty, s"$op: no progress metrics captured")
        val last = ms.last
        assert(last.stateRows >= 0 && last.stateRows <= bound,
          s"$op: final state rows ${last.stateRows} exceed horizon bound " +
            s"$bound ($desc)")
        val durs = ms.map(_.durMs)
        val early = durs.slice(2, 7).sorted.apply(2)
        val late = durs.takeRight(5).sorted.apply(2)
        assert(late <= early * 25 / 10 + 500,
          s"$op: per-batch time not flat (early median $early ms, late " +
            s"median $late ms)")
        println(s"[state-stress] $op OK: final state rows ${last.stateRows}" +
          s" <= $bound ($desc); batch time flat ($early -> $late ms median)")
      }
    assertHorizon("rfm", 2L * keys,
      "one sufficient-statistic value per key")
    assertHorizon("ttldedup", batches.toLong * keys * perKey / 3,
      "TTL horizon << total distinct ids")
    assertHorizon("sjoin", 6L * keys * perKey,
      "~1 batch/side at 10 min watermark vs 1 h/batch advance")
    assertHorizon("lateness", 6L * keys, "~3 live windows per key")
    if (ndMetrics.nonEmpty && batches >= 12) {
      val lastParts = ndMetrics.last._3
      assert(lastParts <= 7,
        s"neardup: $lastParts state partitions retained — event-time " +
          "eviction is not tracking the 5 h horizon")
      val durs = ndMetrics.map(_._2)
      val early = durs.slice(2, 7).sorted.apply(2)
      val late = durs.takeRight(5).sorted.apply(2)
      assert(late <= early * 25 / 10 + 500,
        s"neardup: per-batch time not flat ($early -> $late ms median)")
      println(s"[state-stress] neardup OK: $lastParts partitions <= 7; " +
        s"batch time flat ($early -> $late ms median)")
    }
    spark.stop()
  }
}
