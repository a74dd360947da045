package graft.streaming

import graft.SparkSpec
import graft.queries.{EventAnalytics, Q}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Checkpoint recovery for transformWithState: a query is STOPPED after
  * ingesting only the first third of the events, then a NEW query object
  * resumes from the same checkpoint over the remaining files. The TWAP
  * state (last event + exact integer sums) must survive the restart —
  * the segments SPANNING the stop/restart boundary are wrong by
  * construction if state is lost, so bit-equality with the batch query
  * is a real recovery proof, not a smoke test. */
class StreamRecoverySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  behavior of "transformWithState checkpoint recovery"

  it should "resume TWAP state across a stop/restart and match batch exactly" in {
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    import spark.implicits._

    val streamIn = new java.io.File(graft.SparkSpec.tempDir("rec-in"))
    val outPath = graft.SparkSpec.tempDir("rec-out") + "/rows"
    val ck = graft.SparkSpec.tempDir("rec-ck") + "/twap"

    val ev = Q.events(spark, sfDir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        Q.cents(col("value")).as("value_c"))
    val parts = graft.SparkSpec.timeOrderedParts(ev)
    def addFile(i: Int): Unit =
      graft.SparkSpec.writeStreamPart(parts(i), streamIn, i)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_us", LongType),
      StructField("user_id", LongType), StructField("value_c", LongType)))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamIn.getAbsolutePath)
        .as[StreamTwap.ValueEvent]
      val q = StreamTwap(stream)
        .writeStream
        .foreachBatch { (rows: org.apache.spark.sql.Dataset[StreamTwap.TwapRow], id: Long) =>
          rows.withColumn("batch_id", lit(id))
            .write.mode("overwrite").parquet(s"$outPath/batch=$id")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination() // AvailableNow: drains what exists NOW, then stops
    }

    // ---- run 1: only the first third exists; query terminates after it ----
    addFile(0)
    runOnce()
    val afterRun1 = new java.io.File(outPath).listFiles().count(_.getName.startsWith("batch="))
    afterRun1 shouldBe 1

    // ---- restart: remaining thirds appear, NEW query, SAME checkpoint ----
    addFile(1); addFile(2)
    runOnce()
    new java.io.File(outPath).listFiles()
      .count(_.getName.startsWith("batch=")) should be >= 3

    // ---- recovered state must make the totals exactly the batch query's ----
    val all = spark.read.parquet(outPath)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("batch_id").desc)
    val latest = all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("twap_den") > 0)
      .select("user_id", "twap_num", "twap_den")
    val batch = EventAnalytics.twap(spark, sfDir)
      .select("user_id", "twap_num", "twap_den")
    latest.count() shouldBe batch.count()
    latest.exceptAll(batch).count() shouldBe 0L
  }

  // Keyed-state twins, restarted from the checkpoint after every
  // micro-batch: every row their sinks receive must equal the uninterrupted
  // run's. 327 events (5 of the 15 users, whole histories) in
  // 4 event-time-ordered files.
  private def restartMatchesUninterrupted(name: String, cols: Seq[Column])(
      twin: DataFrame => Dataset[_]): Unit = {
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val ev = Q.events(spark, sfDir).filter(col("user_id") % 3 === 0).select(cols: _*)
    val parts = graft.SparkSpec.timeOrderedParts(ev, 4)
    val once = graft.SparkSpec.replay(spark, name, parts, restart = false)(twin)
    val restarted = graft.SparkSpec.replay(spark, name, parts, restart = true)(twin)
    once should not be empty
    restarted shouldBe once
  }

  private val attrCols = Seq("event_id", "ts_us", "user_id", "event_type").map(col)

  it should "give StreamFunnel's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("funnel", attrCols) { df =>
      StreamFunnel(df.as[StreamFunnel.FunnelEvent], "view", "click", "purchase",
        7L * 24 * 3600 * 1000000)
    }
  }

  it should "give StreamRfm's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("rfm",
        Seq(col("user_id"), col("ts_us"), Q.cents(col("value")).as("cents"))) { df =>
      StreamRfm(df.as[StreamRfm.RfmEvent])
    }
  }

  it should "give StreamScd2's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("scd2", attrCols) { df =>
      StreamScd2(df.as[StreamScd2.AttrEvent])
    }
  }

  private val centsCols = Seq(col("event_id"), col("ts_us"), col("user_id"),
    Q.cents(col("value")).as("cents"))

  it should "give StreamRetention's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("retention",
        Seq("event_id", "ts_us", "user_id").map(col)) { df =>
      StreamRetention(df.as[StreamRetention.RetEvent])
    }
  }

  it should "give StreamRolling's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("rolling", centsCols) { df =>
      StreamRolling(df.as[StreamRolling.RollEvent])
    }
  }

  it should "give StreamCusum's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    // StreamCusumSpec's reference pair: k = the mean event value, h = 5k
    lazy val k = Q.events(spark, sfDir).select(Q.cents(col("value")).as("v"))
      .agg(expr("sum(v) div count(*)")).head().getLong(0)
    restartMatchesUninterrupted("cusum", centsCols) { df =>
      StreamCusum(df.withColumnRenamed("cents", "v").as[StreamCusum.CusumEvent],
        k, 5 * k)
    }
  }

  it should "give StreamAttribution's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("attribution", attrCols) { df =>
      StreamAttribution(df.as[StreamAttribution.AttrEvent])
    }
  }

  it should "give StreamAnomaly's uninterrupted sink rows across a restart at every micro-batch" in {
    import spark.implicits._
    restartMatchesUninterrupted("anomaly", Seq(col("event_id"), col("ts_us"),
        col("event_type"), Q.cents(col("value")).as("x"))) { df =>
      StreamAnomaly(df.select("event_id", "event_type", "x").as[StreamAnomaly.ValueEvent])
    }
  }
}
