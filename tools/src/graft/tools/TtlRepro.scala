package graft.tools

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Minimal repro: TtlDedup with a real TTL (TimeMode.ProcessingTime) NPEs
  * in TransformWithStateExec construction on Spark 4.1.2 under
  * Trigger.AvailableNow — characterize across triggers/sources.
  * Usage: TtlRepro [availablenow|proctime|memory]
  */
object TtlRepro {
  final case class E(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String) extends graft.model.GraftEvent {
    override def $id: String = event_id.toString
    override def $key: String = user_id.toString
    override def $timestamp: Long = ts_us / 1000L
    override def $dedupeId: String = event_id.toString
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("availablenow")
    val spark = graft.runner.SparkRunner.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val ck = java.nio.file.Files.createTempDirectory("ttl_repro").toString

    if (mode == "memory") {
      implicit val sq = spark.sqlContext
      val input = MemoryStream[E]
      val out = graft.streaming.TtlDedup(input.toDS(),
        java.time.Duration.ofSeconds(5))
      val q = out.writeStream.format("memory").queryName("out")
        .outputMode("append").option("checkpointLocation", ck).start()
      input.addData(E(1, 1, 1, "a"), E(2, 2, 1, "a"))
      q.processAllAvailable()
      input.addData(E(1, 3, 1, "a"), E(3, 4, 2, "b"))
      q.processAllAvailable()
      q.stop()
      println("[repro] memory ok: " + spark.table("out").count())
    } else {
      val dir = java.nio.file.Files.createTempDirectory("ttl_in").toString
      spark.range(10).select(col("id").as("event_id"),
        col("id").as("ts_us"), col("id").as("user_id"),
        org.apache.spark.sql.functions.lit("a").as("event_type"))
        .write.parquet(dir + "/p0")
      val schema = spark.read.parquet(dir + "/p0").schema
      val stream = spark.readStream.schema(schema).parquet(dir + "/p*")
      val out = graft.streaming.TtlDedup(stream.as[E],
        java.time.Duration.ofSeconds(5))
      val trig = if (mode == "proctime") Trigger.ProcessingTime(500) else Trigger.AvailableNow()
      val q = out.writeStream
        .foreachBatch { (d: Dataset[E], b: Long) =>
          println(s"[repro] batch $b rows=${d.count()}"); () }
        .option("checkpointLocation", ck).trigger(trig).start()
      if (mode == "proctime") { Thread.sleep(8000); q.stop() }
      else q.awaitTermination(30000)
      println("[repro] done, exception=" + q.exception.map(_.getMessage.take(200)))
    }
    spark.stop()
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
