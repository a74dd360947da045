package graft.runner

import graft.model.{CheckResults, GraftEvent}
import graft.sinks.SinkConfig
import graft.sources.SourceConfig
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** The engine's entry object — the Spark counterpart of the reference's
  * FlinkRunner (FlinkRunner.scala:38-336): owns the SparkSession (instead of
  * StreamExecutionEnvironment + TableEnvironment), eagerly resolves all
  * configured sources and sinks (FlinkRunner.scala:55-88), and dispatches
  * `process()` → user `invoke(jobName)` → `job.run()`
  * (FlinkRunner.scala:143-199).
  *
  * Scale defaults: shuffle partitions from config (not Spark's 200), AQE on
  * — at 100 TB AQE coalesces post-shuffle partitions and re-plans skew joins
  * at runtime, so one static setting serves all scale factors. The session
  * carries [[graft.functions.GraftExtensions]], whose
  * [[SmallSortExchange]] rule runs a global sort as one partition when AQE
  * has measured its input at no more than
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB by default):
  * that skips `RangePartitioner`'s sampling job, which recomputes the sort's
  * whole input. Larger sorts keep range partitioning. Its optimizer rule
  * [[graft.agg.PercentileRewrite]] runs exact `percentile`, `median` and
  * `percentile_cont` on [[graft.agg.ExactPercentile]], a primitive sorted-
  * run buffer (O(distinct) memory, varint shuffle form) with results
  * bit-identical to Spark's, whenever the percentage is foldable, there is
  * no frequency column and the input is integral, float or double; decimal
  * and interval inputs, `percentile_disc` and streaming plans keep Spark's
  * boxed aggregate.
  *
  * Every session also carries [[SparkRunner.sessionDefaults]], two fixed
  * per-micro-batch costs removed (measured on `stream_replay`, 4-core host,
  * `local[2]`):
  *  - `file:` paths go through [[LocalFs]]. Without libhadoop, Hadoop's local
  *    file system forks `chmod` for every file and directory it creates and
  *    `readlink` for every rename, and each offset-log, commit-log and
  *    sink-log entry, RocksDB changelog and sink file is one or more of
  *    those: 6,228 spawns in one run, which made up most of the state commit
  *    (1,300 → 245 ms per warm pass) and the WAL commit (265 → 14 ms).
  *  - `spark.sql.artifact.isolation.enabled=false`. Every streaming query
  *    runs on a cloned session with a fresh UUID, and with isolation on the
  *    executor gives each UUID its own class loader; Spark keys its codegen
  *    cache on (class loader, code), so each new query compiled its ~14
  *    classes again (42 compiles per pass, all seen before). The engine adds
  *    no session artifacts, so isolation bought nothing.
  */
abstract class SparkRunner[ADT <: GraftEvent](
    val config: GraftConfig,
    val checkResults: Option[CheckResults[ADT]] = None) {

  lazy val spark: SparkSession = {
    val b = SparkRunner.builder()
      .appName(config.getString("app.name", s"graft-${config.jobName}"))
      .config("spark.sql.shuffle.partitions", config.getInt("shuffle.partitions", 32))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", config.getString("ui.enabled", "false"))
      // RocksDB state store: required by transformWithState (KeyedFold,
      // TtlDedup, AllowedLateness, StreamResample) and the right
      // default at scale anyway — state spills to local disk instead of
      // living on the executor heap. Override with state.store.provider.
      .config("spark.sql.streaming.stateStore.providerClass",
        config.getString("state.store.provider",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      // Changelog checkpointing: each commit appends the micro-batch's
      // DELTA to the checkpoint instead of snapshotting SST files;
      // snapshots move to background maintenance. Measured on the r16
      // throughput bench (StreamBench, 1 M-row batches): funnel 1.07 M →
      // 1.35 M rows/s (+26%), TTL dedup under 100%-new-keys churn 497 k →
      // 599 k rows/s (+21%), p50 batch −20%. Default on; disable with
      // state.store.changelog=false for pre-4.x checkpoint compatibility.
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        config.getString("state.store.changelog", "true"))
    // Per-source idleness (reference withIdleness): when any source declares
    // max.idleness, an idle source must not stall the combined watermark —
    // Spark's equivalent lever is the max multiple-watermark policy.
    //
    // DIVERGENCE from the reference: withIdleness excludes a source from
    // watermark calculation only AFTER it has been idle for the configured
    // duration; Spark's "max" policy always tracks the fastest stream, even
    // when no source is idle. Rows from an active-but-lagging source in a
    // multi-watermark stateful query can therefore become late data and be
    // dropped. The configured idleness DURATION has no effect here — only
    // the presence of the key. Both facts are warned at session build.
    val withIdle =
      if (config.allEntries.keys.exists(_.endsWith(".max.idleness"))) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "max.idleness is emulated with spark.sql.streaming.multipleWatermarkPolicy=max: " +
            "the global watermark always follows the FASTEST source (even when none is idle) " +
            "and the configured idleness duration is ignored; an active-but-lagging source's " +
            "rows may be treated as late data in multi-watermark stateful queries")
        b.config("spark.sql.streaming.multipleWatermarkPolicy", "max")
      } else b
    val withMaster = config.getStringOpt("master").fold(withIdle)(withIdle.master)
    withMaster.getOrCreate()
  }

  def isBatchMode: Boolean = config.isBatchMode

  def checkpointDir: String =
    config.getString("checkpoint.dir", s"/tmp/graft-checkpoints/${config.jobName}")

  /** Eagerly-resolved source/sink registries (reference FlinkRunner.scala:55-88). */
  lazy val sourceConfigs: Map[String, SourceConfig] =
    config.namesUnder("sources").map(n => n -> SourceConfig(n, config)).toMap

  lazy val sinkConfigs: Map[String, SinkConfig] =
    config.namesUnder("sinks").map(n => n -> SinkConfig(n, config)).toMap

  def defaultSourceName: String =
    config.getStringOpt("source.name").orElse(sourceConfigs.keys.toSeq.sorted.headOption)
      .getOrElse(sys.error("no sources configured"))

  def defaultSinkNames: Seq[String] = {
    val named = config.getStringList("sink.names")
    if (named.nonEmpty) named else sinkConfigs.filterNot(_._2.isSideOutput).keys.toSeq.sorted
  }

  /** Typed source materialization with CheckResults mock substitution
    * (reference configToSource, FlinkRunner.scala:237-244). */
  def sourceDataset[IN <: ADT: Encoder](name: String): Dataset[IN] =
    checkResults match {
      case Some(cr) =>
        implicitly[Encoder[IN]] // force encoder resolution before the cast
        spark.createDataset(cr.getInputEvents(name).map(_.asInstanceOf[IN]))(implicitly[Encoder[IN]])
      case None =>
        val sc = sourceConfigs.getOrElse(name, sys.error(s"unknown source '$name'"))
        val df = sc.withWatermark(sc.read(spark, isBatchMode), isBatchMode)
        df.as[IN]
    }

  /** Untyped source (dynamic-schema pipelines). */
  def sourceDataFrame(name: String): DataFrame = {
    val sc = sourceConfigs.getOrElse(name, sys.error(s"unknown source '$name'"))
    sc.withWatermark(sc.read(spark, isBatchMode), isBatchMode)
  }

  /** User job dispatch (reference `invoke` is abstract the same way). */
  def invoke(jobName: String): Unit

  def process(): Unit =
    config.jobName match {
      case "help" | "" => help()
      case j => invoke(j)
    }

  def help(): Unit = {
    println(s"Usage: <jobName> [args] [--key value ...]")
    println(s"sources: ${sourceConfigs.keys.toSeq.sorted.mkString(", ")}")
    println(s"sinks:   ${sinkConfigs.keys.toSeq.sorted.mkString(", ")}")
  }
}

object SparkRunner {

  /** Settings every session of the engine carries (see "Scale defaults" in
    * [[SparkRunner]]): the fork-free local file system and one codegen
    * class loader for all sessions. */
  val sessionDefaults: Map[String, String] =
    LocalFs.sparkConf + ("spark.sql.artifact.isolation.enabled" -> "false")

  /** The one base for a session: [[graft.functions.GraftExtensions]], UTC,
    * no UI and [[sessionDefaults]]. `SparkRunner.spark`, `Bench`, `Verify`
    * and the test session build on it. */
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(sessionDefaults)
}
