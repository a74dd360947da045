package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.model.GraftEvent
import graft.queries.EventAnalytics
import graft.runner.{GraftConfig, SparkRunner}
import graft.streaming.{StreamFunnel, StreamRfm, StreamScd2}
import graft.util.CacheBin
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The benchmark's JVM side. perfbench/run.py launches it once per role:
  *
  *   setup <tier> <tables> <cpus> <out>
  *       open the tier, then exit
  *   run   <tier> <tables> <cpus> <out> <seconds> <queries> <checked>
  *       timed closed-loop passes over `queries`; the rows of `checked`
  *       are written for the oracle along the way (see [[timed]])
  *   plan  <tier> <tables> <cpus> <out> <query>
  *       executed plans of one noop write
  *
  * `queries` is a comma-separated list of `SparkEntry.queries` names, or
  * `stream:<dir>` to replay the event-time-ordered files in `dir` through
  * the streaming twins. Every role prints `READY` once the session is up and
  * the tier is opened (`tables`, comma-separated, are resolved); run.py times
  * process start to that line as set-up.
  * Results go to `<out>/<role>.json`; with tracing on, spans go to
  * `<out>/spans.jsonl`.
  */
object Harness {

  /** The engine's own session builder: a configured-job runner. */
  private final class BenchRunner(cpus: Int) extends SparkRunner[GraftEvent](
      GraftConfig(Array("perfbench"),
        s"master = local[$cpus]\nshuffle.partitions = $cpus\napp.name = perfbench")) {
    override def invoke(jobName: String): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val Array(role, tier, tables, cpus, out) = args.take(5)
    Files.createDirectories(Paths.get(out))
    val spark = new BenchRunner(cpus.toInt).spark
    spark.sparkContext.setLogLevel("WARN")
    tables.split(',').foreach(t => spark.read.parquet(s"$tier/$t.parquet").schema)
    log("ready")
    println("READY")
    System.out.flush()
    val rec = new Record
    role match {
      case "setup" =>
      case "run" =>
        timed(spark, tier, out, args(5).toDouble, args(6), args(7), rec)
        log("timed passes done")
      case "plan" => plan(spark, tier, args(5), rec)
    }
    if (Spans.enabled) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Spans.dump(s"$out/spans.jsonl")
    }
    rec.write(s"$out/$role.json")
    spark.stop()
    log("session stopped")
    // state-store threads would otherwise hold the JVM for seconds more
    sys.exit(0)
  }

  /** Progress for the JVM log, in seconds since JVM start. */
  private def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.err.println(f"[perfbench] ${up / 1000.0}%.2f s $msg")
  }

  /** Result record, written as one JSON object. */
  final class Record {
    val nums = scala.collection.mutable.LinkedHashMap[String, Double]()
    val lists = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val texts = scala.collection.mutable.LinkedHashMap[String, String]()
    val execs = ArrayBuffer[(String, Int, Double, Boolean)]()

    def list(k: String): ArrayBuffer[Double] = lists.getOrElseUpdate(k, ArrayBuffer())

    def write(path: String): Unit = {
      import Json._
      val x = execs.map { case (q, p, s, ok) =>
        obj(Seq("query" -> str(q), "pass" -> p.toString, "s" -> num(s), "ok" -> ok.toString))
      }
      Files.writeString(Paths.get(path), obj(
        nums.map { case (k, v) => k -> num(v) } ++
          lists.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") } ++
          Seq("errors" -> obj(errors.map { case (k, v) => k -> str(v) }),
            "texts" -> obj(texts.map { case (k, v) => k -> str(v) }),
            "executions" -> x.mkString("[", ",", "]"))) + "\n")
    }
  }

  /** Run `body` as a benchmark span: jobs it submits carry the span id. */
  private def span[T](spark: SparkSession, id: String, parent: String,
      kind: String, name: String)(body: => T): T = {
    if (!Spans.enabled) body
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", id)
      val t0 = Spans.nowMs
      try body
      finally {
        Spans.add(id, parent, kind, name, t0, Spans.nowMs)
        sc.setLocalProperty("perfbench.span", outer)
      }
    }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap the program still holds after a full collection: memoized
    * artifacts, cached frames and session state that outlive a query. A
    * collection lets Spark's cleaner release what it tracked weakly, so the
    * least of three collections a moment apart is taken. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Engine-wide counters, read at pass boundaries of traced runs. */
  private def counters(spark: SparkSession): Map[String, Double] = {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cached = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum.toDouble
    Map(
      "codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
      "cached_bytes" -> cached)
  }

  private def passSpan[T](spark: SparkSession, pass: Int)(body: => T): T =
    if (!Spans.enabled) body
    else {
      val c0 = counters(spark)
      val t0 = Spans.nowMs
      val r = body
      val c1 = counters(spark)
      Spans.add(s"pass-$pass", null, "pass", pass.toString, t0, Spans.nowMs,
        Map("codegen_compiles" -> (c1("codegen_compiles") - c0("codegen_compiles")),
          "codegen_compile_ms" -> (c1("codegen_compile_ms") - c0("codegen_compile_ms")),
          "cached_bytes" -> c1("cached_bytes")))
      r
    }

  // ---------------------------------------------------------------- batch

  /** One execution of query `name` in pass `pass`: build, then `action`. */
  private def runQuery(spark: SparkSession, tier: String, name: String,
      pass: String, rec: Record)(action: DataFrame => Unit): Boolean =
    try {
      val id = s"q-$pass-$name"
      span(spark, id, s"pass-$pass", "query", name) {
        CacheBin.withScope {
          val df = span(spark, s"$id-build", id, "build", name) {
            SparkEntry.queries(name)(spark, tier)
          }
          span(spark, s"$id-action", id, "action", name)(action(df))
        }
      }
      true
    } catch {
      case e: Throwable =>
        rec.errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
        false
    }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Closed loop: one pass runs every query once, in order; the next query
    * starts when the previous one has finished. Pass 0 is the cold pass.
    * Passes 1 and 2 are warm-ups, recorded but not reported: the JIT is
    * still compiling then, and pass times keep falling for two or three
    * passes after the cold one. On batch, pass 1 writes each query's rows
    * for the oracle instead of discarding them. Then warm passes run until
    * `seconds` have elapsed since the first of them, at least three; the
    * first warm pass's number goes into the record as `first_warm`. On
    * stream, the last replay's sink output is then written in the shape of
    * each twin's batch form for the oracle. */
  private def timed(spark: SparkSession, tier: String, out: String,
      seconds: Double, queries: String, checked: String, rec: Record): Unit = {
    val stream = queries.startsWith("stream:")
    val pass: Int => Double =
      if (stream) replayPass(spark, queries.drop(7), out, rec)
      else {
        val names = queries.split(',').toSeq
        p => {
          val s0 = System.nanoTime()
          names.foreach { q =>
            val e0 = System.nanoTime()
            val ok = runQuery(spark, tier, q, p.toString, rec)(noop)
            rec.execs += ((q, p, (System.nanoTime() - e0) / 1e9, ok))
          }
          (System.nanoTime() - s0) / 1e9
        }
      }
    val firstWarm = 3
    rec.nums("first_warm") = firstWarm
    rec.nums("cold_pass_s") = passSpan(spark, 0)(pass(0))
    (1 until firstWarm).foreach { p =>
      rec.list("warmup_pass_s") += passSpan(spark, p) {
        if (p == 1 && !stream) checkPass(spark, tier, out, checked, rec) else pass(p)
      }
    }
    val t0 = System.nanoTime()
    var p = firstWarm
    while (p < firstWarm + 3 || (System.nanoTime() - t0) / 1e9 < seconds) {
      rec.list("warm_pass_s") += passSpan(spark, p)(pass(p))
      p += 1
    }
    rec.nums("measured_s") = (System.nanoTime() - t0) / 1e9
    rec.nums("peak_rss_mb") = peakRssMb()
    rec.nums("retained_heap_mb") = retainedHeapMb()
    if (stream) checkReplay(spark, s"$out/sink", s"$out/rows", rec)
    writeOracleSql(out, checked, closedRunsOnly = stream)
  }

  /** The first warm-up pass of a batch run: every query's rows written for
    * the DuckDB oracle. */
  private def checkPass(spark: SparkSession, tier: String, out: String,
      queries: String, rec: Record): Double = {
    val s0 = System.nanoTime()
    queries.split(',').foreach { q =>
      val e0 = System.nanoTime()
      val ok = runQuery(spark, tier, q, "1", rec) {
        _.write.mode("overwrite").parquet(s"$out/rows/$q")
      }
      rec.execs += ((q, 1, (System.nanoTime() - e0) / 1e9, ok))
    }
    (System.nanoTime() - s0) / 1e9
  }

  /** The oracle SQL of every checked name. On the stream the sink holds
    * only SCD2's closed runs (a run closes when the next one starts), so
    * `ev_scd2`'s oracle is restricted to those. */
  private def writeOracleSql(out: String, checked: String,
      closedRunsOnly: Boolean): Unit = {
    val names = checked.split(',').toSeq
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map {
        case ("ev_scd2", sql) if closedRunsOnly =>
          "ev_scd2" -> s"SELECT * FROM ($sql) WHERE end_us <> -1"
        case kv => kv
      }
    Files.writeString(Paths.get(s"$out/rows/oracle_sql.json"),
      Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }))
  }

  /** Executed plans of the timed action (a noop write) and, for contrast,
    * of `count()`, keyed by the action that ran them. */
  private def plan(spark: SparkSession, tier: String, name: String,
      rec: Record): Unit = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(f -> qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    CacheBin.withScope(noop(SparkEntry.queries(name)(spark, tier)))
    CacheBin.withScope(SparkEntry.queries(name)(spark, tier).count())
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    plans.asScala.zipWithIndex.foreach { case ((f, p), i) => rec.texts(s"$i:$f") = p }
  }

  // ---------------------------------------------------------------- stream

  private val TWINS = Seq("funnel", "rfm", "scd2")
  private val HORIZON_US = 7L * 24 * 3600 * 1000000

  private val streamSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("cents", LongType)))

  private def twin(name: String, src: DataFrame): DataFrame =
    name match {
      case "funnel" => StreamFunnel(
        src.select("event_id", "ts_us", "user_id", "event_type")
          .as(Encoders.product[StreamFunnel.FunnelEvent]),
        "view", "click", "purchase", HORIZON_US).toDF()
      case "rfm" => StreamRfm(
        src.select("user_id", "ts_us", "cents")
          .as(Encoders.product[StreamRfm.RfmEvent])).toDF()
      case "scd2" => StreamScd2(
        src.select("event_id", "ts_us", "user_id", "event_type")
          .as(Encoders.product[StreamScd2.AttrEvent])).toDF()
    }

  /** One replay: each twin in turn drains the ordered files, one file per
    * micro-batch, into its own parquet sink with a fresh checkpoint. The
    * twins run one after another so that a micro-batch's latency is its own
    * cost, not contention with the other twins. */
  private def replayPass(spark: SparkSession, dir: String, out: String,
      rec: Record)(p: Int): Double = {
    val sink = s"$out/sink"
    deleteTree(sink)
    val t0 = System.nanoTime()
    TWINS.foreach { name =>
      val ok = try {
        span(spark, s"r-$p-$name", s"pass-$p", "replay", name) {
          val src = spark.readStream.schema(streamSchema)
            .option("maxFilesPerTrigger", 1).parquet(dir)
          val q = twin(name, src).writeStream.format("parquet")
            .option("path", s"$sink/$name")
            .option("checkpointLocation", s"$sink/_checkpoints/$name")
            .queryName(name)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val batches = q.recentProgress.filter(_.numInputRows > 0)
          if (p == 0)
            rec.nums("replay_rows") =
              rec.nums.getOrElse("replay_rows", 0.0) + batches.map(_.numInputRows).sum
          // a fresh query's first micro-batch also creates its state store;
          // latency samples are the micro-batches after it
          else if (p >= rec.nums("first_warm")) batches.drop(1).foreach { pr =>
            rec.list("batch_ms") += pr.durationMs.get("triggerExecution").toDouble
          }
        }
        true
      } catch {
        case e: Throwable =>
          rec.errors(name) = s"${e.getClass.getName}: ${e.getMessage}"
          false
      }
      rec.execs += ((name, p, 0.0, ok))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The last replay's sink output, in the shape of each twin's batch form
    * (`ev_funnel`, `ev_rfm`, `ev_scd2`), written for the oracle: the
    * funnel's step counts, the RFM grid scored from each user's latest
    * statistic, and SCD2's closed runs. */
  private def checkReplay(spark: SparkSession, sink: String, rows: String,
      rec: Record): Unit =
    TWINS.foreach { name =>
      val ok = try {
        val got = spark.read.parquet(s"$sink/$name")
        val form = name match {
          case "funnel" =>
            got.groupBy("step").agg(count(lit(1)).as("users"))
              .select(concat_ws("_", col("step").cast("string"),
                element_at(array(lit("view"), lit("click"), lit("purchase")),
                  col("step"))).as("step"), col("users"))
          case "rfm" =>
            // the latest emission per user is its current statistic
            val latest = got.groupBy("user_id").agg(max("freq").as("freq"))
              .join(got, Seq("user_id", "freq"))
            EventAnalytics.rfmGrid(latest)
          case "scd2" => got
        }
        form.write.mode("overwrite").parquet(s"$rows/ev_$name")
        true
      } catch {
        case e: Throwable =>
          rec.errors(s"check_$name") = s"${e.getClass.getName}: ${e.getMessage}"
          false
      }
      rec.execs += (("check_" + name, -1, 0.0, ok))
    }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
