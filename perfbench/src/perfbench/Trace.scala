package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** JSON literals for the records the harness writes. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** In-memory span store. A span is one call into a layer: its kind, the span
  * that caused it, start and end in epoch milliseconds, and counters taken
  * at that boundary. Spans are kept only in traced runs (the listeners are
  * registered), in memory until [[dump]] writes them as JSON lines. */
object Spans {
  final case class Span(id: String, parent: String, kind: String, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Double])

  val enabled: Boolean = sys.props.contains("spark.extraListeners")

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = epochMs + (System.nanoTime() - nanoBase) / 1e6

  def add(id: String, parent: String, kind: String, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty): Unit =
    if (enabled) spans.add(Span(id, parent, kind, name, startMs, endMs, attrs))

  def dump(path: String): Unit = {
    import Json._
    val lines = spans.asScala.map { s =>
      obj(Seq("id" -> str(s.id), "parent" -> str(s.parent), "kind" -> str(s.kind),
        "name" -> str(s.name), "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs),
        "attrs" -> obj(s.attrs.map { case (k, v) => k -> num(v) })))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.toSeq.asJava)
  }
}

/** Scheduler layer: SQL executions, jobs, stages and tasks. Registered with
  * `-Dspark.extraListeners=perfbench.SchedulerTrace`. A job's parent is its
  * SQL execution when it has one, otherwise the benchmark span that was
  * current on the submitting thread (`perfbench.span` local property). */
class SchedulerTrace extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map("sql-" + _)
      .orElse(props.flatMap(p => Option(p.getProperty("perfbench.span"))))
      .orNull
    jobStarts.put(e.jobId, (e.time.toDouble, parent))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, parent) =>
      Spans.add(s"job-${e.jobId}", parent, "job", e.jobId.toString, start, e.time.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val job = Option(stageJob.get(i.stageId)).map("job-" + _).orNull
    val start = i.submissionTime.getOrElse(0L).toDouble
    val end = i.completionTime.map(_.toDouble).getOrElse(start)
    Spans.add(s"stage-${i.stageId}-${i.attemptNumber()}", job, "stage", i.name, start, end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val attrs =
      if (m == null) Map.empty[String, Double]
      else {
        val duration = (info.finishTime - info.launchTime).toDouble
        val sched = math.max(0.0, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
        Map(
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "sched_delay_ms" -> sched,
          "result_bytes" -> m.resultSize.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "input_rows" -> m.inputMetrics.recordsRead.toDouble,
          "output_bytes" -> m.outputMetrics.bytesWritten.toDouble)
      }
    Spans.add(s"task-${info.taskId}", s"stage-${e.stageId}-${e.stageAttemptId}",
      "task", info.taskId.toString, info.launchTime.toDouble,
      info.finishTime.toDouble, attrs)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time.toDouble)
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlStarts.remove(s.executionId)).foreach { start =>
        Spans.add(s"sql-${s.executionId}", null, "sql", s.executionId.toString,
          start, s.time.toDouble)
      }
    case _ =>
  }
}

/** Catalyst planning layer: the phase times of each executed query, from the
  * session's QueryPlanningTracker. Registered with
  * `-Dspark.sql.queryExecutionListeners=perfbench.PlanTrace`. */
class PlanTrace extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      Spans.add(s"plan-${qe.id}-$phase", s"sql-${qe.id}", "plan." + phase, phase,
        p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Streaming layer: one span per micro-batch with its phase durations and
  * state-store counters. Registered with
  * `-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTrace`. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val state = p.stateOperators
    val attrs = d ++ Map(
      "input_rows" -> p.numInputRows.toDouble,
      "state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "state_memory_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum.toDouble,
      "state_update_ms" -> state.map(_.allUpdatesTimeMs).sum.toDouble)
    Spans.add(s"batch-${p.runId}-${p.batchId}", null, "batch", p.name,
      start, start + d.getOrElse("triggerExecution", 0.0), attrs)
  }
}
