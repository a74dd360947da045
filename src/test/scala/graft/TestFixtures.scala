package graft

import graft.model.GraftEvent
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared test ADT (mirrors the reference's MySimpleADT fixture shape:
  * src/test/.../model/MySimpleADT.scala:22-199 — SimpleA/B/C events). */
sealed trait TestADT extends GraftEvent

final case class SimpleA(id: String, key: String, ts: Long, amount: Double)
    extends TestADT {
  override def $id: String = id
  override def $key: String = key
  override def $timestamp: Long = ts
}

final case class SimpleB(id: String, key: String, ts: Long, label: String, count: Long)
    extends TestADT {
  override def $id: String = id
  override def $key: String = key
  override def $timestamp: Long = ts
}

/** Control event (active flag drives control-gating). */
final case class SimpleC(id: String, key: String, ts: Long, activeFlag: Boolean)
    extends TestADT {
  override def $id: String = id
  override def $key: String = key
  override def $timestamp: Long = ts
  override def $active: Boolean = activeFlag
}

/** Shared local SparkSession for specs (one per JVM, like the reference's
  * MiniCluster reuse; tests run serially in the forked test JVM). */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {

  private val tmpDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path]())

  /** Spark installs its own shutdown hook (SparkContext stop, Spark temp
    * dir deletion) in Hadoop's ShutdownHookManager at priority 40; hooks
    * there run in descending priority, so this one runs first. */
  private val CleanupPriority = 50

  private def quietly(body: => Unit): Unit =
    try body catch { case _: Throwable => () }

  /** At JVM exit, in this order: stop every active streaming query, stop
    * the shared session, and only then delete the scratch dirs. Deleting
    * while the state stores still run leaves RocksDB maintenance writing
    * into vanished dirs, which slows the exit and logs an error per store.
    * (`StateStore.stop()` is not called here: it waits for the maintenance
    * pool while holding the lock a maintenance thread is blocked on.) */
  private lazy val cleanupHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(() => {
      SparkSession.getDefaultSession.foreach { s =>
        s.streams.active.foreach(q => quietly(q.stop()))
        quietly(s.stop())
      }
      tmpDirs.forEach { p =>
        quietly {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder()).forEach { q =>
            quietly(java.nio.file.Files.deleteIfExists(q))
          } finally walk.close()
        }
      }
    }, CleanupPriority, 2, java.util.concurrent.TimeUnit.MINUTES)

  /** Scratch dir (checkpoints, file sources/sinks) deleted recursively when
    * the test JVM exits — repeated test runs must not accumulate temp dirs. */
  def tempDir(prefix: String): String = {
    cleanupHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.add(p)
    p.toString
  }

  /** Split `df` into `n` event-time-contiguous parts on its `ts_us`
    * column — the ordered-ingest harness shared by the streaming
    * batch-equality specs. */
  def timeOrderedParts(df: org.apache.spark.sql.DataFrame,
      n: Int = 3): Seq[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions._
    val ts = df.select("ts_us").orderBy("ts_us").collect().map(_.getLong(0))
    val cuts = (1 until n).map(i => ts(i * ts.length / n))
    (0 until n).map { i =>
      val lo: org.apache.spark.sql.Column =
        if (i == 0) lit(true) else col("ts_us") >= cuts(i - 1)
      val hi: org.apache.spark.sql.Column =
        if (i == n - 1) lit(true) else col("ts_us") < cuts(i)
      df.filter(lo && hi)
    }
  }

  /** Write one part as a single parquet file under `streamIn` with an
    * mtime strictly increasing in `i`, pinning micro-batch order. */
  def writeStreamPart(part: org.apache.spark.sql.DataFrame,
      streamIn: java.io.File, i: Int): Unit = {
    val tmp = tempDir(s"ordpart$i")
    part.coalesce(1).write.mode("overwrite").parquet(tmp)
    val f = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(streamIn, f"part-$i%05d.parquet")
    java.nio.file.Files.copy(f.toPath, dst.toPath)
    dst.setLastModified(1700000000000L + i * 60000L)
  }

  /** `body`'s result and the number of jobs it submits. Jobs are counted
    * by a local property set for the duration of `body`; a marker job
    * submitted afterwards is awaited, and since the listener bus delivers
    * in order, every counted job's start event has arrived by then. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val token = java.util.UUID.randomUUID.toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`token`) => jobs.incrementAndGet()
          case Some(t) if t == token + ":end" => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    val outer = sc.getLocalProperty(key)
    try {
      sc.setLocalProperty(key, token)
      val result = body
      sc.setLocalProperty(key, token + ":end")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (result, jobs.get)
    } finally {
      sc.setLocalProperty(key, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** The rows of `df`, asserted equal (as a multiset) to the rows of `df`
    * built inside [[graft.ops.LocalOrDistributed.forceDistributed]], where
    * every size gate takes its distributed path. Each side is built and
    * collected in its own [[graft.util.CacheBin]] scope. Returns the rows
    * of the normal build. */
  def pathsAgree(df: => org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    def rows = graft.util.CacheBin.withScope(df.collect().toSeq)
    val normal = rows
    val distributed = graft.ops.LocalOrDistributed.forceDistributed(rows)
    org.scalatest.Assertions.assertResult(normal.map(_.toString).sorted,
      "rows of the forced-distributed build")(distributed.map(_.toString).sorted)
    normal
  }

  /** The usual 3-file ordered ingest in one call. */
  def writeOrderedStreamParts(df: org.apache.spark.sql.DataFrame,
      streamIn: java.io.File, n: Int = 3): Unit =
    timeOrderedParts(df, n).zipWithIndex.foreach { case (p, i) =>
      writeStreamPart(p, streamIn, i)
    }

  /** Replay `parts` through the streaming query `twin` into a
    * `foreachBatch` sink, one file per micro-batch (`maxFilesPerTrigger`
    * 1, `Trigger.AvailableNow`), and return every row the sink received,
    * sorted. Without `restart` all files exist before one run. With
    * `restart` they appear one at a time and each is drained by a new query
    * resuming from the same checkpoint, so the query stops and restarts at
    * every micro-batch boundary. */
  def replay(spark: SparkSession, name: String,
      parts: Seq[org.apache.spark.sql.DataFrame], restart: Boolean)(
      twin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]): Seq[String] = {
    val in = new java.io.File(tempDir(s"$name-in"))
    val ck = tempDir(s"$name-ck") + "/q"
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(): Int = {
      val q = twin(spark.readStream.schema(parts.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(in.getAbsolutePath))
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = b.collect().map(_.toString)
          rows.synchronized { rows ++= got }
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    val batches =
      if (restart) parts.indices.map { i => writeStreamPart(parts(i), in, i); run() }
      else { parts.indices.foreach(i => writeStreamPart(parts(i), in, i)); Seq(run()) }
    assert(batches.sum == parts.size && batches.forall(_ > 0),
      s"data micro-batches per run: ${batches.mkString(",")}")
    rows.sorted.toSeq
  }

  lazy val session: SparkSession = {
    val s = graft.runner.SparkRunner.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      // transformWithState (KeyedFold, TtlDedup, AllowedLateness,
      // StreamResample) requires the RocksDB state store provider
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
