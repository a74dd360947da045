package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Scoped registry for operator-internal persisted frames.
  *
  * Operators like [[graft.ops.NearDup.pairsWithJaccard]] persist an
  * intermediate (the shingle-hash frame) because it feeds both the signature
  * aggregation and the exact-Jaccard join. Spark offers no "unpersist after
  * the consuming action" hook, so in a long-lived session each invocation
  * would otherwise pin another copy in executor storage for the life of the
  * app. This registry makes the lifecycle explicit — and SAFE under
  * concurrent queries: registrations go to the calling thread's active
  * [[Scope]] (opened with [[withScope]]), so two queries running on
  * different driver threads of the same session release only their own
  * intermediates, never each other's in-flight caches.
  *
  * Query plans are BUILT on the caller's thread (where operators call
  * [[persist]]); only task execution is multi-threaded — so a thread-local
  * scope captures exactly the frames of the query being constructed.
  * Frames persisted with no scope open fall back to a session-global bin
  * released by [[unpersistAll]]; that fallback retains the old caveat
  * (serialized query execution per session) and exists for ad-hoc callers.
  *
  * Frames are persisted MEMORY_AND_DISK so an unusually large intermediate
  * spills instead of evicting or OOMing — at 100 TB the shingle frame of a
  * skewed corpus can exceed storage memory.
  */
object CacheBin {

  /** A caller-owned registration bin; release() unpersists only frames
    * persisted while this scope was the thread's active one. */
  final class Scope private[CacheBin] () {
    private[CacheBin] val frames =
      java.util.Collections.synchronizedList(new java.util.ArrayList[DataFrame]())
    private[CacheBin] val releasers =
      java.util.Collections.synchronizedList(new java.util.ArrayList[() => Unit]())
    /** Blocking so storage is actually free before the next query runs.
      * Each release runs exception-isolated: one failing unpersist or
      * release action can't skip the rest or leave survivors registered to
      * double-run on a later release. The first failure rethrows after the
      * sweep so callers still see it. */
    def release(): Unit = {
      val failure = CacheBin.releaseAll(
        frames.asScala.map(df => () => { df.unpersist(blocking = true); () }).toList ++
          releasers.asScala.toList)
      frames.clear()
      releasers.clear()
      failure.foreach(t => throw t)
    }
  }

  /** Run every release thunk, isolating NON-FATAL failures; returns the
    * first one (later ones attached as suppressed). A fatal error (OOM,
    * interrupt) propagates immediately — continuing to issue Spark calls in
    * an OOM'd JVM, or eating a cancellation signal, is worse than leaking
    * the remaining cache entries. */
  private def releaseAll(thunks: Seq[() => Unit]): Option[Throwable] = {
    var first: Option[Throwable] = None
    thunks.foreach { f =>
      try f()
      catch {
        case scala.util.control.NonFatal(t) =>
          if (first.isEmpty) first = Some(t) else first.get.addSuppressed(t)
      }
    }
    first
  }

  private val active = new ThreadLocal[Scope]()

  private val global =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.List[DataFrame]]()

  /** Run `body` with a fresh scope active on this thread; frames persisted
    * inside are unpersisted when it completes (also on failure). */
  def withScope[T](body: => T): T = {
    val outer = active.get()
    val s = new Scope
    active.set(s)
    try body
    finally {
      active.set(outer)
      s.release()
    }
  }

  /** Persist `df` (MEMORY_AND_DISK) and register it for later release —
    * into the thread's active scope, else the session-global bin. */
  def persist(df: DataFrame): DataFrame = {
    // Re-persisting an identical plan logs "Asked to cache already cached
    // data" and double-registers nothing — guard on current storage level.
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      Option(active.get()) match {
        case Some(scope) => scope.frames.add(df)
        case None =>
          global.computeIfAbsent(df.sparkSession,
            _ => java.util.Collections.synchronizedList(new java.util.ArrayList[DataFrame]()))
            .add(df)
      }
    }
    df
  }

  /** Register a custom release action with the thread's active scope (e.g.
    * dropping a localCheckpoint's cached RDD, which plain
    * `Dataset.unpersist` cannot reach). No-scope callers get the action run
    * on [[unpersistAll]]. */
  def registerRelease(spark: SparkSession)(f: () => Unit): Unit =
    Option(active.get()) match {
      case Some(scope) => scope.releasers.add(f)
      case None =>
        globalReleasers.computeIfAbsent(spark,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[() => Unit]()))
          .add(f)
    }

  /** Drop the cached RDD behind an eager checkpoint. Plain
    * `Dataset.unpersist` only consults the SQL cache manager, which knows
    * nothing about checkpoint RDDs, so this reaches through the LogicalRDD;
    * without it stale checkpoint blocks sit in executor storage until the
    * ContextCleaner happens to collect them. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  private val globalReleasers =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.util.List[() => Unit]]()

  /** Release every UNSCOPED frame registered against `spark`. Safe only when
    * queries on this session run serially; scoped callers use [[withScope]].
    * Exception-isolated like [[Scope.release]]: both lists are removed from
    * the registry up front, every entry is attempted, the first failure
    * rethrows after the sweep. */
  def unpersistAll(spark: SparkSession): Unit = {
    val l = global.remove(spark)
    val r = globalReleasers.remove(spark)
    val thunks =
      (if (l != null) l.asScala.map(df => () => { df.unpersist(blocking = true); () }).toList
       else Nil) ++
        (if (r != null) r.asScala.toList else Nil)
    releaseAll(thunks).foreach(t => throw t)
  }
}
