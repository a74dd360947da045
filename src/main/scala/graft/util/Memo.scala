package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** The one registry for per-tier ARTIFACTS: values a deployed pipeline
  * would compute once per corpus snapshot and store (a table's row count,
  * an ANN codebook, the tokenized gram table, the near-dup candidate
  * pairs) and have every later stage read. In this self-contained engine
  * the artifact lives in the JVM instead of at a stored path; the registry
  * gives every consumer the same build-once semantics.
  *
  * Two entry points, one per artifact shape:
  *  - [[scalar]] for driver-side values (counts, thresholds, codebooks),
  *    shared by every session of the JVM;
  *  - [[frame]] for persisted DataFrames, owned by one session. `build`
  *    must return a frame that is already persisted and materialized (self-
  *    contained: safe to read after any [[CacheBin]] scope that was active
  *    during the build has been released). The registry owns its lifetime.
  *
  * Keys are an artifact name plus a data fingerprint
  * ([[graft.queries.Q.tableKey]], with any build parameters), so a tier
  * regenerated at the same path computes again instead of serving a stale
  * value.
  *
  * Compute-once: a miss takes the key's own lock and computes under it —
  * never under the registry lock and never inside a map's bin lock — so a
  * second caller for the same key waits and reads the first one's value,
  * distinct keys build in parallel, and a build that reads another
  * artifact (lm_scored → gram_counts, bm25_totals → bm25_tf) cannot
  * deadlock: locks are only ever nested in that build order. A compute that
  * throws caches nothing; the next caller computes again.
  *
  * Both kinds are LRU-bounded by a constant. Past the bound the least-
  * recently-used artifact is dropped; a dropped frame is unpersisted.
  *
  * Every hit and build of an artifact is recorded in the calling thread's
  * [[reading]] scope, so a caller can tell which artifacts a query read
  * (Bench derives its `memoized` field from it). Query plans are built on
  * the caller's thread, which is where every read happens. [[metadata]]
  * (table schemas and split counts) is held like a scalar but not recorded.
  */
object Memo {

  /** One registry read: the artifact's name and whether this read built it. */
  final case class Read(artifact: String, built: Boolean)

  /** A full sf0.01 Verify run creates 27 scalar keys (13 artifacts plus
    * [[graft.queries.Q]]'s table catalog: 10 schemas and 4 split counts)
    * and 5 frames, so this holds two tiers with room to spare. */
  private[graft] val MaxScalars = 64

  /** Two full tiers' worth of the five frame kinds (gram counts, LM scores,
    * kNN edges, BM25 inverted index, near-dup candidate pairs). */
  private[graft] val MaxFrames = 10

  /** The driver-side value `artifact` under `key`, computed on first use. */
  def scalar[V](artifact: String, key: Any)(compute: => V): V =
    scalars.getOrBuild(Key(null, artifact, key), recorded = true)(compute)

  /** As [[scalar]], for table metadata ([[graft.queries.Q]]'s table
    * catalog): it shares the scalar bound but is not recorded in the
    * [[reading]] scope, because it is not a per-tier artifact. */
  private[graft] def metadata[V](artifact: String, key: Any)(compute: => V): V =
    scalars.getOrBuild(Key(null, artifact, key), recorded = false)(compute)

  /** The persisted frame `artifact` of session `s` under `key`, built on
    * first use. */
  def frame(s: SparkSession, artifact: String, key: String)(
      build: => DataFrame): DataFrame =
    frames.getOrBuild(Key(s, artifact, key), recorded = true)(build)

  /** Drop (and unpersist) every built frame of `s`. */
  def invalidate(s: SparkSession): Unit = frames.dropBuilt(_.session eq s)

  /** Run `body` and return the registry reads it made on this thread, in
    * order. Nested scopes also report their reads to the enclosing one. */
  def reading[T](body: => T): (T, Seq[Read]) = {
    val outer = scope.get
    val mine = ArrayBuffer.empty[Read]
    scope.set(mine)
    try (body, mine.toSeq)
    finally {
      scope.set(outer)
      if (outer != null) outer ++= mine
    }
  }

  private val scope = new ThreadLocal[ArrayBuffer[Read]]

  private def record(r: Read): Unit = Option(scope.get).foreach(_ += r)

  /** `session` is null for scalars. SparkSession compares by identity. */
  private final case class Key(session: SparkSession, artifact: String, key: Any)

  /** A key's lock and value. `dead` marks a cell taken out of the map
    * after its compute threw; a caller that waited on it looks again. */
  private final class Cell {
    @volatile var done = false
    @volatile var dead = false
    var value: Any = _
  }

  private val scalars = new Lru(MaxScalars, _ => ())

  private val frames = new Lru(MaxFrames, v =>
    // non-blocking: the dropped frame may still back an in-flight plan;
    // Spark recomputes from lineage if its blocks are already gone
    try v.asInstanceOf[DataFrame].unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () })

  private final class Lru(bound: Int, dispose: Any => Unit) {
    // access-ordered; guarded by `this`, held only for map updates
    private val cells = new java.util.LinkedHashMap[Key, Cell](16, 0.75f, true)

    def getOrBuild[V](k: Key, recorded: Boolean)(compute: => V): V = {
      val cell = synchronized { cells.computeIfAbsent(k, _ => new Cell) }
      cell.synchronized {
        if (cell.done) {
          if (recorded) record(Read(k.artifact, built = false))
          return cell.value.asInstanceOf[V]
        }
        if (!cell.dead) {
          val v = try compute catch { case t: Throwable =>
            cell.dead = true
            synchronized { cells.remove(k, cell) }
            throw t
          }
          cell.value = v
          cell.done = true
          synchronized { evict() }
          if (recorded) record(Read(k.artifact, built = true))
          return v
        }
      }
      getOrBuild(k, recorded)(compute) // its compute threw while this caller waited
    }

    /** Drop built cells, eldest first, until at most `bound` remain.
      * Cells still computing are not counted and never dropped. */
    private def evict(): Unit = {
      var built = 0
      cells.values.forEach(c => if (c.done) built += 1)
      val it = cells.values.iterator
      while (built > bound && it.hasNext) {
        val c = it.next()
        if (c.done) { it.remove(); dispose(c.value); built -= 1 }
      }
    }

    def dropBuilt(p: Key => Boolean): Unit = synchronized {
      val it = cells.entrySet.iterator
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.done && p(e.getKey)) { it.remove(); dispose(e.getValue.value) }
      }
    }
  }
}
