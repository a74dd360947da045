package graft.ops

import graft.util.CacheBin.releaseCheckpoint
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** PageRank (Page, Brin, Motwani, Winograd 1999, "The PageRank citation
  * ranking") over a weighted edge frame — in EXACT integer arithmetic so
  * the fixpoint is bit-reproducible across engines: ranks live in ppb
  * (1e9 = initial mass per node), the damped pass-through is
  * `t(u) = (r(u)·85) div 100`, and each edge forwards
  * `(t(u)·w) div W_u` (floor division; the floored residue simply leaks,
  * deterministically, instead of being renormalized — both engines floor
  * identically, and integer addition is order-independent, so no
  * float-summation ordering can break parity).
  *
  * The forward is computed remainder-correctly as
  * `(t div W)·w + ((t mod W)·w) div W` — exactly equal to `(t·w) div W`
  * for non-negative operands (t = q·W + r ⇒ t·w = q·W·w + r·w), but the
  * largest intermediate is `max((t div W)·w, (t mod W)·w) < max(t, W²)`
  * instead of `t·w`: overflow-safe for any graph with per-node weight sums
  * W_u ≤ ~3.0e9 (√2^63) and total rank mass n·1e9 < 2^63 (n ≤ ~9.2e9
  * nodes), rather than overflowing once rank concentration × max weight
  * crossed 2^63.
  *
  * Two execution paths, SAME arithmetic (spec-asserted equal), chosen by
  * [[LocalOrDistributed]] at [[PageRank.LocalEdgeMax]] edges:
  *  - **local**: collect the codebook-small edge frame and iterate on the
  *    driver — the pattern every tiny iterative structure here uses
  *    (k-means centroids, PQ codebooks): 10 distributed rounds over a
  *    25-node graph would pay 10 scheduler round-trips to move
  *    microseconds of arithmetic.
  *  - **distributed**: each round is one equi-join of the rank frame
  *    against the persisted edges plus a map-side-combined groupBy on dst
  *    (the O(iters)-round structure of connected components, [[DupGroups]])
  *    with periodic `localCheckpoint` lineage cuts. Driver holds nothing.
  */
object PageRank {

  /** 2^20 edges (a few MB collected), the LabelProp/DupGroups constant. */
  private val LocalEdgeMax = 1 << 20

  /** edges(src, dst, w) → (node, rnk) after `iters` damped rounds.
    * dampPct/100 is the damping factor (default 85/100).
    * `checkpointEvery` bounds distributed plan depth (measured at sf0.1
    * the cadence barely moves the bench: 4.4 s @1, 4.5 s @2, 5.4 s @5 —
    * the floor is fixed per-round scheduling, hence the local path). */
  def run(edges: DataFrame, iters: Int = 10, dampPct: Long = 85L,
      checkpointEvery: Int = 2): DataFrame = {
    // zero/negative-weight edges are dropped up front: they contribute no
    // rank, and a node whose edges were ALL zero-weight must count as
    // dangling (otherwise its wsum=0 divides: ArithmeticException on the
    // local path, silent null-skip on the distributed one — divergent)
    val e0 = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .filter(col("w") > 0)
    LocalOrDistributed(e0, LocalEdgeMax)(runLocal(e0, _, iters, dampPct)) {
      val e = e0.persist()
      e.count() // materializes the persist for the distributed rounds
      runDistributed(e, iters, dampPct, checkpointEvery)
    }
  }

  /** Driver-side fixpoint for codebook-small graphs — identical integer
    * recurrence, bounded by [[LocalEdgeMax]] rows (few MB), one collect.
    * Generic over the node column type: nodes are carried as opaque keys
    * and the output frame reuses the input's src/dst DataType, so an
    * integer-keyed graph takes the same path a string-keyed one does. */
  private def runLocal(e: DataFrame, took: Array[Row],
      iters: Int, dampPct: Long): DataFrame = {
    val spark = e.sparkSession
    val nodeType = e.schema("src").dataType
    val edgeRows = took.map(r => (r.get(0), r.get(1), r.getLong(2)))
    val nodes: Seq[Any] = (edgeRows.map(_._1) ++ edgeRows.map(_._2)).distinct.toSeq
    val outW = edgeRows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = 1000000000L * (100L - dampPct) / 100L
    var r: Map[Any, Long] = nodes.map(_ -> 1000000000L).toMap
    var i = 0
    while (i < iters) {
      val inflow = new scala.collection.mutable.HashMap[Any, Long]()
      edgeRows.foreach { case (s, d, w) =>
        val t = (r(s) * dampPct) / 100L
        val ws = outW(s)
        // remainder-correct (t*w) div ws without forming t*w (see scaladoc)
        val c = (t / ws) * w + ((t % ws) * w) / ws
        inflow.update(d, inflow.getOrElse(d, 0L) + c)
      }
      r = nodes.map(n => n -> (base + inflow.getOrElse(n, 0L))).toMap
      i += 1
    }
    LocalOrDistributed.driverFrame(spark, StructType(Seq(
      StructField("node", nodeType), StructField("rnk", LongType))),
      nodes.map(n => Row(n, r(n))))
  }

  private def runDistributed(e: DataFrame, iters: Int, dampPct: Long,
      checkpointEvery: Int): DataFrame = {
    // NOT named "W": Spark's default case-insensitive resolution would
    // collide it with the edge weight "w" at the contribution join
    val outw = e.groupBy("src").agg(sum("w").as("wsum")).persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().persist()
    val base = 1000000000L * (100L - dampPct) / 100L

    var ranks = nodes.withColumn("rnk", lit(1000000000L)).localCheckpoint()
    var lastCk = ranks // released when the next cut lands, not leaked to GC
    var i = 0
    while (i < iters) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "rn"), col("src") === col("rn"))
        .join(outw.withColumnRenamed("src", "ow"), col("src") === col("ow"))
        .withColumn("t", expr(s"(rnk * $dampPct) div 100"))
        // remainder-correct (t*w) div wsum without forming t*w (scaladoc)
        .select(col("dst"),
          expr("(t div wsum) * w + ((t % wsum) * w) div wsum").as("c"))
        .groupBy("dst").agg(sum("c").as("inflow"))
      val next = nodes
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("inflow"), lit(0L))).as("rnk"))
      i += 1
      if (i % checkpointEvery == 0 || i == iters) {
        ranks = next.localCheckpoint()
        releaseCheckpoint(lastCk)
        lastCk = ranks
      } else ranks = next
    }
    e.unpersist(); outw.unpersist(); nodes.unpersist()
    // the returned frame's own checkpoint storage is scope-released like
    // every other checkpointing operator here (no-op outside a scope)
    graft.util.CacheBin.registerRelease(ranks.sparkSession)(() =>
      releaseCheckpoint(lastCk))
    ranks
  }
}
