package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Synchronous weighted LABEL PROPAGATION (Raghavan, Albert, Kumara 2007)
  * over a weighted edge frame, made deterministic: every node starts as
  * its own label; each round a node adopts the incident-weight-majority
  * label among its neighbors, ties broken by the SMALLEST label (the
  * paper's async/random-order variant is not reproducible, let alone
  * oracle-mirrorable); isolated nodes keep their own label. A fixed round
  * count — not "until converged" — is what makes the output well-defined:
  * synchronous LPA can 2-cycle on bipartite-ish structure.
  *
  * Two execution paths, SAME rule (spec-asserted equal), chosen by
  * [[LocalOrDistributed]] at [[LabelProp.LocalEdgeMax]] edges and nodes:
  *  - **local**: when a Long-keyed graph is codebook-small, collect the
  *    adjacency and iterate on the driver: distributed rounds over a few
  *    thousand edges pay per-round scheduler latency to move microseconds
  *    of arithmetic (measured 7.5 s → sub-second at sf0.1).
  *  - **distributed**: each round is one hash join of the edge frame with
  *    the (node,label) frame on the destination key plus one node-keyed
  *    argmax window — O(rounds) shuffles over edge-sized frames, no
  *    per-node neighbor lists ever collected. Edge frame persisted once.
  */
object LabelProp {

  /** 2^20 rows per probed frame: 16 MB of edges collected, conservative
    * by ~2× against the measured crossover (SCALE.md §4). */
  private val LocalEdgeMax = 1 << 20

  /** nodes(node) + edges(u, v, w) → (node, lbl) after `iters` rounds.
    * Edges are taken as DIRECTED influence v → u's vote (symmetrize
    * upstream for undirected semantics). */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("u"), col("v"), col("w").cast("long").as("w"))
      .filter(col("w") > 0)
    def distributed = runDistributed(nodes, graft.util.CacheBin.persist(e), iters)
    if (e.schema("u").dataType != LongType || nodes.schema("node").dataType != LongType)
      distributed
    else
      LocalOrDistributed(e, LocalEdgeMax) { edgeRows =>
        LocalOrDistributed(nodes.select("node"), LocalEdgeMax)(
          runLocal(nodes.sparkSession, edgeRows, _, iters))(distributed)
      }(distributed)
  }

  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[Row], nodes: Array[Row], iters: Int): DataFrame = {
    val edgeRows = edges.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nodeIds = nodes.map(_.getLong(0))
    val adj = edgeRows.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3))).toMap
    var lbl: Map[Long, Long] = nodeIds.map(n => n -> n).toMap
    var i = 0
    while (i < iters) {
      lbl = nodeIds.map { n =>
        adj.get(n) match {
          case None => n -> lbl(n) // mirrors the distributed LEFT-join
          case Some(nbrs) =>
            val scores = new scala.collection.mutable.HashMap[Long, Long]()
            nbrs.foreach { case (v, w) =>
              // a source absent from the nodes frame casts no vote —
              // mirrors the distributed path's INNER join, which silently
              // drops such votes (edges ⊄ nodes must not diverge the paths)
              lbl.get(v).foreach { l =>
                scores.update(l, scores.getOrElse(l, 0L) + w)
              }
            }
            if (scores.isEmpty) n -> n // distributed: coalesce(nlbl, node)
            else
              // weight-majority, smallest label on ties
              n -> scores.toSeq.minBy { case (l, s) => (-s, l) }._1
        }
      }.toMap
      i += 1
    }
    LocalOrDistributed.driverFrame(spark, StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("lbl", LongType, nullable = false))),
      nodeIds.sorted.map(n => Row(n, lbl(n))).toSeq)
  }

  /** One caveat mirrored EXACTLY by the local path: a node with no
    * in-edges keeps its OWN label every round (not its previous adopted
    * label) — with self-initialized labels the two are identical. */
  private def runDistributed(nodes: DataFrame, e: DataFrame,
      iters: Int): DataFrame = {
    var labels = nodes.select(col("node")).withColumn("lbl", col("node"))
    for (_ <- 1 to iters) {
      val top = TopK.perGroup(e
          .join(labels.select(col("node").as("v2"), col("lbl")), col("v") === col("v2"))
          .groupBy(col("u"), col("lbl")).agg(sum("w").as("sw_")),
        "u", Seq(col("sw_").desc, col("lbl")), 1, "rn")
        .select(col("u").as("node2"), col("lbl").as("nlbl"))
      labels = nodes.select("node").join(top, col("node") === col("node2"), "left")
        .select(col("node"), coalesce(col("nlbl"), col("node")).as("lbl"))
    }
    labels
  }
}
