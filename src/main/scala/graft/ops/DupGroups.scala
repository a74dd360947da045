package graft.ops

import graft.util.CacheBin.releaseCheckpoint
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Duplicate-cluster discovery: connected components over the near-duplicate
  * pair graph — the step every large-scale dedup pipeline runs AFTER LSH
  * candidate generation (pairs say "a~b"; removal policies need the whole
  * cluster: transitivity means a~b, b~c puts a and c in one group even when
  * LSH never paired them directly). The reference has no graph machinery at
  * all; this is a training-data-pipeline extension, built scale-first.
  *
  * Algorithm: iterative min-label propagation to a fixpoint — each round
  * every node adopts the smallest component label among itself and its
  * neighbors; when a round changes nothing, labels equal the minimum node id
  * reachable in the component (the canonical cluster representative).
  *
  * Scale shape (the 100 TB contract):
  *   - per round: ONE equi-join shuffle (labels into the adjacency list on
  *     src) + ONE map-side-combined groupBy(min) — state is O(V) rows, edges
  *     are never materialized beyond the input pair list (×2 for symmetry);
  *   - rounds = component diameter. Near-dup clusters produced by a Jaccard
  *     threshold are dense (near-cliques — every member pairs with most
  *     others), so diameter is 1-3 and the loop exits after 2-4 rounds with
  *     one cheap driver-side convergence count per round. For adversarial
  *     long-chain graphs the large-star/small-star alternation (Kiveris et
  *     al. 2014, "Connected Components in MapReduce and Beyond") bounds
  *     rounds at O(log n) — the propagation loop below is the right default
  *     for dedup workloads and stays a fixpoint computation, so its OUTPUT
  *     is identical and oracle-checkable regardless of round count;
  *   - each round's label frame is eagerly localCheckpoint'ed (truncating
  *     lineage — iterative plans otherwise double per round) and the
  *     superseded round's cached RDD is dropped as soon as its successor is
  *     materialized, so peak storage stays one round deep; the FINAL frame's
  *     release is handed to the caller's [[graft.util.CacheBin]] scope.
  *
  * Determinism: the fixpoint (id → min reachable id) is a pure function of
  * the edge set — independent of partitioning, iteration order, or how many
  * rounds convergence took — so the result hash-matches a DuckDB recursive
  * transitive-closure oracle exactly.
  */
object DupGroups {

  /** Thrown when a fixpoint loop hits its round cap — distinguishable from
    * real failures so callers can fall back to the O(log n) variant. */
  final case class ConvergenceCapException(message: String)
      extends RuntimeException(message)

  /** Register `df`'s checkpoint storage with the caller's CacheBin scope. */
  private def releaseWithScope(df: DataFrame): DataFrame = {
    graft.util.CacheBin.registerRelease(df.sparkSession)(() => releaseCheckpoint(df))
    df
  }

  /** Lineage cut for one round: eager localCheckpoint by default (fastest —
    * executor-block storage; an executor loss kills the job, which then
    * simply reruns), or an eager RELIABLE checkpoint when opted in —
    * `spark.sparkContext.setCheckpointDir` must point at shared storage
    * (HDFS/S3 on a cluster); rounds then survive executor loss. Reliable
    * checkpoint files are reclaimed by Spark's ContextCleaner
    * (`spark.cleaner.referenceTracking.cleanCheckpoints`) or by removing
    * the checkpoint dir; [[graft.util.CacheBin.releaseCheckpoint]] still
    * drops the block-cache copy either way. */
  private def chk(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable checkpoint mode needs spark.sparkContext.setCheckpointDir " +
          "(shared storage on a cluster)")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)

  /** Connected components of the undirected graph given by an edge-list
    * DataFrame. Returns one row per distinct node appearing on at least one
    * NON-self-loop edge: (`id`, `comp`) with `comp` = smallest node id in
    * the component. Self-loops and duplicate/reversed edges are tolerated
    * (symmetrized internally; a node whose only edges are self-loops carries
    * no dedup information and is excluded, like a node absent from the pair
    * list entirely).
    *
    * @param aCol    source id column (integral type)
    * @param bCol    target id column (integral type)
    * @param maxIter safety cap on propagation rounds; exceeding it throws
    *                (an incomplete fixpoint must never be returned silently)
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, reliable: Boolean = false): DataFrame = {
    val fwd = edges.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // symmetric adjacency; duplicate edges are harmless under min()
    // aggregation, so no dedup shuffle is spent on them
    val adj = graft.util.CacheBin.persist(
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")))

    // round 0: each node starts from min(self, direct neighbors) — one
    // groupBy over the adjacency (no join); for the dense near-clique
    // clusters LSH thresholds produce, this IS already the fixpoint, so the
    // loop usually exits after a single confirming round
    var compChk = adj.groupBy("src").agg(least(col("src"), min("dst")).as("comp"))
      .select(col("src").as("id"), col("comp"))
      .transform(c => chk(c, reliable))
    var iter = 0
    var converged = false
    while (!converged) {
      if (iter >= maxIter) {
        releaseCheckpoint(compChk)
        throw ConvergenceCapException(
          s"connectedComponents did not converge in $maxIter rounds " +
            "(component diameter exceeds the cap — raise maxIter or use " +
            "connectedComponentsLogN/connectedComponentsAuto)")
      }
      // push every node's label to its neighbors, keep own label, take min;
      // the pre-update label rides along (`prev`) so convergence is read off
      // the materialized frame — one action per round, no comparison join.
      // localCheckpoint TRUNCATES LINEAGE: each round's plan references the
      // previous round's twice (propagation + own labels), so without the
      // cut the logical plan doubles per round — exponential analysis cost
      // long before any data is big. (On a cluster with executor loss, opt
      // into reliable = true — see [[chk]].)
      val comp = compChk.select("id", "comp")
      val prop = adj.join(comp, adj("src") === comp("id"))
        .select(col("dst").as("id"), col("comp"), lit(false).as("own"))
      val next = comp.withColumn("own", lit(true)).unionByName(prop)
        .groupBy("id").agg(min("comp").as("comp"),
          min(when(col("own"), col("comp"))).as("prev"))
        .transform(c => chk(c, reliable))
      converged = next.filter(col("comp") < col("prev")).isEmpty
      releaseCheckpoint(compChk) // next is materialized; drop the old round
      compChk = next
      iter += 1
    }
    releaseWithScope(compChk).select("id", "comp")
  }

  /** Connected components via alternating large-star / small-star edge
    * rewrites (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the variant whose round count is O(log n) in the component
    * size instead of the diameter, for adversarial long-chain graphs where
    * [[connectedComponents]]'s propagation would need diameter rounds.
    *
    * Each step is ONE shuffle (a per-node window over the symmetrized edge
    * list) + a distinct; the edge set contracts toward stars centered at
    * each component's minimum id, and the loop stops when a full
    * large+small round leaves the edge set unchanged (exact set compare —
    * the frames are pair-list-sized). Output is identical to
    * [[connectedComponents]]: (id, comp = min reachable id) for every node
    * on a non-self-loop edge — the same fixpoint by construction, so the
    * two implementations cross-check each other (DupGroupsSpec does,
    * against a driver-side union-find as the third witness). */
  def connectedComponentsLogN(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 40, reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    // large-star: every strictly-larger neighbor of u connects to the
    // minimum of u's closed neighborhood
    def largeStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy("src")
      sym(e).withColumn("m", min(least(col("src"), col("dst"))).over(w))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: u and its ≤-neighbors all connect to their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val le = sym(e).filter(col("dst") <= col("src"))
      val w = Window.partitionBy("src")
      val withMin = le.withColumn("m", least(min(col("dst")).over(w), col("src")))
      withMin.select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(withMin.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // localCheckpoint per round: each star step embeds its input TWICE
    // (the symmetrize union), so an uncut plan quadruples per round —
    // lineage truncation is what makes the iteration viable at any size;
    // superseded rounds drop their cached RDDs immediately
    var cur = edges.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(c => chk(c, reliable))
    var round = 0
    var stable = false
    while (!stable) {
      if (round >= maxRounds) {
        releaseCheckpoint(cur)
        sys.error(s"connectedComponentsLogN did not converge in $maxRounds rounds")
      }
      val next = chk(smallStar(largeStar(cur)), reliable)
      stable = next.exceptAll(cur).isEmpty && cur.exceptAll(next).isEmpty
      releaseCheckpoint(cur)
      cur = next
      round += 1
    }
    // stars: every remaining edge points node -> component min; centers map
    // to themselves
    releaseWithScope(cur)
    cur.select(col("src").as("id"), col("dst").as("comp"))
      .unionByName(cur.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
  }

  /** Pair graphs at or under this many edges run [[localComponents]].
    * Distributed fixpoint rounds over a few thousand pairs pay per-round
    * scheduler latency plus a localCheckpoint job each to move microseconds
    * of pointer-chasing (measured 2.3 s → ~1 s on pipe_split_clusters at
    * sf0.1). 2^20 edges is 16 MB collected, the same constant LabelProp
    * carries, conservative by ~2× against its measured crossover (SCALE.md
    * §4). */
  private val LocalEdgeMax = 1 << 20

  /** Diameter-bound propagation with automatic fallback and a driver-local
    * path for small pair graphs (gated by [[LocalOrDistributed]] at
    * [[LocalEdgeMax]]): a driver union-find.
    *
    * Above the gate: runs [[connectedComponents]] (optimal for the dense
    * near-clique graphs dedup thresholds produce — 2-4 rounds) and, if a
    * legitimate long-chain component exhausts the round cap, retries with
    * the O(log n) [[connectedComponentsLogN]] instead of failing. All
    * three paths compute the same fixpoint (id → min reachable id over
    * non-self-loop edges — DupGroupsSpec pins local == distributed), so
    * the output is identical whichever runs. */
  def connectedComponentsAuto(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25, reliable: Boolean = false): DataFrame = {
    val fwd = edges.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    LocalOrDistributed(fwd, LocalEdgeMax)(localComponents(edges.sparkSession, _)) {
      try connectedComponents(fwd, "src", "dst", maxIter, reliable)
      catch { case _: ConvergenceCapException =>
        connectedComponentsLogN(fwd, "src", "dst", reliable = reliable)
      }
    }
  }

  /** Driver-side union-find over collected (src, dst) edge rows —
    * union-by-min-root, so every root IS its component's minimum id (the
    * exact fixpoint the distributed paths compute, order-independent).
    * Output rows sorted by id, one partition: bit-deterministic. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
      edgeRows: Array[Row]): DataFrame = {
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val rows = parent.keysIterator.toArray.sorted.map(id => Row(id, find(id)))
    LocalOrDistributed.driverFrame(spark, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("comp", LongType, nullable = false))), rows.toSeq)
  }

  /** Cluster summary of a near-dup pair list: one row per duplicate cluster
    * with its representative (min doc id), member count and the full sorted
    * member list as a comma-joined string (hashable cross-engine). */
  def clusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponentsAuto(pairs, aCol, bCol)
      .groupBy(col("comp").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(sort_array(collect_list(col("id"))),
          _.cast("string")), ",").as("doc_ids"))
      .select(col("cluster"), col("n_docs"), col("doc_ids"))
}
