package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Iterative graph analytics over relational data — PageRank on the
  * customer-nation → supplier-nation trade graph (who is central in the
  * supply network). Complements the connected-components family
  * (ops/DupGroups) as the second classic O(iters)-round graph operator.
  *
  * Cross-engine exactness: ranks are ppb integers with floor division at
  * every step (ops/PageRank doc) — the DuckDB oracle unrolls the same 10
  * rounds as CTEs and hash-matches bit-for-bit. */
object GraphQueries {

  private val Iters = 10
  private val DampPct = 85L

  def pagerank(s: SparkSession, dir: String): DataFrame = {
    // Deliberately t(), NOT tPar (measured, round 22): spreading the
    // single-row-group scan with a round-robin repartition costs a local
    // sort of the full 16-column lineitem rows before the exchange
    // (spark.sql.execution.sortBeforeRepartition, guide §2.5) — measured
    // 1.27 → 1.71 s isolated. The broadcast-join + partial-agg pipeline
    // over the narrow scan is cheaper single-threaded than that sort.
    val edges = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("cnk"), col("n_name").as("src"))),
        col("c_nationkey") === col("cnk"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("dst"))),
        col("s_nationkey") === col("snk"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    graft.ops.PageRank.run(edges, Iters, DampPct)
      .orderBy(col("rnk").desc, col("node"))
  }

  val pagerankSql: String = {
    val base = 1000000000L * (100L - DampPct) / 100L
    val pre =
      """WITH e AS (
        |  SELECT cn.n_name src, sn.n_name dst, count(*)::BIGINT w
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |  GROUP BY 1, 2),
        |outw AS (SELECT src, CAST(sum(w) AS BIGINT) W FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, 1000000000::BIGINT rnk FROM nodes)""".stripMargin
    val rounds = (1 to Iters).map { i =>
      s""",
         |r$i AS (SELECT n.node,
         |  $base + coalesce(CAST(sum(
         |    (((r.rnk * $DampPct) // 100) // o.W) * e.w
         |    + ((((r.rnk * $DampPct) // 100) % o.W) * e.w) // o.W) AS BIGINT), 0) rnk
         |  FROM nodes n
         |  LEFT JOIN e ON e.dst = n.node
         |  LEFT JOIN r${i - 1} r ON r.node = e.src
         |  LEFT JOIN outw o ON o.src = e.src
         |  GROUP BY 1)""".stripMargin
    }.mkString
    pre + rounds + s"\nSELECT node, rnk FROM r$Iters ORDER BY rnk DESC, node"
  }

  /** Shared trade-edge derivation (customer nation → supplier nation with
    * order counts) — the same 6-way join pagerank uses, factored so the
    * triangle query provably runs on the identical graph. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem") // NOT tPar — measured slower, see pagerank
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("cnk"), col("n_name").as("src"))),
        col("c_nationkey") === col("cnk"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("dst"))),
        col("s_nationkey") === col("snk"))
      .select(col("src"), col("dst"))

  private val tradeEdgesSql =
    """SELECT cn.n_name src, sn.n_name dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey""".stripMargin

  /** Triangle ENUMERATION on the undirected STRONG-trade graph — the
    * clustering / community-density primitive (triangle counting is the
    * standard first graph workout beyond PageRank; cf. Suri &
    * Vassilvitskii, WWW'11). The raw nation trade graph is near-complete
    * (every triple closes), so the graph is first sparsified to edges with
    * ABOVE-AVERAGE trade volume — the exact-integer cross-multiplied
    * predicate `w · |E| > Σw` (no float average), which scales with the
    * tier instead of hard-coding a count threshold.
    *
    * Algorithm: orient every undirected edge low→high (`least/greatest` on
    * the node name), aggregate lineitem-level trade events to weights, then
    * enumerate each triangle EXACTLY ONCE as (a<b<c) via two equi-joins:
    * wedges a→b→c closed by the a→c edge. The orientation is what kills
    * the n² wedge blowup at scale — each triangle has exactly one
    * low-endpoint orientation, so no post-hoc dedup of 3! permutations,
    * and a production variant orients by DEGREE (low-degree first) to
    * bound wedge fan-out at power-law hubs; on the 25-node nation graph
    * name order suffices and keeps the oracle trivially mirrorable. Both
    * joins are broadcastable here and shuffle equi-joins at scale — never
    * a cartesian. */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    // und backs both the totals aggregate and the sparsification filter,
    // and strong backs all three triangle-join arms — unpersisted, the
    // whole 6-way lineitem trade-edge pipeline re-ran for every consumer
    // (4 full evaluations, 36 scans in the r20 plan). Both frames are
    // nation-pair-bounded (≤ |nations|² rows), so persisting is free.
    val und = graft.util.CacheBin.persist(tradeEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w")))
    // scalar totals attach as the repo's standard 1-row broadcast
    // crossJoin (plans as a BroadcastNestedLoopJoin with a single-row
    // build side — constant work per probe row, not a pair blowup)
    val tot = und.agg(sum("w").cast("long").as("sw"),
      count(lit(1)).as("ne"))
    val strong = graft.util.CacheBin.persist(
      und.crossJoin(broadcast(tot))
        .filter(col("w") * col("ne") > col("sw"))
        .select("u", "v"))
    val e1 = strong.select(col("u").as("a"), col("v").as("b"))
    val e2 = strong.select(col("u").as("b2"), col("v").as("c2"))
    val e3 = strong.select(col("u").as("a3"), col("v").as("c3"))
    e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
      .select(col("a"), col("b"), col("c2").as("c"))
      .orderBy("a", "b", "c")
  }

  val trianglesSql: String =
    s"""WITH te AS ($tradeEdgesSql),
       |und AS (SELECT least(src, dst) u, greatest(src, dst) v, count(*)::BIGINT w
       |        FROM te WHERE src <> dst GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(w) AS BIGINT) sw, count(*)::BIGINT ne FROM und),
       |strong AS (SELECT u, v FROM und, tot WHERE w * ne > sw)
       |SELECT e1.u a, e1.v b, e2.v c
       |FROM strong e1
       |JOIN strong e2 ON e1.v = e2.u
       |JOIN strong e3 ON e3.u = e1.u AND e3.v = e2.v
       |ORDER BY a, b, c""".stripMargin

  private val LpIters = 4

  /** Community detection by synchronous weighted LABEL PROPAGATION
    * (Raghavan/Albert/Kumara 2007) over the embedding kNN graph
    * ([[VectorQueries.knnGraph]]'s exact output — LSH-bucketed candidates,
    * cosine-reranked top-k per node): every vector starts as its own
    * community; each round it adopts the label with the highest total
    * incident edge weight among its kNN neighbors (tie → smallest label,
    * making every round a deterministic function of the previous one —
    * the paper's async/random-order variant is not oracle-mirrorable).
    * Fixed [[LpIters]] rounds: sync LPA can 2-cycle on bipartite-ish
    * structure, so a fixed round count (not "until converged") is what
    * makes the output well-defined. Edge weights are exact micro-cosine
    * integers (floor(cosine·1e6), clamped ≥ 1 — the shared double is
    * bit-identical across engines, so the floor is too).
    *
    * This is the curation use: graph-derived groupings over an embedding
    * corpus (the LPA pass behind cluster-balanced sampling and
    * redundancy audits). The report grades each community STRUCTURALLY —
    * size, intra-community edge count, and mean intra-edge micro-cosine —
    * rather than against the `label` column: measured on this corpus,
    * even the EXACT top-1 cosine neighbor agrees with `label` only 11%
    * of the time (chance = 10%), so labels are noise w.r.t. cosine
    * geometry and purity-vs-label would grade nothing. The trade graph
    * was likewise measured structureless for this op (uniform synthetic
    * trade → one blob or all singletons at any sparsification); the kNN
    * graph is where community structure actually lives.
    *
    * Scale shape ([[graft.ops.LabelProp]], gated by
    * [[graft.ops.LocalOrDistributed]]): codebook-small graphs collect the
    * adjacency and iterate on the driver (4 distributed rounds over ≤3n
    * edges paid ~7 s of per-round scheduler latency at sf0.1 for
    * microseconds of math); large graphs run each round as one edge-sized
    * hash join + one node-keyed argmax window — O(rounds) shuffles, no
    * per-node neighbor lists collected, spec-asserted equal to the local
    * path. */
  def communities(s: SparkSession, dir: String): DataFrame =
    communitiesFrom(s, dir, VectorQueries.knnGraph(s, dir))

  /** The LPA + structural-report stage on an ALREADY-BUILT kNN edge frame
    * `(node_id, nbr_id, cosine)` — factored out (round 19, VERDICT r18 #2)
    * so the stage can also run against a MATERIALIZED edge table: in a
    * deployed pipeline the kNN graph is a stored artifact every community/
    * sampling consumer reads, and decoupling it is what lets the 100×-tier
    * oracle cover this stage (DuckDB re-embedding the knn construction in
    * the `communitiesSql` CTE takes >1 h at 100×; reading the same edge
    * parquet takes minutes — tools/lpa_parity.sh). */
  def communitiesFrom(s: SparkSession, dir: String, knn: DataFrame): DataFrame = {
    // knn is consumed twice below (both union branches) — persist, or the
    // whole upstream construction (the bench's most expensive component)
    // runs twice (round 19: this halved graph_communities' bench time)
    val g = graft.util.CacheBin.persist(knn
      .select(col("node_id").as("u"), col("nbr_id").as("v"),
        greatest(floor(col("cosine") * 1000000).cast("long"), lit(1L)).as("w")))
    val sym = graft.util.CacheBin.persist(
      g.unionAll(g.select(col("v").as("u"), col("u").as("v"), col("w")))
        .groupBy("u", "v").agg(max("w").as("w")))
    val nodes = t(s, dir, "embeddings").select(col("vec_id").as("node"))
    val labels = graft.util.CacheBin.persist(
      graft.ops.LabelProp.run(nodes, sym, LpIters))
    val size = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
    val la = labels.select(col("node").as("u"), col("lbl").as("ca"))
    val lb = labels.select(col("node").as("v"), col("lbl").as("cb"))
    val intra = sym.join(la, "u").join(lb, "v")
      .filter(col("ca") === col("cb") && col("u") < col("v"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"), sum("w").as("sw"))
    size.join(intra, Seq("community"), "left")
      .select(col("community"), col("n_members"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(expr("sw div intra_edges"), lit(0L)).as("intra_w_micro"))
      .orderBy(col("n_members").desc, col("community"))
  }

  val communitiesSql: String =
    communitiesSqlOn(s"SELECT node_id, nbr_id, cosine FROM (${VectorQueries.knnGraphSql})")

  /** The LPA-stage oracle over a `knn_edges` view of the materialized edge
    * parquet — the SQL twin of [[communitiesFrom]] for the decoupled
    * 100×-tier parity run (tools/lpa_parity.py creates the view). */
  val communitiesFromEdgesSql: String =
    communitiesSqlOn("SELECT node_id, nbr_id, cosine FROM knn_edges")

  private def communitiesSqlOn(gBody: String): String = {
    val pre =
      s"""WITH g AS ($gBody),
         |e AS (SELECT node_id u, nbr_id v,
         |             greatest(CAST(floor(cosine * 1000000) AS BIGINT), 1) w
         |      FROM g),
         |sym AS (SELECT u, v, CAST(max(w) AS BIGINT) w FROM
         |        (SELECT u, v, w FROM e
         |         UNION ALL SELECT v, u, w FROM e) GROUP BY 1, 2),
         |nodes AS (SELECT vec_id node FROM embeddings),
         |l0 AS (SELECT node, node lbl FROM nodes)""".stripMargin
    val rounds = (1 to LpIters).map { i =>
      s""",
         |l$i AS (SELECT node, coalesce(lbl, node) lbl FROM (
         |  SELECT n.node, s.lbl,
         |         row_number() OVER (PARTITION BY n.node
         |                            ORDER BY s.sw_ DESC, s.lbl) rn
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.u nd, l.lbl, CAST(sum(e.w) AS BIGINT) sw_
         |    FROM sym e JOIN l${i - 1} l ON e.v = l.node GROUP BY 1, 2) s
         |  ON s.nd = n.node) WHERE rn = 1)""".stripMargin
    }.mkString
    pre + rounds +
      s""",
         |sz AS (SELECT lbl community, count(*)::BIGINT n_members
         |       FROM l$LpIters GROUP BY 1),
         |intra AS (SELECT la.lbl community, count(*)::BIGINT intra_edges,
         |                 CAST(sum(e.w) AS BIGINT) sw
         |          FROM sym e JOIN l$LpIters la ON la.node = e.u
         |                     JOIN l$LpIters lb ON lb.node = e.v
         |          WHERE la.lbl = lb.lbl AND e.u < e.v GROUP BY 1)
         |SELECT sz.community, sz.n_members,
         |       coalesce(intra.intra_edges, 0)::BIGINT intra_edges,
         |       coalesce(intra.sw // intra.intra_edges, 0)::BIGINT intra_w_micro
         |FROM sz LEFT JOIN intra ON intra.community = sz.community
         |ORDER BY sz.n_members DESC, sz.community""".stripMargin
  }

  val queries: Map[String, QueryFn] = Map(
    "graph_pagerank" -> (pagerank _),
    "graph_triangles" -> (triangles _),
    "graph_communities" -> (communities _),
  )

  val oracle: Map[String, String] = Map(
    "graph_pagerank" -> pagerankSql,
    "graph_triangles" -> trianglesSql,
    "graph_communities" -> communitiesSql,
  )
}
