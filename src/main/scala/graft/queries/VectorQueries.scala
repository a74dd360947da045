package graft.queries

import graft.ops.{LocalOrDistributed, TopK}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Embedding similarity + approximate-nearest-neighbor over `embeddings`
  * (64-dim float vectors) — the similarity-search extensions of the engine.
  *
  * Cross-engine float determinism: every dot product is a *sequential left
  * fold* over element products after casting each float element to double
  * (`zip_with` + `aggregate` in Spark, `list_transform` + `list_reduce` in
  * DuckDB), so both engines execute the identical IEEE op sequence.
  * Cross-row float sums (centroids) go through exact integer micro-units.
  *
  * Scale path: brute-force pair scans here are the small-data oracles; the
  * LSH variant (deterministic ±1 hyperplanes, bucket join) is the shape that
  * survives 100 TB — candidates are generated by an equi-join on bucket, not
  * an O(n²) cross join.
  */
object VectorQueries {

  private val DIM = 64
  private val NUM_PLANES = 8
  // kNN-graph banding: 4 bands × 6 sign bits (64 buckets/band) — candidate
  // sets stay bounded while the OR over bands keeps per-node recall up
  private val KNN_BANDS = 4
  // planes-per-band is DATA-ADAPTIVE (see knnBits): 6 at the correctness
  // tier, growing with log2(n) to a 15-plane ceiling; each band owns a
  // fixed stride of KNN_MAXB plane indices so plane identity is n-free
  private val KNN_MAXB = 15
  private val KNN_MINB = 6
  private val KNN_K = 3
  // sorted-projection window width and the projection plane's index
  // (first plane index past the band strides, so it overlaps no band)
  private val KNN_W = 8
  private val KNN_PROJ = KNN_BANDS * KNN_MAXB

  /** Planes-per-band for an n-row corpus: smallest `bits ≥ 6` with
    * `2^bits ≥ n/8` (target mean bucket ≈ 8), as a pure-integer threshold
    * ladder — `6 + |{k ∈ [6,14] : n > 8·2^k}|` — so the SQL mirror
    * reproduces it with nine integer comparisons and no float `log2`
    * whose ceil could diverge across engines at exact powers of two. */
  private def knnBits(n: Long): Int =
    KNN_MINB + (KNN_MINB to KNN_MAXB - 1).count(k => n > 8L * (1L << k))

  /** Fingerprint key of the embeddings artifacts in [[graft.util.Memo]]:
    * a tier regenerated AT THE SAME PATH computes them again (a stale
    * count would silently desync [[knnBits]] from the oracle's live
    * count(*)). */
  private def embKey(dir: String): String = Q.tableKey(dir, "embeddings")
  // ANN index configuration pinned by the oracle mirrors (annIvfSql /
  // annIvfPqSql re-derive exactly these); the parameterized overloads let
  // callers (and the recall scan) pick their own operating point
  // Measured recall@5 vs brute-force exact (tools/RecallScan, sf0.1,
  // round-14 sweep over nprobe∈{2..8} × kc∈{8,16}): ivf nprobe 4→6→8 =
  // 70%→88%→96%; ivfpq(kc=16, rr=100) nprobe 4→6 = 66%→80% (kc=8 caps at
  // 64% even at nprobe=8 — sub-codebook resolution binds before routing);
  // bq rr 100→200 = 58%→82%. Operating point nprobe=6, bq rr=200: every
  // vec_ann_* bench ≤ 2 s isolated (ivf 1.27, ivfpq 1.96, sq 1.58,
  // hamming 1.24) — below the pre-retune times. iters=2 training does NOT
  // consistently help (round-10 sweep). Costs stay index-shaped:
  // candidates are nprobe/cells of the corpus, the re-rank fetches RERANK
  // full vectors per query — both scale-independent constants.
  private val IVF_NPROBE = 6
  private val PQ_NPROBE = 6
  private val PQ_KC = 16
  private val PQ_ITERS = 1
  private val PQ_RERANK = 100
  private val SQ_RERANK = 100
  private val BQ_RERANK = 200

  /** Deterministic ±1 hyperplane weights (LCG bit per (plane, dim)). */
  private def planeWeight(j: Int, d: Int): Double = {
    val x = (1103515245L * (j * DIM + d) + 12345L) / 65536L
    if ((x % 2 + 2) % 2 == 1) 1.0 else -1.0
  }

  private def vecD(c: Column): Column = transform(c, e => e.cast("double"))

  /** The vec_id at ascending rank `n` (1-based) — the data-derived
    * replacement for the old literal `vec_id < n` probe/seed selection,
    * which silently memorized the driver tier's contiguous-from-0 id space
    * (caught by the second-seed robustness gate, tools/perturb.py: an
    * id-offset tier made every codebook seed set empty). One bounded
    * scalar collect; downstream plans keep the same simple range filter.
    *
    * Memoized per (dir, n): the rank scan is identical across the 8 vec
    * queries built against one tier in one JVM, so the bounded job runs
    * once, not once per query construction. Fails loudly on an undersized
    * or null-id table (where the SQL mirror's scalar subquery would return
    * NULL and silently filter every row) and on a duplicate id spanning
    * the rank boundary (where the selection would be nondeterministic). */
  private def idAtRank(e: DataFrame, dir: String, n: Int): Long =
    graft.util.Memo.scalar("id_at_rank", (embKey(dir), n)) {
      val rows = e.select(col("vec_id")).orderBy("vec_id").limit(n + 1).collect()
      require(rows.length >= n && !rows.take(n).exists(_.isNullAt(0)),
        s"idAtRank: need $n non-null vec_ids, found ${rows.length} row(s) — " +
          "an undersized table would silently desync from the SQL oracle")
      require(rows.length == n || rows(n).getLong(0) != rows(n - 1).getLong(0),
        s"idAtRank: vec_id ${rows(n - 1).getLong(0)} ties at the rank-$n " +
          "boundary — vec_id must be unique for a deterministic selection")
      rows(n - 1).getLong(0)
    }

  /** Memoized max(vec_id)+1 per tier — the planted-id offset of
    * [[dedupRemoval]] and [[semDedup]]: planted ids start past the table's
    * max id at ANY scale factor (a fixed offset would collide with real
    * ids once the table outgrows it, silently over-dropping an innocent
    * vector on both engines). */
  private def plantOffset(e: DataFrame, dir: String): Long =
    graft.util.Memo.scalar("plant_offset", embKey(dir)) {
      val maxRow = e.agg(max("vec_id")).head()
      require(!maxRow.isNullAt(0),
        "embeddings table is empty — nothing to plant or dedup")
      maxRow.getLong(0) + 1L
    }

  /** SQL mirror of [[idAtRank]] (scalar subquery, n-th smallest vec_id). */
  private def idAtRankSql(n: Int): String =
    s"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 1 OFFSET ${n - 1})"

  /** Seed-codebook CTE: the `k` smallest-id vectors with 0-based rank as
    * the cluster/code label `cl` — mirrors the Scala side's ordered-seed
    * codebook where the label is the codebook INDEX, not the raw id. */
  private def seedsCteSql(k: Int): String =
    s"""seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 cl, embedding
       |          FROM embeddings WHERE vec_id <= ${idAtRankSql(k)})""".stripMargin

  /** Sequential-fold dot product of two double arrays, as the native
    * codegen'd expression (graft.functions.DotProduct) — same IEEE op order
    * as the zip_with/aggregate fold and the DuckDB list_reduce mirror. */
  private def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Top-k nearest-codebook assignment as the native codegen'd expression
    * (graft.functions.NearestCodes) — the codebook is a driver-computed
    * literal (tiny by design), so assignment is a pure narrow map with no
    * per-row UDF boxing. Returns array<long>(k) of 0-based code indices. */
  private def nearestCodes(v: Column, cb: Array[Array[Double]], k: Int,
      metric: String): Column =
    call_function("graft_nearest_codes", v,
      typedlit(cb.map(_.toSeq).toSeq), lit(k), lit(metric))

  /** SQL mirror of [[dot]] over two FLOAT[] columns (1-based lists). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $DIM), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"

  /** Fold dot with a ±1 constant plane — the native expression generates
    * the LCG weights inside its codegen loop (same IEEE fold order as the
    * old literal-array `graft_dot` form, which made Catalyst carry
    * 49 × 64 literal nodes and pay ~2 s of analysis/codegen per action). */
  private def planeDot(v: Column, j: Int): Column =
    call_function("graft_plane_dot", v, lit(j), lit(DIM))

  /** Sign-bit LSH bucket over planes [base, base+nbits) as one node. */
  private def planeBucket(v: Column, base: Int, nbits: Int): Column =
    call_function("graft_plane_bucket", v, lit(base), lit(nbits), lit(DIM))

  private def planeDotSql(v: String, j: Int): String = {
    val ws = (0 until DIM).map(d => planeWeight(j, d)).mkString("[", ", ", "]")
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $DIM), i -> $v[i]::DOUBLE * ($ws::DOUBLE[])[i])), (acc, x) -> acc + x)"
  }

  /** Per-vector L2 norm (fold, then one sqrt). */
  def vecNorms(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        sqrt(dot(vecD(col("embedding")), vecD(col("embedding")))).as("l2_norm"))
      .orderBy("vec_id")

  val vecNormsSql: String =
    s"""SELECT vec_id, CAST("label" AS BIGINT) AS "label",
       |       sqrt(${dotSql("embedding", "embedding")}) l2_norm
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Brute-force cosine: top-50 most similar pairs (the near-dup oracle). */
  def cosinePairs(s: SparkSession, dir: String): DataFrame = {
    val e = tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val a = e.select(col("vec_id").as("vec_a"), col("label").as("label_a"),
      col("v").as("va"), col("n2").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
      col("v").as("vb"), col("n2").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("va"), col("vb")) / (sqrt(col("na")) * sqrt(col("nb")))).as("cosine"),
        (col("label_a") === col("label_b")).as("same_label"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(50)
  }

  val cosinePairsSql: String =
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |                  ${dotSql("embedding", "embedding")} n2 FROM embeddings)
       |SELECT a.vec_id vec_a, b.vec_id vec_b,
       |       ${dotSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) cosine,
       |       a.label = b.label same_label
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |ORDER BY cosine DESC, vec_a, vec_b LIMIT 50""".stripMargin

  /** Brute-force top-k ANN: 5 nearest neighbors (cosine) for query vectors
    * the 10 smallest vec_ids, ranked per query. */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
    val q = e.filter(col("vec_id") <= idAtRank(e, dir, 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("n2").as("nn"))
    probeTopK(q.join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn")))).as("cosine")),
      "cosine", 5)
  }

  /** The ANN output tail: each probe's top `k` candidates by (`score` desc,
    * n_id) as (q_id, rank, n_id, score), ordered by probe and rank. */
  private def probeTopK(cand: DataFrame, score: String, k: Int): DataFrame =
    TopK.perGroup(cand, "q_id", Seq(col(score).desc, col("n_id")), k, "rank")
      .select(col("q_id"), col("rank"), col("n_id"), col(score))
      .orderBy("q_id", "rank")

  val annTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2 FROM embeddings),
       |p AS (SELECT q.vec_id q_id, c.vec_id n_id,
       |             ${dotSql("q.embedding", "c.embedding")} / (sqrt(q.n2) * sqrt(c.n2)) cosine
       |      FROM e q JOIN e c ON q.vec_id <= ${idAtRankSql(10)} AND q.vec_id <> c.vec_id),
       |r AS (SELECT q_id, n_id, cosine,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
       |      FROM p)
       |SELECT q_id, CAST(rank AS BIGINT) rank, n_id, cosine
       |FROM r WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** LSH-bucketed ANN (the 100 TB shape): 8 deterministic ±1 hyperplanes →
    * 8-bit bucket; neighbors searched only within the query's bucket via an
    * equi-join, ranked by exact cosine. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val bucketBits = planeBucket(col("v"), 0, NUM_PLANES)
    val e = tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .withColumn("bucket", bucketBits)
    val q = e.filter(col("vec_id") <= idAtRank(e, dir, 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"),
        col("bucket").as("qb"))
    val c = e.select(col("vec_id").as("n_id"), col("v").as("nv"), col("n2").as("nn"),
      col("bucket").as("nb"))
    TopK.perGroup(q.join(c, col("qb") === col("nb") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("qb").as("bucket"), col("n_id"),
        (dot(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn")))).as("cosine")),
      "q_id", Seq(col("cosine").desc, col("n_id")), 3, "rank")
      .select(col("q_id"), col("bucket"), col("rank"), col("n_id"), col("cosine"))
      .orderBy("q_id", "rank")
  }

  val annLshSql: String = {
    val bucketExpr = (0 until NUM_PLANES).map { j =>
      s"(CASE WHEN ${planeDotSql("embedding", j)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2,
       |                  CAST($bucketExpr AS BIGINT) bucket FROM embeddings),
       |p AS (SELECT q.vec_id q_id, q.bucket bucket, c.vec_id n_id,
       |             ${dotSql("q.embedding", "c.embedding")} / (sqrt(q.n2) * sqrt(c.n2)) cosine
       |      FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <= ${idAtRankSql(10)} AND q.vec_id <> c.vec_id),
       |r AS (SELECT q_id, bucket, n_id, cosine,
       |             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
       |      FROM p)
       |SELECT q_id, bucket, CAST(rank AS BIGINT) rank, n_id, cosine
       |FROM r WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** k-nearest-neighbor GRAPH — top-`KNN_K` cosine neighbors for EVERY
    * vector, not just a probe set: the curation primitive behind SemDeDup++
    * sweeps, graph-based diversity sampling, and label propagation over a
    * corpus. Candidates come from BANDED hyperplane LSH (`KNN_BANDS` bands
    * of `knnBits(n)` sign bits each — a vector pairs with anything sharing
    * ANY full band, the OR-construction that single-bucket LSH lacks), then
    * exact cosine reranks and a per-node window keeps the top k.
    *
    * Scale shape: the self-join is a (band, bucket) EQUI-join — candidate
    * volume is Σ bucket-size² (GraftPlanSpec's no-cartesian audit covers
    * the join form); the rerank window partitions by node over per-node-
    * bounded candidate lists. The part that matters at scale: bucket COUNT
    * must track n, or Σ bucket² is quadratic no matter how the join is
    * shaped — the original fixed 6-bit bands measured 84 M candidate pairs
    * at the 10× tier (61 s) and 8.4 B at 100× (dead). `knnBits` grows
    * planes-per-band with log2(n) (mean bucket ≈ 8 rows), holding
    * candidates near-linear at every tier; the SQL mirror derives the
    * same width from `count(*)` with integer threshold comparisons, so
    * both engines stay bit-identical per tier.
    *
    * Adaptive width alone is NOT enough here: the corpus is 10 tight
    * label clusters whose size grows with n, and a sign plane almost
    * never splits a cluster tighter than its noise radius — so bucket
    * sizes track cluster sizes and Σ bucket² stays ∝ n²/10 no matter how
    * many planes hash the vector (measured: 24.9 s at 10× with 12-bit
    * bands). The second, decisive bound is SORTED-PROJECTION WINDOWING
    * (the SortingLSH idea): within each (band, bucket), order vectors by
    * a shared continuous projection (one extra hyperplane dot — near
    * vectors get near projections) and pair each vector with only its
    * `KNN_W` successors. Candidates ≤ n·bands·KNN_W by construction —
    * a DATA-BLIND linear bound — while the window walks the bucket in
    * similarity order, so top-k recall concentrates in the first few
    * offsets. Both knobs (bands, window) are the recall dials; the
    * projection/tie order is the engines' shared deterministic float
    * fold, so the SQL mirror ranks identically. */
  /** The kNN edge frame as a per-(session, data fingerprint) ARTIFACT
    * (round 19): `vec_knn_graph` and `graph_communities` consume the
    * IDENTICAL graph, and in a deployed pipeline it is a stored table
    * built once per corpus snapshot (exactly the shape the decoupled
    * LPA-stage oracle runs against — tools/LpaParity.scala). 3 rows per
    * node (k = 3), so the persisted frame is node-count-sized at any
    * tier. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    graft.util.Memo.frame(s, "knn_graph", embKey(dir)) {
      val g = knnGraphBuild(s, dir)
      g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g.count()
      g
    }.orderBy("node_id", "rank")

  private def knnGraphBuild(s: SparkSession, dir: String): DataFrame = {
    val e = graft.util.CacheBin.persist(tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v"))))
    val nBits = knnBits(Q.tableCount(s, dir, "embeddings"))
    val bandCols = (0 until KNN_BANDS).map { b =>
      struct(lit(b.toLong).as("band"),
        planeBucket(col("v"), b * KNN_MAXB, nBits).as("bkt"))
    }
    val banded = e.select(col("vec_id"),
        planeDot(col("v"), KNN_PROJ).as("proj"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("vec_id"), col("proj"), col("bk.band").as("band"),
        col("bk.bkt").as("bkt"))
    val rnW = Window.partitionBy("band", "bkt")
      .orderBy(col("proj"), col("vec_id"))
    val rn = banded.withColumn("rn", row_number().over(rnW))
      .select(col("vec_id"), col("band"), col("bkt"), col("rn"))
    val succ = rn.withColumn("d", explode(array((1 to KNN_W).map(lit): _*)))
      .select(col("vec_id").as("nbr_id"), col("band").as("b2"),
        col("bkt").as("k2"), (col("rn") - col("d")).as("rn2"))
    val pairs = rn.join(succ,
        col("band") === col("b2") && col("bkt") === col("k2") &&
          col("rn") === col("rn2"))
      .select(col("vec_id").as("node_id"), col("nbr_id"))
    val cand = pairs.union(pairs.select(col("nbr_id").as("node_id"),
        col("node_id").as("nbr_id")))
      .distinct()
    val a = e.select(col("vec_id").as("node_id"), col("v").as("av"),
      col("n2").as("an"))
    val bs = e.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
      col("n2").as("bn"))
    TopK.perGroup(cand.join(a, "node_id").join(bs, "nbr_id")
      .select(col("node_id"), col("nbr_id"),
        (dot(col("av"), col("bv")) / (sqrt(col("an")) * sqrt(col("bn"))))
          .as("cosine")),
      "node_id", Seq(col("cosine").desc, col("nbr_id")), KNN_K, "rank")
      .select(col("node_id"), col("rank"), col("nbr_id"), col("cosine"))
      .orderBy("node_id", "rank")
  }

  val knnGraphSql: String = {
    // mirror of knnBits: nine integer comparisons against 8·2^k thresholds
    val bitsExpr = (KNN_MINB to KNN_MAXB - 1).map { k =>
      s"(CASE WHEN n > ${8L * (1L << k)} THEN 1 ELSE 0 END)"
    }.mkString(s"$KNN_MINB + ", " + ", "")
    def bandExpr(b: Int): String = (0 until KNN_MAXB).map { j =>
      s"(CASE WHEN $j < nb.bits AND ${planeDotSql("embedding", b * KNN_MAXB + j)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    val bandSelects = (0 until KNN_BANDS).map { b =>
      s"SELECT vec_id, ${b}::BIGINT band, CAST(${bandExpr(b)} AS BIGINT) bkt, ${planeDotSql("embedding", KNN_PROJ)} proj FROM embeddings, nb"
    }.mkString("\n       UNION ALL ")
    s"""WITH nb AS (SELECT $bitsExpr bits
       |            FROM (SELECT count(*) n FROM embeddings)),
       |e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2
       |           FROM embeddings),
       |bd AS ($bandSelects),
       |rn AS (SELECT vec_id, band, bkt,
       |              row_number() OVER (PARTITION BY band, bkt
       |                                 ORDER BY proj, vec_id) rn
       |       FROM bd),
       |pr AS (SELECT x.vec_id node_id, y.vec_id nbr_id
       |       FROM (SELECT unnest(generate_series(1, $KNN_W)) d) dd, rn x, rn y
       |       WHERE x.band = y.band AND x.bkt = y.bkt AND y.rn = x.rn + dd.d),
       |cand AS (SELECT DISTINCT node_id, nbr_id FROM
       |         (SELECT node_id, nbr_id FROM pr
       |          UNION ALL SELECT nbr_id node_id, node_id nbr_id FROM pr)),
       |p AS (SELECT c.node_id, c.nbr_id,
       |             ${dotSql("a.embedding", "b.embedding")} / (sqrt(a.n2) * sqrt(b.n2)) cosine
       |      FROM cand c JOIN e a ON a.vec_id = c.node_id
       |                  JOIN e b ON b.vec_id = c.nbr_id),
       |r AS (SELECT node_id, nbr_id, cosine,
       |             row_number() OVER (PARTITION BY node_id
       |                                ORDER BY cosine DESC, nbr_id) rank
       |      FROM p)
       |SELECT node_id, CAST(rank AS BIGINT) rank, nbr_id, cosine
       |FROM r WHERE rank <= $KNN_K ORDER BY node_id, rank""".stripMargin
  }

  /** IVF-flat ANN (the other classic scale path beside LSH): a coarse
    * quantizer of per-label mean vectors (full 64 dims, exact micro-unit
    * sums so the centroids are bit-identical across engines), every vector
    * assigned to its nearest centroid cell ([[ivfFront]]), queries probing
    * their `IVF_NPROBE` nearest cells ([[ivfRoutedCandidates]]) and ranking
    * candidates by exact cosine (multi-probe routing is THE recall knob of
    * an IVF index — Jégou et al. 2011 §5; measured recall@5 here: 36% →
    * 64% going 2 → 4 probes).
    *
    * Scale shape: the codebook is tiny BY DESIGN (that is what makes IVF
    * work), so it is computed in one map-side-combined groupBy and COLLECTED
    * to the driver — assignment is then a pure narrow map (a closure over
    * the codebook, the canonical broadcast-codebook pattern of every IVF
    * implementation), not a crossJoin + window shuffle over n·cells rows.
    * The probe side is a few query rows and is broadcast into the final
    * cell equi-join, so the big side never shuffles at all — candidates are
    * O(n/cells · nprobe), never O(n²). */
  def annIvf(s: SparkSession, dir: String): DataFrame = annIvf(s, dir, IVF_NPROBE)

  /** Coarse quantizer codebook of [[ivfFront]], the cell assignment every
    * IVF-routed query reads: per-label mean vectors as EXACT
    * integer micro-unit sums — ONE groupBy with 64 integer-sum aggregates
    * (map-side combined; no 64× posexplode blowup, no collect_list), so
    * aggregation order cannot change the centroids and they are
    * bit-identical across engines. Labels ascending: codebook INDEX order
    * IS label order (what makes nearestCodes' lower-index tie-break match
    * the SQL mirror's `clabel` tie-break). Tiny by design — collected,
    * then broadcast into narrow assignment maps. Memoized per data
    * fingerprint: the IVF-routed queries built against one tier in one JVM
    * share one codebook job. */
  private def coarseCodebook(s: SparkSession,
      dir: String): (Array[Long], Array[Array[Double]]) =
    graft.util.Memo.scalar("coarse_codebook", embKey(dir)) {
      coarseCodebookBuild(s, dir)
    }

  /** Memoized trained index metadata per tier fingerprint — the
    * [[coarseCodebook]] discipline extended to the OTHER trained artifacts
    * of the index family (round 22): BQ sign thresholds (65 longs), SQ8
    * ranges (128 longs) and PQ codebooks (s·kc·sub doubles) are pure
    * deterministic functions of the corpus snapshot, stored WITH a
    * production index rather than retrained per query — so each training
    * aggregate runs once per tier per JVM, not once per execution. Bench
    * reports every query that reads one in its `memoized` field. */
  private def bqThresholds(e: DataFrame, dir: String): graft.ops.Bq.Thresholds =
    graft.util.Memo.scalar("bq_thresholds", embKey(dir)) {
      graft.ops.Bq.trainThresholds(e, "v", DIM)
    }

  private def sqRanges(e: DataFrame, dir: String): graft.ops.Sq.Ranges =
    graft.util.Memo.scalar("sq_ranges", embKey(dir)) {
      graft.ops.Sq.trainRanges(e, "v", DIM)
    }

  private def pqCodebooks(e: DataFrame, dir: String, s: Int, sub: Int,
      kc: Int, iters: Int): graft.ops.Pq.Codebooks =
    graft.util.Memo.scalar("pq_codebooks", (embKey(dir), s, sub, kc, iters)) {
      graft.ops.Pq.train(e, "vec_id", "v", s, sub, kc, iters)
    }

  private def coarseCodebookBuild(s: SparkSession,
      dir: String): (Array[Long], Array[Array[Double]]) = {
    val dimSums = (0 until DIM).map { d =>
      sum(round(element_at(col("embedding"), d + 1).cast("double") * 1000000)
        .cast("long")).as(s"m$d")
    }
    val centRows = tPar(s, dir, "embeddings")
      .groupBy(col("label").cast("long").as("clabel"))
      .agg(dimSums.head, dimSums.tail :+ count(lit(1)).as("cn"): _*)
      .select(col("clabel"), array((0 until DIM).map { d =>
        col(s"m$d").cast("double") / (col("cn") * 1000000L).cast("double")
      }: _*).as("cvec"))
      .orderBy("clabel")
      .collect()
    (centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray))
  }

  /** The IVF front every routed index reads: the embedding frame as
    * (vec_id, vlabel, v, n2, cells), where `cells` holds the vector's
    * `nprobe` nearest coarse cells as labels, nearest first, so `cells[1]`
    * is its home cell. The ranking is (cosine desc, label asc):
    * graft_nearest_codes keeps ties on the lower index, and index order IS
    * label order ([[coarseCodebook]] sorts by label), which matches the
    * oracles' `crank` window. Not persisted (round-22 A/B: caching the
    * array<double> + cells projection costs more than the narrow rescans
    * it saves). */
  private def ivfFront(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val (labels, cvecs) = coarseCodebook(s, dir)
    val idxToLabel = typedlit(labels.toSeq)
    tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("vlabel"),
        vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v")))
      .withColumn("cells", transform(
        nearestCodes(col("v"), cvecs, nprobe, "cosine"),
        i => element_at(idxToLabel, (i + lit(1)).cast("int"))))
  }

  /** IVF-routed exact-cosine candidates for a FIXED probe-id set — the
    * cell-equi-join core of [[annIvf]], exported for hybrid retrieval's
    * dense ranker ([[graft.queries.TextQueries.hybridSearch]]): each
    * probe's candidates are the members of its `nprobe` nearest coarse
    * cells, the probe itself included (its home cell is by construction
    * among its probes). Returns (q_id, doc_id, cosine) — at most one row
    * per pair, since a candidate has ONE home cell and a probe's cell list
    * is distinct.
    *
    * Scale shape = annIvf: broadcast-codebook narrow assignment, probe
    * rows broadcast into one cell equi-join — the corpus never shuffles
    * and candidates are O(n/cells · nprobe), never a per-probe corpus
    * scan. */
  def ivfProbeCandidates(s: SparkSession, dir: String, probeIds: Seq[Long],
      nprobe: Int): DataFrame =
    ivfRoutedCandidates(s, dir, nprobe, _.filter(col("vec_id").isin(probeIds: _*)))

  /** Shared IVF routing core: `probeSel` picks the probe rows out of the
    * [[ivfFront]] frame. Output carries both sides' class labels so
    * consumers like [[hardNegatives]] can split candidates by label without
    * a second join against the (corpus-sized) embedding table. */
  private def ivfRoutedCandidates(s: SparkSession, dir: String, nprobe: Int,
      probeSel: DataFrame => DataFrame): DataFrame = {
    val e = ivfFront(s, dir, nprobe)
    val cells = e.select(col("vec_id").as("n_id"),
      col("vlabel").as("doc_label"), col("v").as("nv"),
      col("n2").as("nn"), element_at(col("cells"), 1).as("cell"))
    val probes = probeSel(e)
      .select(col("vec_id").as("q_id"), col("vlabel").as("q_label"),
        col("v").as("qv"), col("n2").as("qn"),
        explode(slice(col("cells"), 1, nprobe)).as("probe"))
    broadcast(probes).join(cells, col("probe") === col("cell"))
      .select(col("q_id"), col("q_label"), col("n_id").as("doc_id"),
        col("doc_label"),
        (dot(col("qv"), col("nv")) / (sqrt(col("qn")) * sqrt(col("nn"))))
          .as("cosine"))
  }

  /** The 10 smallest-id probes' IVF candidates, the probe itself excluded:
    * the candidate set of [[annIvf]] and [[hardNegatives]]. */
  private def ivfAnnCandidates(s: SparkSession, dir: String, nprobe: Int): DataFrame =
    ivfRoutedCandidates(s, dir, nprobe,
      e => e.filter(col("vec_id") <= idAtRank(e, dir, 10)))
      .filter(col("q_id") =!= col("doc_id"))

  /** The 10 smallest-id probes of an [[ivfFront]] frame, one row per probed
    * cell: (q_id, qv, probe). The probe side of the quantized indexes. */
  private def ivfProbes(e: DataFrame, dir: String, nprobe: Int): DataFrame =
    e.filter(col("vec_id") <= idAtRank(e, dir, 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        explode(slice(col("cells"), 1, nprobe)).as("probe"))

  /** The exact re-rank shared by the quantized indexes ([[annIvfPq]],
    * [[annSq]], [[annHamming]]) — IVFADC+R (Jégou, Tavenard, Douze,
    * Amsaleg, "Searching in one billion vectors: re-rank with source
    * coding", ICASSP 2011): the approximate shortlist's (q_id, qv, n_id)
    * rows fetch their candidates' full vectors from `e` (vec_id, v), are
    * scored by exact fold-dot cosine and keep each probe's top 5. Only the
    * shortlist ever reads a full candidate vector, and it is broadcast, so
    * the static plan is a BroadcastHashJoin against the vector table
    * (GraftPlanSpec asserts this), not an AQE-rescued sort-merge. */
  private def exactRerank(short: DataFrame, e: DataFrame): DataFrame = {
    val exact = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
    probeTopK(broadcast(short).join(exact, "n_id")
      .select(col("q_id"), col("n_id"),
        (dot(col("qv"), col("nv")) /
          (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("nv"), col("nv"))))).as("score")),
      "score", 5)
  }

  /** Contrastive-pair mining for embedding-model training data: for each
    * probe vector, its hardest POSITIVE (most-similar same-label candidate)
    * and hardest NEGATIVE (most-similar different-label candidate — the
    * "hard negative" every contrastive recipe mines for, e.g. SimCSE /
    * DPR-style in-batch negative augmentation), with the cosine margin
    * between them in exact micro-units. Candidates come from the same IVF
    * cell routing as [[annIvf]] (nprobe = IVF_NPROBE) — mining never scans
    * the corpus per probe, which is what makes it runnable over the whole
    * training set. A probe missing either a same-label or different-label
    * candidate in its probed cells drops (inner join), mirrored by the
    * oracle. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val cand = graft.util.CacheBin.persist(ivfAnnCandidates(s, dir, IVF_NPROBE))
    def hardest(side: Column): DataFrame =
      TopK.perGroup(cand.filter(side), "q_id",
        Seq(col("cosine").desc, col("doc_id")), 1, "rk")
    val pos = hardest(col("q_label") === col("doc_label"))
      .select(col("q_id"), col("doc_id").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = hardest(col("q_label") =!= col("doc_label"))
      .select(col("q_id").as("qn"), col("doc_id").as("neg_id"),
        col("cosine").as("neg_cos"))
    pos.join(neg, col("q_id") === col("qn"))
      .select(col("q_id"), col("pos_id"), col("pos_cos"), col("neg_id"),
        col("neg_cos"),
        round((col("pos_cos") - col("neg_cos")) * 1000000).cast("long")
          .as("margin_micro"))
      .orderBy("q_id")
  }

  val hardNegativesSql: String =
    s"""WITH cv AS (
       |  SELECT CAST("label" AS BIGINT) clabel, i pos,
       |         CAST(CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |           / CAST(count(*) * 1000000 AS DOUBLE) c
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i)
       |  GROUP BY 1, 2),
       |cent AS (SELECT clabel, list(c ORDER BY pos) cvec FROM cv GROUP BY 1),
       |e AS (SELECT vec_id, CAST("label" AS BIGINT) vlabel, embedding,
       |             ${dotSql("embedding", "embedding")} n2 FROM embeddings),
       |ac AS (SELECT e.vec_id, e.vlabel, e.embedding, e.n2, cent.clabel,
       |              ${dotSql("e.embedding", "cent.cvec")}
       |                / (sqrt(e.n2) * sqrt(${dotSql("cent.cvec", "cent.cvec")})) ccos
       |       FROM e, cent),
       |cr AS (SELECT vec_id, vlabel, embedding, n2, clabel,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) crank
       |       FROM ac),
       |cells AS (SELECT vec_id n_id, vlabel n_label, embedding ne, n2 nn, clabel cell
       |          FROM cr WHERE crank = 1),
       |probes AS (SELECT vec_id q_id, vlabel q_label, embedding qe, n2 qn, clabel probe
       |           FROM cr WHERE vec_id <= ${idAtRankSql(10)} AND crank <= $IVF_NPROBE),
       |p AS (SELECT q_id, q_label, n_id, n_label,
       |             ${dotSql("qe", "ne")} / (sqrt(qn) * sqrt(nn)) cosine
       |      FROM probes JOIN cells ON probe = cell AND q_id <> n_id),
       |ps AS (SELECT q_id, n_id pos_id, cosine pos_cos FROM (
       |         SELECT q_id, n_id, cosine,
       |                row_number() OVER (PARTITION BY q_id
       |                                   ORDER BY cosine DESC, n_id) rk
       |         FROM p WHERE q_label = n_label) WHERE rk = 1),
       |ng AS (SELECT q_id, n_id neg_id, cosine neg_cos FROM (
       |         SELECT q_id, n_id, cosine,
       |                row_number() OVER (PARTITION BY q_id
       |                                   ORDER BY cosine DESC, n_id) rk
       |         FROM p WHERE q_label <> n_label) WHERE rk = 1)
       |SELECT q_id, pos_id, pos_cos, neg_id, neg_cos,
       |       CAST(round((pos_cos - neg_cos) * 1000000) AS BIGINT) margin_micro
       |FROM ps JOIN ng USING (q_id) ORDER BY q_id""".stripMargin

  def annIvf(s: SparkSession, dir: String, NPROBE: Int): DataFrame =
    probeTopK(ivfAnnCandidates(s, dir, NPROBE)
      .select(col("q_id"), col("doc_id").as("n_id"), col("cosine")), "cosine", 5)

  val annIvfSql: String =
    s"""WITH cv AS (
       |  SELECT CAST("label" AS BIGINT) clabel, i pos,
       |         CAST(CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |           / CAST(count(*) * 1000000 AS DOUBLE) c
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i)
       |  GROUP BY 1, 2),
       |cent AS (SELECT clabel, list(c ORDER BY pos) cvec FROM cv GROUP BY 1),
       |e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2 FROM embeddings),
       |ac AS (SELECT e.vec_id, e.embedding, e.n2, cent.clabel,
       |              ${dotSql("e.embedding", "cent.cvec")}
       |                / (sqrt(e.n2) * sqrt(${dotSql("cent.cvec", "cent.cvec")})) ccos
       |       FROM e, cent),
       |r AS (SELECT vec_id, embedding, n2, clabel,
       |             row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) crank
       |      FROM ac),
       |cells AS (SELECT vec_id n_id, embedding ne, n2 nn, clabel cell FROM r WHERE crank = 1),
       |probes AS (SELECT vec_id q_id, embedding qe, n2 qn, clabel probe
       |           FROM r WHERE vec_id <= ${idAtRankSql(10)} AND crank <= $IVF_NPROBE),
       |p AS (SELECT q_id, n_id,
       |             ${dotSql("qe", "ne")} / (sqrt(qn) * sqrt(nn)) cosine
       |      FROM probes JOIN cells ON probe = cell AND q_id <> n_id),
       |rr AS (SELECT q_id, n_id, cosine,
       |              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
       |       FROM p)
       |SELECT q_id, CAST(rank AS BIGINT) rank, n_id, cosine
       |FROM rr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Lloyd's k-means over the embedding corpus — the clustering primitive an
    * IVF index (or a corpus diversity analysis) is trained with: k = 8 seeds
    * (the 8 smallest-id vectors, cluster id = seed rank), two
    * assignment/update iterations, squared-L2 distance with
    * (distance asc, cluster asc) tie-breaking.
    *
    * Scale + determinism shape: each iteration is ONE pass — a narrow map
    * assigning every vector to its nearest centroid (a closure over the
    * collected codebook, exactly the broadcast pattern of every distributed
    * k-means) followed by one map-side-combined groupBy computing the new
    * centroids as EXACT integer micro-unit sums (aggregation order cannot
    * change them, so the refit centroids are bit-identical across engines
    * and the whole iterative computation stays oracle-checkable). Output:
    * per-cluster membership count and the exact micro-unit sums of the
    * first two dimensions after the second assignment. */
  def kmeans(s: SparkSession, dir: String): DataFrame = {
    val K = 8
    // nearest centroid by squared L2 (sequential fold, mirrored in the SQL
    // oracle), ties on the lower cluster id — graft_nearest_codes with the
    // l2 metric, a codegen'd narrow map over the broadcast codebook
    def assign(cents: Array[Array[Double]]): Column =
      element_at(nearestCodes(col("v"), cents, 1, "l2"), 1)
    // NOT persisted (round 22 A/B): three actions read this frame (seed
    // collect, iter-1 refit, iter-2 output), but caching the array<double>
    // projection costs more than three narrow rescans of the small parquet
    // file — the same tradeoff r21 measured on vec_dedup_removal
    val e = tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    // seeds: cluster j = the vector with the j-th smallest vec_id
    // (collected codebook — data-derived, no assumption about the id space)
    val seeds = e.orderBy("vec_id").limit(K).collect()
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == K, s"k-means: need $K seed vectors, found ${seeds.length}")
    val microSums = (0 until DIM).map { d =>
      sum(round(element_at(col("v"), d + 1) * 1000000).cast("long")).as(s"m$d")
    }
    // iteration 1: assign to seeds, refit centroids from exact integer sums
    val cent1Rows = e.withColumn("cluster", assign(seeds))
      .groupBy("cluster")
      .agg(microSums.head, microSums.tail :+ count(lit(1)).as("cn"): _*)
      .orderBy("cluster")
      .collect()
    val byCluster = cent1Rows.map(r => r.getLong(0) -> r).toMap
    val cent1 = Array.tabulate(K) { j =>
      val r = byCluster.getOrElse(j.toLong,
        sys.error(s"empty k-means cluster $j — reseed or lower k"))
      val cn = r.getLong(DIM + 1)
      Array.tabulate(DIM)(d => r.getLong(d + 1).toDouble / (cn * 1000000L).toDouble)
    }
    // iteration 2: reassign against the refit centroids
    e.withColumn("cluster", assign(cent1))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum(round(element_at(col("v"), 1) * 1000000).cast("long")).as("c0_micro"),
        sum(round(element_at(col("v"), 2) * 1000000).cast("long")).as("c1_micro"))
      .orderBy("cluster")
  }

  val kmeansSql: String = {
    def d2Sql(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $DIM), i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), (acc, x) -> acc + x)"
    s"""WITH ${seedsCteSql(8)},
       |a1 AS (
       |  SELECT e.vec_id, e.embedding, s.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${d2Sql("e.embedding", "s.embedding")}, s.cl) rn
       |  FROM embeddings e, seeds s),
       |m1 AS (
       |  SELECT cl, i,
       |         CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) ms,
       |         CAST(count(*) AS BIGINT) cn
       |  FROM a1, (SELECT unnest(generate_series(1, $DIM)) i)
       |  WHERE rn = 1 GROUP BY 1, 2),
       |cent1 AS (
       |  SELECT cl, list(ms::DOUBLE / (cn * 1000000)::DOUBLE ORDER BY i) cvec FROM m1 GROUP BY 1),
       |a2 AS (
       |  SELECT e.vec_id, e.embedding, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${d2Sql("e.embedding", "c.cvec")}, c.cl) rn
       |  FROM embeddings e, cent1 c)
       |SELECT cl AS "cluster", CAST(count(*) AS BIGINT) n,
       |       CAST(sum(CAST(round(embedding[1]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) c0_micro,
       |       CAST(sum(CAST(round(embedding[2]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) c1_micro
       |FROM a2 WHERE rn = 1 GROUP BY cl ORDER BY cl""".stripMargin
  }

  /** Product quantization codes — the embedding-compression step of a
    * billion-vector ANN index (IVF-PQ): the 64-dim space splits into 8
    * subspaces of 8 dims, each with its own 8-centroid codebook (seeded
    * from the 8 smallest-id vectors, refit once by Lloyd's update), and
    * every vector is encoded as 8 small codes — 64 dims × 4 bytes → 8
    * bytes per vector.
    *
    * Same scale + determinism machinery as [[kmeans]]/[[annIvf]]: the
    * codebook is collected (tiny by design) and closed over in narrow
    * assignment maps; the refit is one map-side-combined groupBy of exact
    * integer micro-unit sums; squared-L2 folds run in identical IEEE order
    * in both engines, ties break on the lower code. */
  def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val S = 8; val SUB = 8; val KC = 8
    val e = graft.util.CacheBin.persist(tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v")))
    // seed + one Lloyd refit, shared machinery (ops/Pq)
    val cb2 = pqCodebooks(e, dir, S, SUB, KC, 1)
    e.withColumn("codes", graft.ops.Pq.encode(col("v"), cb2, SUB))
      .select(col("vec_id") +:
        (0 until S).map(si => element_at(col("codes"), si + 1).as(s"code$si")): _*)
      .orderBy("vec_id")
  }

  val pqCodesSql: String = {
    def d2Seed(s: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 8), d -> (e.embedding[$s*8+d]::DOUBLE - c.embedding[$s*8+d]::DOUBLE) * (e.embedding[$s*8+d]::DOUBLE - c.embedding[$s*8+d]::DOUBLE))), (acc, x) -> acc + x)"
    def d2Cent(s: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 8), d -> (e.embedding[$s*8+d]::DOUBLE - c.cv[d]::DOUBLE) * (e.embedding[$s*8+d]::DOUBLE - c.cv[d]::DOUBLE))), (acc, x) -> acc + x)"
    val codeCols = (0 until 8).map(si =>
      s"CAST(max(CASE WHEN s = $si THEN cl END) AS BIGINT) code$si").mkString(",\n       |       ")
    s"""WITH ${seedsCteSql(8)},
       |sdim AS (SELECT unnest(generate_series(0, 7)) s),
       |a1 AS (
       |  SELECT e.vec_id, e.embedding, s.s, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id, s.s
       |                            ORDER BY ${d2Seed("s.s")}, c.cl) rn
       |  FROM embeddings e, sdim s, seeds c),
       |w1 AS (SELECT vec_id, embedding, s, cl FROM a1 WHERE rn = 1),
       |m1 AS (
       |  SELECT s, cl, d,
       |         CAST(sum(CAST(round(embedding[s*8+d]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) ms,
       |         CAST(count(*) AS BIGINT) cn
       |  FROM w1, (SELECT unnest(generate_series(1, 8)) d)
       |  GROUP BY 1, 2, 3),
       |cent AS (SELECT s, cl, list(ms::DOUBLE / (cn * 1000000)::DOUBLE ORDER BY d) cv
       |         FROM m1 GROUP BY 1, 2),
       |a2 AS (
       |  SELECT e.vec_id, c.s, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id, c.s
       |                            ORDER BY ${d2Cent("c.s")}, c.cl) rn
       |  FROM embeddings e, cent c),
       |w2 AS (SELECT vec_id, s, cl FROM a2 WHERE rn = 1)
       |SELECT vec_id,
       |       $codeCols
       |FROM w2 GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** Embedding near-dup REMOVAL, oracle-checked end to end on planted
    * duplicates: the corpus is `embeddings` plus an exact copy of every
    * of the 50 smallest vec_ids under vec_id + max(vec_id) + 1 (a deterministic
    * self-union — the driver's synthetic embeddings are near-orthogonal, max
    * pairwise cosine ≈ 0.51, so without planting a threshold query is
    * vacuously empty). [[graft.ops.VecDedup.survivors]] at cosine ≥ 0.999
    * must drop exactly the planted copies (keep-smallest-id) and nothing
    * else; the report is per-label survivor counts and id range — any missed
    * drop or over-drop changes the hash.
    *
    * Scale shape: candidates come from the hyperplane-bucket equi-join
    * (identical vectors share every plane sign, so true duplicates always
    * co-bucket); the DuckDB oracle brute-forces all pairs — the classic
    * small-oracle-validates-scale-path pattern of vec_ann_lsh. */
  def dedupRemoval(s: SparkSession, dir: String): DataFrame = {
    val base = tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
    val off = plantOffset(base, dir)
    val planted = base.filter(col("vec_id") <= idAtRank(base, dir, 50))
      .select((col("vec_id") + off).as("vec_id"), col("label"), col("embedding"))
    // the planted union feeds both the drop-set derivation and the
    // surviving anti-join side; measured (r21), persisting it LOSES
    // (isolated pair 0.75 s → 1.81 s at sf0.1 — embedding-array caching
    // is expensive, the union recompute is a cheap scan) — left as-is
    graft.ops.VecDedup.survivors(base.unionByName(planted),
        "vec_id", "embedding", DIM, 0.999, numPlanes = 6)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min("vec_id").as("min_id"), max("vec_id").as("max_id"))
      .orderBy("label")
  }

  val dedupRemovalSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, "label", embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings), "label", embedding
       |  FROM embeddings WHERE vec_id <= ${idAtRankSql(50)}),
       |n AS (SELECT vec_id, "label", embedding,
       |             ${dotSql("embedding", "embedding")} n2 FROM c),
       |drp AS (SELECT DISTINCT b.vec_id drop_id
       |        FROM n a JOIN n b ON a.vec_id < b.vec_id
       |          AND ${dotSql("a.embedding", "b.embedding")} >= 0.999 * sqrt(a.n2) * sqrt(b.n2)),
       |s AS (SELECT * FROM n WHERE vec_id NOT IN (SELECT drop_id FROM drp))
       |SELECT CAST("label" AS BIGINT) AS "label", CAST(count(*) AS BIGINT) n_vecs,
       |       min(vec_id) min_id, max(vec_id) max_id
       |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  /** IVF-PQ ANN — the composed structure of a billion-vector index
    * (Jégou et al. 2011): IVF coarse routing (the [[annIvf]] cell
    * machinery) narrows the candidate set, then candidates are ranked by
    * PQ ASYMMETRIC distance — the query keeps its full vector while every
    * candidate is represented only by its 8 subspace codes (16-centroid
    * codebooks, seeded + one Lloyd refit), so ranking reads 8 bytes per
    * candidate instead of 256. Approximate inner product:
    * adc(q, x) = Σ_s dot(q_s, codebook_s[code_s(x)]), folded in fixed
    * subspace order so both engines execute the identical IEEE op
    * sequence (the DuckDB mirror folds an ORDER BY s list the same way).
    * The ADC top-RERANK shortlist (100 as tuned round 10) is then
    * RE-RANKED with exact vectors (IVFADC+R — Jégou, Tavenard, Douze,
    * Amsaleg, ICASSP 2011), the refinement every production PQ index runs:
    * measured recall@5 lifts 16% (round-8 ADC-only, nprobe 2) → 62/66%
    * at nprobe 4 + 100-candidate re-rank (sf0.01/sf0.1).
    *
    * Scale shape: both codebooks are tiny BY DESIGN and collected — cell
    * assignment ([[ivfFront]]) and PQ encoding are codegen'd narrow maps;
    * the probe side ([[ivfProbes]]) is broadcast into one cell equi-join;
    * ADC is a pure projection over the candidates (at real scale the
    * partial dot tables would be precomputed per query — 8×16 values —
    * which this expression shape makes explicit). Candidates are O(n/cells · nprobe) and the re-rank
    * ([[exactRerank]]) fetches RERANK full vectors per query (a bounded
    * equi-join) — never O(n²), never a full-vector scan. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    annIvfPq(s, dir, PQ_NPROBE, PQ_KC, PQ_ITERS, PQ_RERANK)

  def annIvfPq(s: SparkSession, dir: String, NPROBE: Int, KC: Int,
      ITERS: Int, RERANK: Int): DataFrame = {
    require(RERANK > 0, s"annIvfPq: RERANK=$RERANK — the exact refine step is the point")
    val S = 8; val SUB = 8
    // e feeds the index, the probe side and the exact re-rank (PQ training
    // reads it once per tier — the codebooks are memoized)
    val e = ivfFront(s, dir, NPROBE)
    // --- PQ codebooks: seeds + ITERS Lloyd refits, shared machinery (ops/Pq) ---
    val cb2 = pqCodebooks(e, dir, S, SUB, KC, ITERS)
    // --- index: home cell + 8 codes per vector (8 bytes of payload) ---
    val cells = e.withColumn("codes", graft.ops.Pq.encode(col("v"), cb2, SUB))
      .select(col("vec_id").as("n_id"), element_at(col("cells"), 1).as("cell"),
        col("codes"))
    // per-query ADC lookup table, computed ON THE PROBE SIDE (10 × NPROBE
    // rows): adctab[si][code] = dot(q_si, cb[si][code]) — the classic PQ
    // distance-table trick. Candidates then pay 8 element_at reads instead
    // of 8 sliced dot products each; round 19: the old per-candidate form
    // cost ~19 s of the 100×-tier's 24 s (1.2 M candidates × 8 slice+dot
    // against a triple-nested codebook literal). Each table term is the
    // IDENTICAL IEEE dot the per-candidate form computed, summed in the
    // same fixed subspace order, so the DuckDB mirror is still bit-equal.
    val adcTab = array((0 until S).map { si =>
      array((0 until KC).map { c =>
        dot(slice(col("qv"), si * SUB + 1, SUB), typedlit(cb2(si)(c).toSeq))
      }: _*)
    }: _*)
    val probes = ivfProbes(e, dir, NPROBE).withColumn("adctab", adcTab)
    // ADC over the candidate's codes: fixed-order fold from 0.0 so the
    // DuckDB list_reduce mirror is bit-identical
    val adc = (0 until S).map { si =>
      element_at(element_at(col("adctab"), si + 1),
        (element_at(col("codes"), si + 1) + lit(1)).cast("int"))
    }.foldLeft(lit(0.0))(_ + _)
    val cand = broadcast(probes)
      .join(cells, col("probe") === col("cell") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("qv"), col("n_id"), adc.as("adc"))
    // the ADC shortlist (top RERANK per query) is re-scored with the exact
    // vectors — the index still reads 8 bytes per candidate
    exactRerank(TopK.perGroup(cand, "q_id", Seq(col("adc").desc, col("n_id")),
      RERANK, "arank").select(col("q_id"), col("qv"), col("n_id")), e)
  }

  val annIvfPqSql: String = {
    def d2Seed(s: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 8), d -> (e.embedding[$s*8+d]::DOUBLE - c.embedding[$s*8+d]::DOUBLE) * (e.embedding[$s*8+d]::DOUBLE - c.embedding[$s*8+d]::DOUBLE))), (acc, x) -> acc + x)"
    def d2Cent(s: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, 8), d -> (e.embedding[$s*8+d]::DOUBLE - c.cv[d]::DOUBLE) * (e.embedding[$s*8+d]::DOUBLE - c.cv[d]::DOUBLE))), (acc, x) -> acc + x)"
    s"""WITH cv AS (
       |  SELECT CAST("label" AS BIGINT) clabel, i pos,
       |         CAST(CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |           / CAST(count(*) * 1000000 AS DOUBLE) c
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i)
       |  GROUP BY 1, 2),
       |ccent AS (SELECT clabel, list(c ORDER BY pos) cvec FROM cv GROUP BY 1),
       |ev AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2 FROM embeddings),
       |ac AS (SELECT ev.vec_id, ev.embedding, ev.n2, ccent.clabel,
       |              ${dotSql("ev.embedding", "ccent.cvec")}
       |                / (sqrt(ev.n2) * sqrt(${dotSql("ccent.cvec", "ccent.cvec")})) ccos
       |       FROM ev, ccent),
       |cr AS (SELECT vec_id, embedding, clabel,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) crank
       |       FROM ac),
       |${seedsCteSql(16)},
       |sdim AS (SELECT unnest(generate_series(0, 7)) s),
       |a1 AS (
       |  SELECT e.vec_id, e.embedding, s.s, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id, s.s
       |                            ORDER BY ${d2Seed("s.s")}, c.cl) rn
       |  FROM embeddings e, sdim s, seeds c),
       |w1 AS (SELECT vec_id, embedding, s, cl FROM a1 WHERE rn = 1),
       |m1 AS (
       |  SELECT s, cl, d,
       |         CAST(sum(CAST(round(embedding[s*8+d]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) ms,
       |         CAST(count(*) AS BIGINT) cn
       |  FROM w1, (SELECT unnest(generate_series(1, 8)) d)
       |  GROUP BY 1, 2, 3),
       |qcent AS (SELECT s, cl, list(ms::DOUBLE / (cn * 1000000)::DOUBLE ORDER BY d) cv
       |          FROM m1 GROUP BY 1, 2),
       |a2 AS (
       |  SELECT e.vec_id, c.s, c.cl,
       |         row_number() OVER (PARTITION BY e.vec_id, c.s
       |                            ORDER BY ${d2Cent("c.s")}, c.cl) rn
       |  FROM embeddings e, qcent c),
       |w2 AS (SELECT vec_id, s, cl FROM a2 WHERE rn = 1),
       |cand AS (SELECT p.vec_id q_id, p.embedding qe, n.vec_id n_id
       |         FROM cr p JOIN cr n ON p.clabel = n.clabel
       |           AND n.crank = 1 AND p.vec_id <= ${idAtRankSql(10)} AND p.crank <= $PQ_NPROBE
       |           AND p.vec_id <> n.vec_id),
       |adcp AS (
       |  SELECT c.q_id, c.n_id, w2.s,
       |         list_reduce(list_prepend(0.0::DOUBLE,
       |           list_transform(generate_series(1, 8),
       |             d -> c.qe[w2.s*8+d]::DOUBLE * q.cv[d]::DOUBLE)),
       |           (acc, x) -> acc + x) padc
       |  FROM cand c JOIN w2 ON w2.vec_id = c.n_id
       |  JOIN qcent q ON q.s = w2.s AND q.cl = w2.cl),
       |adc AS (SELECT q_id, n_id,
       |               list_reduce(list_prepend(0.0::DOUBLE, list(padc ORDER BY s)),
       |                 (acc, x) -> acc + x) adc
       |        FROM adcp GROUP BY 1, 2),
       |sh AS (SELECT q_id, n_id,
       |              row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) arank
       |       FROM adc),
       |rrk AS (SELECT sh.q_id, sh.n_id,
       |               ${dotSql("q.embedding", "n.embedding")}
       |                 / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |                    * sqrt(${dotSql("n.embedding", "n.embedding")})) cosine
       |        FROM sh JOIN embeddings q ON q.vec_id = sh.q_id
       |                JOIN embeddings n ON n.vec_id = sh.n_id
       |        WHERE sh.arank <= $PQ_RERANK),
       |fr AS (SELECT q_id, n_id, cosine,
       |              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
       |       FROM rrk)
       |SELECT q_id, CAST(rank AS BIGINT) rank, n_id, cosine AS score
       |FROM fr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** Int8 scalar quantization of the embedding corpus ([[graft.ops.Sq]] —
    * the SQ8 compression arm of production vector indexes): per-dimension
    * micro-unit min/max trained in one map-side-combined pass, every vector
    * encoded to one byte per dimension, then decoded back for exact integer
    * error accounting. Output per vector: the code checksum plus total and
    * max reconstruction error in micro-units — a quantizer regression
    * (wrong range, off-by-one bucket, bad rounding) moves the checksum or
    * the error columns and breaks the hash.
    *
    * Scale shape: training state is 128 longs (constant); encode/decode/
    * error are codegen'd narrow maps over literal ranges — zero shuffle
    * beyond the training aggregate. */
  def sq8(s: SparkSession, dir: String): DataFrame = {
    val e = graft.util.CacheBin.persist(tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        vecD(col("embedding")).as("v")))
    val r = sqRanges(e, dir)
    e.withColumn("vmicro",
        transform(col("v"), x => round(x * 1000000).cast("long")))
      .withColumn("codes", graft.ops.Sq.encode(col("v"), r))
      .withColumn("rm", graft.ops.Sq.decodeMicro(col("codes"), r))
      .withColumn("errs", zip_with(col("vmicro"), col("rm"), (a, b) => abs(a - b)))
      .select(col("vec_id"), col("label"),
        aggregate(col("codes"), lit(0L), _ + _).as("code_sum"),
        aggregate(col("errs"), lit(0L), _ + _).as("err_micro"),
        array_max(col("errs")).as("max_err_micro"))
      .orderBy("vec_id")
  }

  val sq8Sql: String =
    s"""WITH mm AS (
       |  SELECT i, min(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) mn,
       |         max(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) mx
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i) GROUP BY i),
       |pv AS (
       |  SELECT e.vec_id, CAST(e."label" AS BIGINT) AS "label", mm.i, mm.mn, mm.mx,
       |         CAST(round(e.embedding[mm.i]::DOUBLE * 1000000) AS BIGINT) xi
       |  FROM embeddings e, mm),
       |c AS (SELECT vec_id, "label", i, xi, mn, mx,
       |             ((xi - mn) * 255) // (mx - mn) code FROM pv),
       |r AS (SELECT vec_id, "label", code,
       |             abs(xi - (mn + ((code * 2 + 1) * (mx - mn)) // 510)) err FROM c)
       |SELECT vec_id, "label", CAST(sum(code) AS BIGINT) code_sum,
       |       CAST(sum(err) AS BIGINT) err_micro, CAST(max(err) AS BIGINT) max_err_micro
       |FROM r GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** IVF-SQ8 ANN — the third routed index beside [[annIvf]] (flat) and
    * [[annIvfPq]] (PQ): IVF coarse routing narrows candidates, which are
    * ranked by the dot product of the full query vector against each
    * candidate's DEQUANTIZED int8 reconstruction ([[graft.ops.Sq]] — 64
    * bytes per candidate instead of 256), then the top-RERANK shortlist is
    * re-ranked with exact vectors (the same IVFADC+R refinement as the PQ
    * path). SQ8 loses far less precision than PQ (≤ range/255 per dim), so
    * the approximate ranking is near-exact within the routed cells and
    * recall tracks the IVF-flat path — the memory/recall middle point of
    * the index family.
    *
    * Scale shape: the [[annIvfPq]] shape — the shared [[ivfFront]] cell
    * assignment and [[ivfProbes]] probe side, collected constant-size
    * training state (128 longs + the coarse codebook), codegen'd narrow
    * encode, broadcast probes into one cell equi-join, then the shared
    * [[exactRerank]]. Candidates O(n/cells · nprobe); never O(n²). */
  def annSq(s: SparkSession, dir: String): DataFrame =
    annSq(s, dir, IVF_NPROBE, SQ_RERANK)

  def annSq(s: SparkSession, dir: String, NPROBE: Int, RERANK: Int): DataFrame = {
    require(RERANK > 0, s"annSq: RERANK=$RERANK — the exact refine step is the point")
    val e = ivfFront(s, dir, NPROBE)
    // --- SQ8 ranges + per-vector codes (64 bytes of candidate payload) ---
    val r = sqRanges(e, dir)
    val cells = e.withColumn("codes", graft.ops.Sq.encode(col("v"), r))
      .select(col("vec_id").as("n_id"), element_at(col("cells"), 1).as("cell"),
        col("codes"))
    // approximate score: full query against the dequantized candidate —
    // same sequential fold as the DuckDB list_reduce mirror
    val cand = broadcast(ivfProbes(e, dir, NPROBE))
      .join(cells, col("probe") === col("cell") && col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("qv"), col("n_id"),
        dot(col("qv"), graft.ops.Sq.decode(col("codes"), r)).as("adc"))
    exactRerank(TopK.perGroup(cand, "q_id", Seq(col("adc").desc, col("n_id")),
      RERANK, "arank").select(col("q_id"), col("qv"), col("n_id")), e)
  }

  val annSqSql: String =
    s"""WITH cv AS (
       |  SELECT CAST("label" AS BIGINT) clabel, i pos,
       |         CAST(CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |           / CAST(count(*) * 1000000 AS DOUBLE) c
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i)
       |  GROUP BY 1, 2),
       |ccent AS (SELECT clabel, list(c ORDER BY pos) cvec FROM cv GROUP BY 1),
       |ev AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2 FROM embeddings),
       |ac AS (SELECT ev.vec_id, ev.embedding, ev.n2, ccent.clabel,
       |              ${dotSql("ev.embedding", "ccent.cvec")}
       |                / (sqrt(ev.n2) * sqrt(${dotSql("ccent.cvec", "ccent.cvec")})) ccos
       |       FROM ev, ccent),
       |cr AS (SELECT vec_id, embedding, clabel,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) crank
       |       FROM ac),
       |mm AS (
       |  SELECT i, min(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) mn,
       |         max(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) mx
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i) GROUP BY i),
       |cd AS (
       |  SELECT e.vec_id, mm.i,
       |         mm.mn + ((((( CAST(round(e.embedding[mm.i]::DOUBLE * 1000000) AS BIGINT) - mm.mn) * 255)
       |                    // (mm.mx - mm.mn)) * 2 + 1) * (mm.mx - mm.mn)) // 510 rm
       |  FROM embeddings e, mm),
       |rq AS (SELECT vec_id, list(rm::DOUBLE / 1000000 ORDER BY i) rvec FROM cd GROUP BY vec_id),
       |cand AS (SELECT p.vec_id q_id, p.embedding qe, n.vec_id n_id
       |         FROM cr p JOIN cr n ON p.clabel = n.clabel AND n.crank = 1
       |           AND p.vec_id <= ${idAtRankSql(10)} AND p.crank <= $IVF_NPROBE AND p.vec_id <> n.vec_id),
       |sc AS (SELECT c.q_id, c.n_id, ${dotSql("c.qe", "r.rvec")} adc
       |       FROM cand c JOIN rq r ON r.vec_id = c.n_id),
       |sh AS (SELECT q_id, n_id,
       |              row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) arank
       |       FROM sc),
       |rrk AS (SELECT sh.q_id, sh.n_id,
       |               ${dotSql("q.embedding", "n.embedding")}
       |                 / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |                    * sqrt(${dotSql("n.embedding", "n.embedding")})) cosine
       |        FROM sh JOIN embeddings q ON q.vec_id = sh.q_id
       |                JOIN embeddings n ON n.vec_id = sh.n_id
       |        WHERE sh.arank <= $SQ_RERANK),
       |fr AS (SELECT q_id, n_id, cosine,
       |              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
       |       FROM rrk)
       |SELECT q_id, CAST(rank AS BIGINT) rank, n_id, cosine AS score
       |FROM fr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Binary sign-bit signatures of the embedding corpus ([[graft.ops.Bq]]
    * — ONE bit per dimension, 8 bytes per 64-dim vector): per-dimension
    * truncated-integer-mean thresholds trained in one map-side-combined
    * pass, each vector collapsed to two 32-bit signature words. Output per
    * vector: the exact signature words plus the popcount — a threshold or
    * bit-packing regression moves the words and breaks the hash.
    *
    * Scale shape: training state is 65 longs (constant); the signature
    * words are static 32-term codegen'd sums — zero shuffle beyond the
    * training aggregate. */
  def bq(s: SparkSession, dir: String): DataFrame = {
    val e = graft.util.CacheBin.persist(tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        vecD(col("embedding")).as("v")))
    val th = bqThresholds(e, dir)
    e.select(col("vec_id"), col("label"),
        graft.ops.Bq.word(col("v"), th, 0).as("sig_lo"),
        graft.ops.Bq.word(col("v"), th, 32).as("sig_hi"))
      .withColumn("popcnt",
        (bit_count(col("sig_lo")) + bit_count(col("sig_hi"))).cast("long"))
      .orderBy("vec_id")
  }

  val bqSql: String =
    s"""WITH mu AS (
       |  SELECT i, CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) s,
       |         count(*) n
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i) GROUP BY i),
       |th AS (SELECT i, s // n t FROM mu),
       |b AS (
       |  SELECT e.vec_id, CAST(e."label" AS BIGINT) AS "label", th.i,
       |         CASE WHEN CAST(round(e.embedding[th.i]::DOUBLE * 1000000) AS BIGINT) > th.t
       |              THEN 1::BIGINT ELSE 0::BIGINT END bt
       |  FROM embeddings e, th)
       |SELECT vec_id, "label",
       |       CAST(sum(CASE WHEN i <= 32 THEN bt << (i - 1) ELSE 0 END) AS BIGINT) sig_lo,
       |       CAST(sum(CASE WHEN i > 32 THEN bt << (i - 33) ELSE 0 END) AS BIGINT) sig_hi,
       |       CAST(sum(bt) AS BIGINT) popcnt
       |FROM b GROUP BY 1, 2 ORDER BY vec_id""".stripMargin

  /** Hamming-prefilter ANN — the binary arm of the index family beside
    * [[annIvf]] (flat), [[annIvfPq]] (PQ) and [[annSq]] (SQ8): every
    * vector carries an 8-byte sign-bit signature ([[graft.ops.Bq]]);
    * candidates are ranked by Hamming popcount against the query's
    * signature — a LINEAR scan, but over 8 bytes per vector, which at 10⁹
    * vectors is 8 GB of sequential reads, memory-bandwidth trivial and
    * embarrassingly partition-parallel — then the top-RERANK shortlist is
    * re-ranked with exact cosine ([[exactRerank]], the bounded refinement
    * the PQ and SQ paths share). No training beyond 65 longs, no routing to mistune:
    * the signature scan's recall is whatever the sign bits preserve,
    * measured in the recall self-check.
    *
    * Scale shape: the scan joins broadcast probes against a 3-long-wide
    * projection of the corpus (signature words only — full vectors never
    * enter the scan); the [[graft.ops.TopK]] shortlist runs as a partial
    * group-limit before the shuffle (WindowGroupLimit); the re-rank is a
    * broadcast bounded equi-join fetching ≤RERANK full vectors per query. */
  def annHamming(s: SparkSession, dir: String): DataFrame =
    annHamming(s, dir, BQ_RERANK)

  def annHamming(s: SparkSession, dir: String, RERANK: Int): DataFrame = {
    require(RERANK > 0, s"annHamming: RERANK=$RERANK — the exact refine step is the point")
    // NOT persisted (round 22, the r21 vec_dedup_removal lesson): caching
    // the array<double> projection costs more per execution than the few
    // narrow rescans of a small parquet file it saves. What IS persisted
    // is the SIGNATURE frame below — 3 longs/row, the 8-byte index a
    // production BQ deployment stores — feeding both the q join and the
    // candidate scan.
    val e = tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val th = bqThresholds(e, dir)
    val sig = graft.util.CacheBin.persist(e.select(col("vec_id"),
      graft.ops.Bq.word(col("v"), th, 0).as("lo"),
      graft.ops.Bq.word(col("v"), th, 32).as("hi")))
    // the signature scan carries (q_id, n_id, ham) ONLY — the query's full
    // vector would otherwise ride every one of the |q|·n scan rows through
    // the group-limit window (guide §2.3: shuffle keys/metadata, attach
    // payloads at the end); it is re-attached to the RERANK-bounded
    // shortlist by one tiny broadcast join below
    val q = sig.filter(col("vec_id") <= idAtRank(e, dir, 10))
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    val qv = e.filter(col("vec_id") <= idAtRank(e, dir, 10))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val c = sig.select(col("vec_id").as("n_id"), col("lo").as("nlo"),
      col("hi").as("nhi"))
    val scan = broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.ops.Bq.hamming(col("qlo"), col("qhi"), col("nlo"), col("nhi")).as("ham"))
    exactRerank(TopK.perGroup(scan, "q_id", Seq(col("ham"), col("n_id")), RERANK, "hrank")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("qv"), col("n_id")), e)
  }

  val annHammingSql: String =
    s"""WITH mu AS (
       |  SELECT i, CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) s,
       |         count(*) n
       |  FROM embeddings, (SELECT unnest(generate_series(1, $DIM)) i) GROUP BY i),
       |th AS (SELECT i, s // n t FROM mu),
       |b AS (
       |  SELECT e.vec_id, th.i,
       |         CASE WHEN CAST(round(e.embedding[th.i]::DOUBLE * 1000000) AS BIGINT) > th.t
       |              THEN 1::BIGINT ELSE 0::BIGINT END bt
       |  FROM embeddings e, th),
       |sg AS (
       |  SELECT vec_id,
       |         CAST(sum(CASE WHEN i <= 32 THEN bt << (i - 1) ELSE 0 END) AS BIGINT) lo,
       |         CAST(sum(CASE WHEN i > 32 THEN bt << (i - 33) ELSE 0 END) AS BIGINT) hi
       |  FROM b GROUP BY 1),
       |hd AS (
       |  SELECT q.vec_id q_id, n.vec_id n_id,
       |         CAST(bit_count(xor(q.lo, n.lo)) + bit_count(xor(q.hi, n.hi)) AS BIGINT) ham
       |  FROM sg q JOIN sg n ON q.vec_id <= ${idAtRankSql(10)} AND q.vec_id <> n.vec_id),
       |sh AS (SELECT q_id, n_id,
       |              row_number() OVER (PARTITION BY q_id ORDER BY ham, n_id) hrank
       |       FROM hd),
       |rrk AS (SELECT sh.q_id, sh.n_id,
       |               ${dotSql("q.embedding", "n.embedding")}
       |                 / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |                    * sqrt(${dotSql("n.embedding", "n.embedding")})) cosine
       |        FROM sh JOIN embeddings q ON q.vec_id = sh.q_id
       |                JOIN embeddings n ON n.vec_id = sh.n_id
       |        WHERE sh.hrank <= $BQ_RERANK),
       |fr AS (SELECT q_id, n_id, cosine,
       |              row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id) rank
       |       FROM rrk)
       |SELECT q_id, CAST(rank AS BIGINT) rank, n_id, cosine AS score
       |FROM fr WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the embedding space into clusters, then
    * search for near-duplicates ONLY within each cluster — the candidate
    * restriction that makes embedding dedup tractable at corpus scale
    * (within-cluster pairs, never the global O(n²) scan). Keep-smallest-id
    * inside every near-dup group; report per-cluster membership and
    * survivor stats.
    *
    * Clustering here is nearest-seed assignment against the collected
    * codebook (the K smallest-id vectors, the same codebook discipline as
    * [[annIvf]] — any trained codebook drops in; [[kmeans]] shows the refit
    * machinery). Planted exact copies (the [[dedupRemoval]] pattern — the
    * synthetic embeddings are near-orthogonal, so thresholds are vacuous
    * without planting) land in their original's cluster by construction
    * (identical vector → identical distances → identical tie-break), so the
    * within-cluster restriction must still find EVERY planted pair: a
    * cluster assignment that separated a copy from its original would
    * change the hash.
    *
    * Scale shape: assignment is a codegen'd narrow map over the broadcast
    * codebook; candidates come from ONE cluster equi-join (AQE skew-splits
    * a hot cluster); the drop set joins back as a broadcast left-anti/outer.
    * Exactly the IVF-style "route then search locally" discipline. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val K = 8; val T = 0.999
    val base = tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
    val off = plantOffset(base, dir)
    val planted = base.filter(col("vec_id") <= idAtRank(base, dir, 50))
      .select((col("vec_id") + off).as("vec_id"), col("v"))
    val seeds = graft.ops.SemDedup.seedCodebook(base, "vec_id", "v", K)
    // assigned feeds both sides of the within-cluster join AND the final
    // report — persist, or the scan + assignment replays three times
    val assigned = graft.util.CacheBin.persist(
      graft.ops.SemDedup.assign(base.unionByName(planted), "v", seeds))
    val drop = graft.ops.SemDedup.dropIds(assigned, "vec_id", "v", T)
    assigned.join(drop, col("vec_id") === col("drop_id"), "left_outer")
      .withColumn("kept", col("drop_id").isNull)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("kept"), col("vec_id"))).as("min_kept"),
        max(when(col("kept"), col("vec_id"))).as("max_kept"))
      .orderBy("cluster")
  }

  val semDedupSql: String = {
    def d2Sql(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $DIM), i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), (acc, x) -> acc + x)"
    s"""WITH c AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings), embedding
       |  FROM embeddings WHERE vec_id <= ${idAtRankSql(50)}),
       |${seedsCteSql(8)},
       |asg AS (
       |  SELECT c.vec_id, c.embedding, s.cl,
       |         row_number() OVER (PARTITION BY c.vec_id
       |                            ORDER BY ${d2Sql("c.embedding", "s.embedding")}, s.cl) rn
       |  FROM c, seeds s),
       |a AS (SELECT vec_id, embedding, cl,
       |             ${dotSql("embedding", "embedding")} n2
       |      FROM asg WHERE rn = 1),
       |drp AS (SELECT DISTINCT y.vec_id drop_id
       |        FROM a x JOIN a y ON x.cl = y.cl AND x.vec_id < y.vec_id
       |          AND ${dotSql("x.embedding", "y.embedding")} >= 0.999 * sqrt(x.n2) * sqrt(y.n2)),
       |f AS (SELECT a.cl, a.vec_id, (d.drop_id IS NULL) kept
       |      FROM a LEFT JOIN drp d ON a.vec_id = d.drop_id)
       |SELECT CAST(cl AS BIGINT) AS "cluster", CAST(count(*) AS BIGINT) n_vecs,
       |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) n_kept,
       |       min(CASE WHEN kept THEN vec_id END) min_kept,
       |       max(CASE WHEN kept THEN vec_id END) max_kept
       |FROM f GROUP BY cl ORDER BY "cluster"""".stripMargin
  }

  /** ANN index-quality self-check: recall@5 of the four approximate indexes
    * ([[annIvf]], [[annIvfPq]], [[annSq]], [[annHamming]]) against the
    * brute-force exact top-5
    * ([[annTopK]]) over the same 10 probes — the same role the sketch
    * error-bound queries play for HLL/SBF: an index-quality regression
    * (bad codebook, broken routing, ADC bug) shows up as a recall drop
    * even when each query individually still "runs". Driver-checked
    * rows-only (recall compares two approximations — there is no single
    * SQL result to hash); the pinned floor rides IN the result as
    * `meets_floor`, so a regression flips a visible column and fails
    * AnnRecallSpec. Exact integer ppm arithmetic, no float compare. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    // Floors pinned from measured recall at the round-14 operating point
    // (tools/RecallScan sweep nprobe∈{4,6,8} × kc∈{8,16}: nprobe 4→6
    // lifted ivf 70%→88% and ivfpq(kc=16, rr=100) 66%→80% at sf0.1 while
    // every vec_ann_* bench stayed under 2 s isolated; measured across
    // sf0.001/0.01/0.1 after the retune: ivf 84/80/88%, ivfpq 80/74/80%,
    // sq 84/80/88%, bq 100/96/82%), with headroom for SF-to-SF drift.
    // A routing/codebook/ADC/re-rank regression drops recall below these.
    // sq rides the same routing as ivf and re-ranks exactly, so its recall
    // tracks ivf; bq is the 8-byte Hamming prefilter with a fixed
    // 200-candidate shortlist (recall tapers with corpus size by design —
    // raise BQ_RERANK to trade scan payload for recall).
    val floors = Map("ivf" -> 700000L, "ivfpq" -> 650000L, "sq" -> 700000L,
      "bq" -> 700000L)
    val exact = graft.util.CacheBin.persist(
      annTopK(s, dir).select(col("q_id"), col("n_id")))
    def row(method: String, approx: DataFrame): DataFrame = {
      val hits = approx.select(col("q_id"), col("n_id"))
        .join(exact, Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val tot = exact.agg(count(lit(1)).as("n_exact"))
      hits.crossJoin(tot).select(lit(method).as("method"),
        col("n_exact"), col("n_hits"),
        expr("(n_hits * 1000000) div n_exact").as("recall_ppm"),
        (expr("(n_hits * 1000000) div n_exact") >= floors(method)).as("meets_floor"))
    }
    row("ivf", annIvf(s, dir))
      .unionByName(row("ivfpq", annIvfPq(s, dir)))
      .unionByName(row("sq", annSq(s, dir)))
      .unionByName(row("bq", annHamming(s, dir)))
      .orderBy("method")
  }

  /** Per-label centroids (first 8 dims): cross-row float sums go through
    * exact integer micro-units so the grouped sum is order-independent. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    microFrame(s, dir)
      .select(col("lbl").as("label"), col("pos"), col("micro"))
      .groupBy("label", "pos")
      .agg(sum("micro").as("sum_micro"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        (col("sum_micro").cast("double") / (col("n") * 1000000L).cast("double")).as("centroid"),
        col("n"))
      .orderBy("label", "pos")

  val labelCentroidsSql: String =
    """SELECT CAST("label" AS BIGINT) AS "label", CAST(i - 1 AS BIGINT) pos,
      |       CAST(CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |         / CAST(count(*) * 1000000 AS DOUBLE) centroid,
      |       count(*) n
      |FROM embeddings, (SELECT unnest(generate_series(1, 8)) i)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared oracle-exact micro-unit frame: (vec_id, label, pos, micro)
    * over the FIRST 8 of the 64 embedding dims — the cross-engine-exact
    * measurement scope both [[labelCentroids]] and [[centroidDrift]] use
    * (the DuckDB mirrors index embedding[1..8]). */
  private def microFrame(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("lbl"),
        posexplode(col("embedding")).as(Seq("pos", "e")))
      .filter(col("pos") < 8)
      .select(col("vec_id"), col("lbl"), col("pos").cast("long").as("pos"),
        round(col("e").cast("double") * 1000000).cast("long").as("micro"))

  /** Embedding-distribution drift per label: squared L2 distance between
    * the even-id and odd-id cohort centroids, entirely in micro-unit
    * integers (centroid = Σmicro div n — both engines truncate toward
    * zero, so negative sums stay engine-identical; distances then add
    * order-independently). The embedding-space twin of the event-side
    * `ev_share_drift` monitor: a training/serving or A/B skew alarm.
    * MEASUREMENT SCOPE: the first 8 of 64 dims (the shared
    * [[microFrame]] oracle-exact window) — drift confined to dims 8-63
    * is invisible here; widen the frame if the alarm must cover the full
    * embedding. One explode + one groupBy; the (label, cohort, dim)
    * frame is vocabulary-sized. */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val m = microFrame(s, dir)
      .select(col("lbl"), (col("vec_id") % 2).as("cohort"), col("pos"),
        col("micro"))
    // c backs both cohort branches of the drift join; measured (r21),
    // persisting it LOSES (isolated pair 0.58 s → 0.72 s at sf0.1 — the
    // cache materialization barrier beats the posexplode recompute, and
    // caching blocks AQE inside the subtree) — left as-is
    val c = m.groupBy("lbl", "cohort", "pos")
      .agg(expr("sum(micro) div count(1)").as("cmicro"),
        count(lit(1)).as("n"))
    val a = c.filter(col("cohort") === 0)
      .select(col("lbl"), col("pos"), col("cmicro").as("ca"), col("n").as("na"))
    val b = c.filter(col("cohort") === 1)
      .select(col("lbl").as("lb"), col("pos").as("pb"),
        col("cmicro").as("cb"), col("n").as("nb"))
    a.join(b, col("lbl") === col("lb") && col("pos") === col("pb"))
      .groupBy(col("lbl").as("label"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .as("dist2_micro2"),
        min("na").as("n_even"), min("nb").as("n_odd"))
      .orderBy("label")
  }

  val centroidDriftSql: String =
    """WITH m AS (SELECT CAST("label" AS BIGINT) lbl, vec_id % 2 cohort, i - 1 pos,
      |                  CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT) micro
      |           FROM embeddings, (SELECT unnest(generate_series(1, 8)) i)),
      |c AS (SELECT lbl, cohort, pos,
      |             CAST(sum(micro) AS BIGINT) // count(*) cmicro, count(*)::BIGINT n
      |      FROM m GROUP BY 1,2,3),
      |j AS (SELECT a.lbl, a.pos, a.cmicro ca, b.cmicro cb, a.n na, b.n nb
      |      FROM c a JOIN c b ON a.lbl = b.lbl AND a.pos = b.pos
      |      WHERE a.cohort = 0 AND b.cohort = 1)
      |SELECT lbl AS "label", CAST(sum((ca - cb)*(ca - cb)) AS BIGINT) dist2_micro2,
      |       CAST(min(na) AS BIGINT) n_even, CAST(min(nb) AS BIGINT) n_odd
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  private val MMR_POOL = 12  // per-query candidate pool (top-cosine)
  private val MMR_K = 5      // re-ranked output depth
  private val MMR_QN = 3     // probe queries (smallest vec_ids)

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * re-ranking — the retrieval POST-PROCESSING step between "top-k by
    * similarity" and "what a RAG context window actually wants": greedily
    * pick the candidate maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked, so near-duplicate hits don't crowd the result list.
    *
    * Exactness: λ = 0.7 in integer tenths — score = 7·rel_µ − 3·maxdiv_µ
    * with rel/div as micro-unit-rounded cosines (each a deterministic
    * round of the fold-dot double), ties → smallest vec_id. All selection
    * arithmetic is int64, so both engines rank identically; the DuckDB
    * oracle unrolls the K selection rounds as CTEs over the same pool.
    *
    * Scale shape: the pool build is the ANN query shape (broadcast probes,
    * per-query top-`MMR_POOL` window); the pairwise-diversity frame is
    * pool² PER QUERY — a constant (≤ q·P² rows) independent of corpus
    * size — and the greedy loop runs on that bounded frame (collected,
    * like every codebook-sized selection here). At billion-vector scale
    * nothing changes: MMR cost is a function of the POOL, not the corpus. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = graft.util.CacheBin.persist(tPar(s, dir, "embeddings")
      .select(col("vec_id"), vecD(col("embedding")).as("v"))
      .withColumn("n2", dot(col("v"), col("v"))))
    val probes = e.filter(col("vec_id") <= idAtRank(e, dir, MMR_QN))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn"))
    val pool = graft.util.CacheBin.persist(
      TopK.perGroup(e.crossJoin(broadcast(probes))
          .withColumn("cosine",
            dot(col("qv"), col("v")) / (sqrt(col("qn")) * sqrt(col("n2"))))
          .withColumn("rel_micro", round(col("cosine") * 1000000).cast("long")),
        "q_id", Seq(col("cosine").desc, col("vec_id")), MMR_POOL, "rk")
        .select(col("q_id"), col("vec_id"), col("v"), col("n2"),
          col("rel_micro")))
    val a = pool.select(col("q_id"), col("vec_id").as("ida"), col("v").as("va"),
      col("n2").as("na"))
    val b = pool.select(col("q_id").as("qb"), col("vec_id").as("idb"),
      col("v").as("vb"), col("n2").as("nb"))
    val pairRows = a.join(b, col("q_id") === col("qb") && col("ida") =!= col("idb"))
      .select(col("q_id"), col("ida"), col("idb"),
        round(dot(col("va"), col("vb")) /
          (sqrt(col("na")) * sqrt(col("nb"))) * 1000000).cast("long")
          .as("div_micro"))
      .collect()
    val rels = pool.select("q_id", "vec_id", "rel_micro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val divs = pairRows.map(r =>
      ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    val out = rels.groupBy(_._1).toSeq.flatMap { case (q, cands0) =>
      var cands = cands0.map { case (_, id, rel) => (id, rel) }.toVector
      var selected = Vector.empty[(Long, Long, Long, Long, Long)]
      for (r <- 1 to math.min(MMR_K, cands.length)) {
        val scored = cands.map { case (id, rel) =>
          // true max over the selected set (can be negative, matching the
          // oracle's greatest() over raw div_micro); 0 only when empty so
          // round 1 scores 7·rel exactly like the SQL s1 CTE
          val pen =
            if (selected.isEmpty) 0L
            else selected.map(sel => divs((q, id, sel._3))).max
          (id, rel, 7L * rel - 3L * pen)
        }
        val (id, rel, sc) = scored.minBy { case (i, _, s) => (-s, i) }
        selected :+= ((q, r.toLong, id, rel, sc))
        cands = cands.filterNot(_._1 == id)
      }
      selected
    }
    import s.implicits._
    out.sortBy(t => (t._1, t._2))
      .toDF("q_id", "rank", "vec_id", "rel_micro", "mmr_score")
  }

  val mmrRerankSql: String = {
    val cosSql = s"${dotSql("q.qe", "c.embedding")} / (sqrt(q.qn) * sqrt(c.n2))"
    val rounds = (2 to MMR_K).map { r =>
      s""",
         |p$r AS (SELECT p.q_id, p.vec_id, p.rel_micro,
         |               7 * p.rel_micro - 3 * greatest(${(1 until r).map(i =>
                           s"(SELECT d.div_micro FROM dv d, s$i WHERE d.q_id = p.q_id AND d.ida = p.vec_id AND d.idb = s$i.vec_id AND s$i.q_id = p.q_id)").mkString(", ")}) sc
         |        FROM pool p
         |        WHERE NOT EXISTS (SELECT 1 FROM (${(1 until r).map(i =>
                    s"SELECT q_id, vec_id FROM s$i").mkString(" UNION ALL ")}) s
         |                          WHERE s.q_id = p.q_id AND s.vec_id = p.vec_id)),
         |s$r AS (SELECT q_id, vec_id, rel_micro, sc FROM (
         |          SELECT *, row_number() OVER (PARTITION BY q_id
         |                      ORDER BY sc DESC, vec_id) rn FROM p$r)
         |        WHERE rn = 1)""".stripMargin
    }.mkString
    s"""WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2
       |           FROM embeddings),
       |q AS (SELECT vec_id q_id, embedding qe, n2 qn FROM e
       |      WHERE vec_id <= ${idAtRankSql(MMR_QN)}),
       |pool AS (SELECT q_id, vec_id, rel_micro FROM (
       |    SELECT q.q_id, c.vec_id,
       |           CAST(round(($cosSql) * 1000000) AS BIGINT) rel_micro,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY $cosSql DESC, c.vec_id) rk
       |    FROM q, e c) WHERE rk <= $MMR_POOL),
       |dv AS (SELECT a.q_id, a.vec_id ida, b.vec_id idb,
       |              CAST(round((${dotSql("ea.embedding", "eb.embedding")}
       |                / (sqrt(ea.n2) * sqrt(eb.n2))) * 1000000) AS BIGINT) div_micro
       |       FROM pool a JOIN pool b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
       |       JOIN e ea ON ea.vec_id = a.vec_id
       |       JOIN e eb ON eb.vec_id = b.vec_id),
       |s1 AS (SELECT q_id, vec_id, rel_micro, 7 * rel_micro sc FROM (
       |         SELECT *, row_number() OVER (PARTITION BY q_id
       |                     ORDER BY rel_micro DESC, vec_id) rn FROM pool)
       |       WHERE rn = 1)$rounds
       |SELECT q_id, rr rank, vec_id, rel_micro, sc mmr_score FROM (
       |  ${(1 to MMR_K).map(r =>
            s"SELECT q_id, ${r}::BIGINT rr, vec_id, rel_micro, sc FROM s$r")
            .mkString("\n  UNION ALL ")})
       |ORDER BY q_id, rank""".stripMargin
  }

  private val KC_K = 8

  /** Greedy k-CENTER (farthest-point-first) DIVERSITY SAMPLE — the coreset /
    * training-data-selection primitive (Gonzalez 1985's 2-approximation;
    * the "k-center greedy" of active-learning and data-pruning pipelines):
    * start from the smallest-id vector, then `KC_K - 1` times pick the point
    * FARTHEST from the selected set (max over points of min-distance to
    * centers, ties → smallest vec_id), emitting each pick's coverage radius.
    *
    * Exactness: distances are integer micro-unit squared L2 (each float
    * element → round(x·10⁶) as a long; diffs/squares/sums all exact int64 —
    * max |coord diff| ~4·10⁶ squared ×64 dims ≈ 10¹⁵ < 2⁶³), so both
    * engines rank identically with NO float comparisons anywhere. The
    * DuckDB oracle unrolls the same 8 rounds as CTEs (the PageRank
    * pattern) and hash-matches bit-for-bit.
    *
    * Scale shape: k is a bounded constant (a sample of size k is the
    * OUTPUT), so this is the canonical codebook driver-loop — each round is
    * one distributed narrow map (min of the running `mind` and the distance
    * to a LITERAL center, no join, no shuffle) plus a top-1 reduction
    * (`orderBy.limit(1)` = per-partition top-1 then a k-way driver merge,
    * never a global sort). Total cost k linear passes over a persisted
    * micro-unit projection; at 100 TB with large k you'd switch to the
    * batched variant (pick p centers per round from the per-partition
    * top-p) — same plan shape, k/p rounds. */
  def kcenterSample(s: SparkSession, dir: String): DataFrame = {
    val proj = tPar(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 1000000).cast("long")).as("vm"))
    // The memoized row count (free after any query's first count of the
    // tier) settles above-gate tiers without the gate's probe, which would
    // ship ~35 MB of rows to the driver only to discard them (ADVICE r21).
    if (LocalOrDistributed.forced || Q.tableCount(s, dir, "embeddings") > KC_LOCAL_MAX)
      kcenterDistributed(s, proj)
    else
      LocalOrDistributed(proj, KC_LOCAL_MAX)(kcenterLocal(s, _))(kcenterDistributed(s, proj))
  }

  /** Rows at or under which the micro-unit projection collects to the
    * driver and the k greedy rounds run locally: each distributed round is
    * a full orderBy-top-1 job whose plan GROWS a nested `least(d2...)`
    * chain (a fresh codegen compile per round) — at bench scale 9
    * scheduler round-trips move microseconds of integer arithmetic. 2^16
    * rows × (64 longs + id) ≈ 35 MB collected — comfortably
    * driver-bounded; a 100× tier's 500 k rows takes the distributed loop.
    * Both paths are the same exact int64 arithmetic (greedy max-min, ties
    * → smallest vec_id) — RetrievalGraphSpec pins them row-identical. */
  private val KC_LOCAL_MAX = 1 << 16

  private def kcenterLocal(s: SparkSession, took: Array[Row]): DataFrame = {
    require(took.nonEmpty, "vec_kcenter: empty embeddings table")
    val ids = took.map(_.getLong(0))
    val vms = took.map(_.getSeq[Long](1).toArray)
    val n = ids.length
    def d2At(i: Int, c: Array[Long]): Long = {
      val v = vms(i); var acc = 0L; var d = 0
      while (d < v.length) { val x = v(d) - c(d); acc += x * x; d += 1 }
      acc
    }
    // first center = smallest vec_id; then k-1 farthest-point rounds
    var firstIdx = 0
    var i = 1
    while (i < n) { if (ids(i) < ids(firstIdx)) firstIdx = i; i += 1 }
    var selected = Vector((ids(firstIdx), 0L))
    var center = vms(firstIdx)
    val mind = Array.tabulate(n)(j => d2At(j, center))
    for (_ <- 1 until KC_K) {
      var best = 0
      var j = 1
      while (j < n) {
        // max mind, ties -> smallest vec_id (the orderBy(mind desc, id))
        if (mind(j) > mind(best) ||
            (mind(j) == mind(best) && ids(j) < ids(best))) best = j
        j += 1
      }
      require(mind(best) > 0L,
        s"vec_kcenter: fewer than $KC_K distinct vectors — selection would repeat")
      selected :+= ((ids(best), mind(best)))
      center = vms(best)
      j = 0
      while (j < n) {
        val d = d2At(j, center)
        if (d < mind(j)) mind(j) = d
        j += 1
      }
    }
    kcenterFrame(s, selected)
  }

  private def kcenterDistributed(s: SparkSession, proj: DataFrame): DataFrame = {
    val base = graft.util.CacheBin.persist(proj)
    def d2(v: Column, c: Seq[Long]): Column =
      aggregate(zip_with(v, typedlit(c), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x)
    val first = base.orderBy("vec_id").limit(1).collect()
    require(first.nonEmpty, "vec_kcenter: empty embeddings table")
    var selected = Vector((first(0).getLong(0), 0L))
    var centerVm = first(0).getSeq[Long](1)
    var cur = base.withColumn("mind", d2(col("vm"), centerVm))
    for (_ <- 1 until KC_K) {
      val row = cur.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()(0)
      require(row.getLong(2) > 0L,
        s"vec_kcenter: fewer than $KC_K distinct vectors — selection would repeat")
      selected :+= ((row.getLong(0), row.getLong(2)))
      centerVm = row.getSeq[Long](1)
      cur = cur.withColumn("mind", least(col("mind"), d2(col("vm"), centerVm)))
    }
    kcenterFrame(s, selected)
  }

  /** The picks in selection order as (rank, vec_id, mind). */
  private def kcenterFrame(s: SparkSession, selected: Seq[(Long, Long)]): DataFrame = {
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, mind), r) => (r.toLong, id, mind) }
      .toDF("rank", "vec_id", "mind")
      .orderBy("rank")
  }

  val kcenterSampleSql: String = {
    def d2Sql(a: String, b: String): String =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, $DIM), i -> ($a[i]-$b[i])*($a[i]-$b[i]))), (acc, x) -> acc + x)"
    val pre =
      """WITH v AS (SELECT vec_id, list_transform(embedding,
        |                    x -> CAST(round(x::DOUBLE * 1000000) AS BIGINT)) vm
        |           FROM embeddings),
        |c0 AS (SELECT vec_id, vm, 0::BIGINT mind FROM v ORDER BY vec_id LIMIT 1),
        |d0 AS (SELECT v.vec_id, v.vm, """.stripMargin +
        d2Sql("v.vm", "c.vm") + " mind FROM v, c0 c)"
    val rounds = (1 until KC_K).map { r =>
      s""",
         |c$r AS (SELECT vec_id, vm, mind FROM d${r - 1}
         |        ORDER BY mind DESC, vec_id LIMIT 1),
         |d$r AS (SELECT d.vec_id, d.vm,
         |               least(d.mind, ${d2Sql("d.vm", "c.vm")}) mind
         |        FROM d${r - 1} d, c$r c)""".stripMargin
    }.mkString
    val sel = (0 until KC_K).map { r =>
      s"SELECT ${r}::BIGINT rank, vec_id, mind FROM c$r"
    }.mkString("\n", "\nUNION ALL ", "\nORDER BY rank")
    pre + rounds + sel
  }

  val queries: Map[String, QueryFn] = Map(
    "vec_mmr" -> (mmrRerank _),
    "vec_hard_negatives" -> (hardNegatives _),
    "vec_kcenter" -> (kcenterSample _),
    "vec_centroid_drift" -> (centroidDrift _),
    "vec_norms" -> (vecNorms _),
    "vec_cosine_pairs" -> (cosinePairs _),
    "vec_ann_topk" -> (annTopK _),
    "vec_ann_lsh" -> (annLsh _),
    "vec_ann_ivf" -> (annIvf _),
    "vec_kmeans" -> (kmeans _),
    "vec_pq_codes" -> (pqCodes _),
    "vec_label_centroids" -> (labelCentroids _),
    "vec_dedup_removal" -> (dedupRemoval _),
    "vec_sem_dedup" -> (semDedup _),
    "vec_ann_ivfpq" -> (annIvfPq _),
    "vec_sq8" -> (sq8 _),
    "vec_ann_sq" -> (annSq _),
    "vec_bq" -> (bq _),
    "vec_ann_hamming" -> (annHamming _),
    "vec_ann_recall" -> (annRecall _),
    "vec_knn_graph" -> (knnGraph _),
  )

  val oracle: Map[String, String] = Map(
    "vec_mmr" -> mmrRerankSql,
    "vec_hard_negatives" -> hardNegativesSql,
    "vec_kcenter" -> kcenterSampleSql,
    "vec_centroid_drift" -> centroidDriftSql,
    "vec_norms" -> vecNormsSql,
    "vec_cosine_pairs" -> cosinePairsSql,
    "vec_ann_topk" -> annTopKSql,
    "vec_ann_lsh" -> annLshSql,
    "vec_ann_ivf" -> annIvfSql,
    "vec_kmeans" -> kmeansSql,
    "vec_pq_codes" -> pqCodesSql,
    "vec_label_centroids" -> labelCentroidsSql,
    "vec_dedup_removal" -> dedupRemovalSql,
    "vec_sem_dedup" -> semDedupSql,
    "vec_ann_ivfpq" -> annIvfPqSql,
    "vec_sq8" -> sq8Sql,
    "vec_ann_sq" -> annSqSql,
    "vec_bq" -> bqSql,
    "vec_ann_hamming" -> annHammingSql,
    "vec_knn_graph" -> knnGraphSql,
  )
}
