package graft.queries

import graft.SparkSpec

/** Physical-plan assertions for the 100 TB design goals: predicate pushdown
  * and column pruning reach the parquet scan, small dimensions broadcast,
  * aggregation is partial (map-side combine), hot paths stay inside
  * whole-stage codegen, and the near-dup/ANN scale paths never degenerate
  * into cartesian products.
  */
class GraftPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  behavior of "scan pushdown and pruning"

  it should "push the shipdate predicate into the parquet scan (Q6 shape)" in {
    val plan = planOf(CoreQueries.selectiveRevenue(spark, dir))
    plan should include("PushedFilters: [")
    plan should include("l_shipdate") // predicate reached the scan
  }

  it should "prune columns to the projection (no full-width scan)" in {
    val plan = planOf(CoreQueries.selectiveRevenue(spark, dir))
    // ReadSchema must not include unused wide columns
    plan should include("ReadSchema")
    plan should not include "l_partkey"
    plan should not include "l_returnflag"
  }

  behavior of "join strategies"

  it should "broadcast the dimension tables in the star join" in {
    val plan = planOf(CoreQueries.regionRevenue(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  behavior of "aggregation"

  it should "use partial (map-side) aggregation for the agg family" in {
    val plan = planOf(CoreQueries.pricingSummary(spark, dir))
    // two HashAggregate nodes = partial + final (codegen participation is
    // asserted in NativeExpressionsSpec; AQE's non-final plan string hides
    // the *(n) markers here)
    "HashAggregate".r.findAllIn(plan).length should be >= 2
  }

  behavior of "vocabulary-sized broadcast gates (round 20)"

  it should "shuffle the df table above the vocab gate, bit-identically to the broadcast path" in {
    // Heaps' law makes the per-term df table corpus-growing; above the
    // gate tfidf must fall back to a term-shuffled join with unchanged
    // output (the splitClusters gate discipline); auto-broadcast is off so
    // the plan shows the gate's choice alone
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      graft.SparkSpec.pathsAgree(CorpusQueries.tfidf(spark, dir)) should not be empty
      graft.ops.LocalOrDistributed.forceDistributed(graft.util.CacheBin.withScope {
        planOf(CorpusQueries.tfidf(spark, dir))
      })
    } finally spark.conf.set(key, saved)
    plan should include("SortMergeJoin")
  }

  behavior of "near-dup / ANN scale paths"

  it should "generate MinHash candidates via an equi-join, not a cross join" in {
    val plan = planOf(TextQueries.minhashPairs(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "bucket the LSH ANN search through an equi-join" in {
    val plan = planOf(VectorQueries.annLsh(spark, dir))
    plan should not include "CartesianProduct"
  }

  it should "probe IVF cells through an equi-join on cell id" in {
    // the only nested-loop allowed is the deliberate 10-row centroid
    // broadcast for assignment; the candidate search itself is an equi-join
    val plan = planOf(VectorQueries.annIvf(spark, dir))
    plan should not include "CartesianProduct"
  }

  it should "generate n-gram LSH candidates via an equi-join, not a cross join" in {
    val plan = planOf(TextQueries.ngramLsh(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "band SimHash near-dup pairs through an equi-join, not a cross join" in {
    // cluster-level query: value dedup groupBy, then chunk equi-join —
    // never a cartesian anywhere in the plan
    val plan = planOf(TextQueries.simhashLsh(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the operator itself (fingerprints given) is pure equi-join
    val sh = spark.range(0, 256)
      .selectExpr("id AS doc_id", "(id * 1234567) % 4611686018427387904 AS simhash")
    val opPlan = planOf(graft.ops.NearDup.hammingPairs(sh, "doc_id", "simhash",
      totalBits = 60, bands = 4, maxHamming = 3))
    opPlan should not include "CartesianProduct"
    opPlan should not include "BroadcastNestedLoopJoin"
  }

  it should "generate exact-similarity-join candidates via a prefix-token equi-join" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = TextQueries.ssjoin(spark, dir)
      q.count() // AQE final plan
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "build the kNN graph through banded equi-joins, never a cross product" in {
    val plan = planOf(VectorQueries.knnGraph(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "generate ER candidates via the segment equi-join, never all-pairs" in {
    val plan = planOf(JoinQueries.erBlocked(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "enumerate triangles via two edge equi-joins, never a cross product" in {
    // the scalar-totals attach is the repo's deliberate 1-row broadcast
    // crossJoin (BNLJ with a single-row build) — only a true cartesian
    // between data-sized frames is forbidden, and both triangle-closing
    // joins must be hash/sort-merge equi-joins
    val plan = planOf(GraphQueries.triangles(spark, dir))
    plan should not include "CartesianProduct"
    "SortMergeJoin|BroadcastHashJoin".r.findAllIn(plan).length should be >= 2
  }

  it should "fuse hybrid search via postings equi-joins, never a corpus scan per query" in {
    // scalar totals + the q-probe fan-out are bounded-build broadcast
    // joins by construction; the postings join and the fusion join must
    // be equi-joins and no data-sized cartesian may appear
    val plan = planOf(graft.util.CacheBin.withScope {
      TextQueries.hybridSearch(spark, dir)
    })
    plan should not include "CartesianProduct"
    "SortMergeJoin|BroadcastHashJoin".r.findAllIn(plan).length should be >= 2
  }

  it should "keep incremental dedup broadcast-driven from the batch side" in {
    graft.functions.GraftFunctions.register(spark)
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = TextQueries.incrDedup(spark, dir)
      q.count() // AQE final plan
      q
    })
    plan should not include "CartesianProduct"
    // round-19 topology: marks/probe-bands/cand/near all broadcast; the
    // only shuffled join is the candidate-sized xa⋈xb verify join — the
    // corpus-sized frames (bands, hs) must never be on a shuffle side
    "BroadcastHashJoin|BroadcastNestedLoopJoin".r.findAllIn(plan).length should be >= 4
    "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length should be <= 1
  }

  it should "keep the split assignment a narrow map until its rollup groupBy" in {
    val plan = planOf(PipelineQueries.splitAssign(spark, dir))
    // exactly the rollup's exchange plus the final orderBy's range exchange
    // — the md5-bucket assignment itself must not shuffle
    "Exchange".r.findAllIn(plan).length should be <= 3
    plan should not include "CartesianProduct"
  }

  it should "route IVF-PQ candidates through the broadcast cell equi-join" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = VectorQueries.annIvfPq(spark, dir)
      q.count() // materialize so the AQE final plan reflects the join choice
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // two broadcast hash joins: probes broadcast into cells, AND the ADC
    // shortlist broadcast into the exact-vector re-rank (IVFADC+R) — the
    // re-rank must never sort-merge-shuffle the full vector table
    "BroadcastHashJoin".r.findAllIn(plan).length should be >= 2
  }

  it should "route IVF-SQ8 candidates through broadcast equi-joins like the PQ path" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = VectorQueries.annSq(spark, dir)
      q.count() // materialize so the AQE final plan reflects the join choice
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // probes broadcast into the cell equi-join AND the dequantized-score
    // shortlist broadcast into the exact re-rank — same discipline as ivfpq
    "BroadcastHashJoin".r.findAllIn(plan).length should be >= 2
  }

  it should "run the Hamming ANN as a broadcast signature scan + broadcast re-rank" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = VectorQueries.annHamming(spark, dir)
      q.count()
      q
    })
    // the signature scan is DELIBERATELY a broadcast nested-loop: 10 probes
    // against a 3-long-wide signature projection — that linear scan IS the
    // operator (8 bytes/vector at scale). What must never appear is an
    // un-broadcast cartesian, and the exact re-rank must stay a broadcast
    // bounded equi-join like the PQ/SQ paths.
    plan should not include "CartesianProduct"
    "BroadcastHashJoin".r.findAllIn(plan).length should be >= 1
  }

  it should "compute the z-order layout report as narrow map + one partial agg" in {
    val plan = planOf(PipelineQueries.zorderLayout(spark, dir))
    // the Morton interleave must stay a projection (no join, no UDF), and
    // the per-cell report must partially aggregate before its one shuffle
    plan should not include "Join"
    plan should not include "BatchEvalPython"
    plan should include("partial_count")
  }

  it should "bound the skew-audit top-k with TakeOrdered, never a full sort" in {
    val plan = planOf(PipelineQueries.skewAudit(spark, dir))
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    // totals arrive via a broadcast single-row join, not a shuffle join
    "BroadcastNestedLoopJoin".r.findAllIn(plan).length should be <= 1
    "SortMergeJoin".r.findAllIn(plan).length shouldBe 0
  }

  it should "restrict semantic dedup to within-cluster equi-join candidates" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = VectorQueries.semDedup(spark, dir)
      q.count() // materialize so the AQE final plan reflects the join choice
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("graft_nearest_codes") // codegen'd narrow assignment
  }

  it should "rewrite spans via equi-joins and keep reconstruction narrow" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = TextQueries.spanDedup(spark, dir)
      q.count() // materialize so the AQE final plan reflects the join choice
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the kept-text rebuild is an array filter expression, never a
    // token-level explode + join-back (no second posexplode in the plan)
    "PosExplode|posexplode".r.findAllIn(plan).length should be <= 2
  }

  it should "rewrite byte spans with one rolling-hash explode and no cartesian" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = TextQueries.spanBytes(spark, dir)
      q.count()
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // all window hashes come from ONE native rolling-hash expression —
    // a single posexplode, never a per-window substring materialization
    plan should include("graft_char_window_hashes")
    "PosExplode|posexplode".r.findAllIn(plan).length should be <= 2
  }

  it should "score the linear quality model with zero shuffles up to the top-k" in {
    val plan = planOf(TextQueries.qualityModel(spark, dir))
    // scan → narrow fold → TakeOrderedAndProject: the model is a literal,
    // so there is no join, no aggregation exchange, no window
    plan should not include "Join"
    plan should not include "Window"
    plan should include("TakeOrderedAndProject")
  }

  it should "pick cluster representatives without a cartesian anywhere" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = TextQueries.clusterBest(spark, dir)
      q.count()
      q
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "broadcast the eval-set shingles in decontamination" in {
    val plan = planOf(graft.util.CacheBin.withScope {
      val q = CorpusQueries.decontam(spark, dir)
      q.count() // materialize so the AQE final plan reflects the join choice
      q
    })
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "assign k-means clusters as a narrow map (no per-vector join)" in {
    val q = VectorQueries.kmeans(spark, dir)
    val plan = planOf(q)
    // assignment is a closure over the collected codebook: the final plan
    // has exactly the output aggregation — no join, no window, no cross
    plan should not include "Join"
    plan should not include "Window"
    "HashAggregate".r.findAllIn(plan).length should be >= 2 // partial+final
  }

  it should "keep the repetition signals shuffle-free up to the output sort" in {
    val plan = planOf(CorpusQueries.repetition(spark, dir))
    // narrow map over the (locally repartitioned) scan: the only exchanges
    // are tPar's fan-out and the final orderBy range partitioning
    plan should not include "Join"
    plan should not include "HashAggregate"
    plan should include("graft_max_run") // native expression in the plan
  }

  behavior of "scan parallelism gating (tPar)"

  it should "not insert an exchange over an already-parallel multi-file scan" in {
    val tmp = graft.SparkSpec.tempDir("graft_tpar")
    spark.range(0, 100000).toDF("x").repartition(8)
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val df = Q.tPar(spark, tmp, "t")
    df.rdd.getNumPartitions should be >= spark.sparkContext.defaultParallelism
    planOf(df) should not include "Exchange"
  }

  it should "repartition a single-split scan up to full parallelism" in {
    val tmp = graft.SparkSpec.tempDir("graft_tpar1")
    spark.range(0, 1000).coalesce(1).toDF("x")
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    val df = Q.tPar(spark, tmp, "t")
    planOf(df) should include("Exchange") // explicit round-robin fan-out
  }

  it should "bucket embedding dedup candidates through an equi-join" in {
    val e = Q.t(spark, dir, "embeddings")
    val plan = planOf(graft.util.CacheBin.withScope {
      graft.ops.VecDedup.dropped(e, "vec_id", "embedding", 64, 0.999)
    })
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "run each connected-components round as equi-join + partial agg" in {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    graft.util.CacheBin.withScope {
      val comp = graft.ops.DupGroups.connectedComponents(edges, "a", "b")
      val plan = planOf(comp)
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    }
  }

  it should "run the as-of join as one windowed pass, not a range join" in {
    val plan = planOf(JoinQueries.asofControl(spark, dir))
    plan should include("Window ")
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  behavior of "product analytics"

  it should "chain the funnel steps through keyed equi-joins, no cartesian" in {
    val plan = planOf(EventAnalytics.funnel(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "broadcast the 5-row stats frame in anomaly flagging" in {
    val plan = planOf(EventAnalytics.anomalyZscore(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin" // the event stream is never shuffled for the join
  }

  it should "reuse one user_id exchange across both SCD2 window passes" in {
    val plan = planOf(EventAnalytics.scd2History(spark, dir))
    // two logical sorts (run detection + validity chaining) but EVERY
    // hash partitioning is on user_id — a regression adding a shuffle on
    // any other key (e.g. run_no) fails the equality below
    val all = "hashpartitioning\\(".r.findAllIn(plan).length
    val onUser = "hashpartitioning\\(user_id".r.findAllIn(plan).length
    all should be >= 1
    all shouldBe onUser
    plan should not include "CartesianProduct"
  }

  it should "broadcast geography dims in the Q8 market-share join tree" in {
    val plan = planOf(CoreQueries.marketShare(spark, dir))
    "BroadcastHashJoin".r.findAllIn(plan).length should be >= 3
    plan should not include "CartesianProduct"
  }

  it should "decorrelate Q17 into a broadcast brand filter + keyed agg join" in {
    val plan = planOf(CoreQueries.smallQtyRevenue(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  it should "decorrelate scalar subqueries to aggregates and EXISTS to semi/anti joins" in {
    val plan = planOf(CoreQueries2.subqueries(spark, dir))
    // EXISTS → LeftSemi, NOT EXISTS → LeftAnti, no nested-loop fallback
    plan.toLowerCase should include("semi")
    plan.toLowerCase should include("anti")
    plan should not include "CartesianProduct"
  }

  it should "rank power users on the keys-sized frame with a broadcast total" in {
    val plan = planOf(EventAnalytics.powerUsers(spark, dir))
    plan should include("BroadcastNestedLoopJoin") // the deliberate 1-row total
    "hashpartitioning\\(user_id".r.findAllIn(plan).length should be >= 1
  }

  it should "score RFM quintiles with no window operator and no join at all (r18/r20)" in {
    // the quintile positions come from ONE unpivoted Packing.globalRank
    // pass (range shuffle + broadcast offsets + narrow local index) and
    // the score from a closed-form (position, n) expression with n a
    // driver-side literal out of the rank pass — the executed plan must
    // carry ZERO Window nodes (the old form's three empty-partition ntile
    // windows were the repo's last single-partition sort) and, since
    // round 20, no 1-row crossJoin either (the total folds into the plan
    // as a literal)
    val plan = planOf(EventAnalytics.rfm(spark, dir))
    plan should not include "Window"
    plan should not include "Join" // n is a literal; nothing left to join
  }

  it should "route the hybrid dense ranker through the IVF cell equi-join (r18)" in {
    val plan = planOf(TextQueries.hybridSearch(spark, dir))
    // dense candidates come from the broadcast probe ⋈ cell equi-join —
    // never a per-probe corpus scan (the old form's constant-key
    // nested-loop fan-out is gone)
    plan should not include "CartesianProduct"
    plan should include("BroadcastHashJoin")
    plan should include("graft_nearest_codes")
  }

  it should "score DSIR importance via a broadcast weight join (r18)" in {
    val plan = planOf(CorpusQueries.dsirWeights(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    // the selection is a distributed top-k, not a global sort
    plan should include("TakeOrderedAndProject")
  }

  it should "mine hard negatives through the IVF cell equi-join (r18)" in {
    val plan = planOf(VectorQueries.hardNegatives(spark, dir))
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
    plan should include("graft_nearest_codes")
  }

  it should "compute centroid drift with equi-joins only" in {
    val plan = planOf(VectorQueries.centroidDrift(spark, dir))
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  it should "push the per-group top-N rank filter into a group limit" in {
    val plan = planOf(CoreQueries2.topPerGroup(spark, dir))
    // rank<=N must become a per-partition WindowGroupLimit (top-N sort),
    // never a full per-group sort followed by a filter
    plan should include("WindowGroupLimit")
    plan should not include "CartesianProduct"
  }

  it should "probe the CMS as a broadcast literal (no second shuffle)" in {
    val plan = planOf(SketchQueries.cmsUsers(spark, dir))
    // estimate columns are pure projections over the groupBy output:
    // exactly one exchange (the exact-count groupBy), no join at all
    "Exchange hashpartitioning".r.findAllIn(plan).length shouldBe 1
    plan should not include "Join"
  }
}
