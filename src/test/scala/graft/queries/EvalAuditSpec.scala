package graft.queries

import graft.SparkSpec

/** Differential + invariant + plan specs for the round-19 eval/audit pair:
  * pipe_split_leakage (cross-split near-dup leakage audit) and
  * text_retrieval_eval (BM25 partner-retrieval quality by similarity
  * decile). The differential tests re-derive the expected results in PLAIN
  * SCALA — split assignment from java MessageDigest MD5, BM25 from a
  * from-scratch tokenize/tf/df/rank evaluation over the raw parquet — so a
  * bug in the distributed formulation cannot hide in its own oracle mirror.
  * The only Spark machinery reused as input is the minhash candidate-pair
  * frame, which is itself independently DuckDB-oracle-proven
  * (text_minhash_pairs).
  */
class EvalAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
    graft.util.CacheBin.withScope { df.collect() }

  // ---- plain-Scala mirrors ----

  /** Mirror of graft.ops.SplitAssign.assign with Default905 bounds:
    * md5(id-as-string) → first-4-hex-chars bucket → 90/5/5 thresholds. */
  private def splitOf(id: Long): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
    val bucket = ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
    if (bucket < 58982) "train" else if (bucket < 62259) "val" else "test"
  }

  /** Mirror of graft_words: runs of [a-z0-9] on the lowercased text, in
    * order with duplicates; token-free input yields [""]. */
  private def words(text: String): Seq[String] = {
    val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    if (toks.isEmpty) Seq("") else toks
  }

  /** The proven candidate-pair ground truth (doc_a, doc_b, inter, union). */
  private lazy val pairs: Vector[(Long, Long, Long, Long)] =
    rows(TextQueries.minhashPairs(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toVector

  behavior of "pipe_split_leakage"

  it should "equal a plain-Scala MD5-split regrouping of the proven pair frame" in {
    val near = pairs.filter { case (_, _, i, u) => i * 10 >= u * 7 }
    near should not be empty
    val expected = near
      .map { case (a, b, i, u) =>
        val (sa, sb) = (splitOf(a), splitOf(b))
        ((if (sa <= sb) sa else sb, if (sa <= sb) sb else sa), (i, u))
      }
      .groupBy(_._1).view
      .map { case ((sa, sb), g) =>
        (sa, sb, g.size.toLong, g.map(_._2._1).sum, g.map(_._2._2).sum,
          sa != sb)
      }
      .toVector.sortBy(t => (t._1, t._2))
    val got = rows(PipelineQueries.splitLeakage(spark, dir))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toVector
    got shouldBe expected
  }

  it should "add ZERO joins over the bare pair generation (split is a pure key function)" in {
    // logical-plan join counts (cache-substitution-stable): the audit must
    // not join back to the corpus for the split labels — they are narrow
    // expressions of the pair's own id columns
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    // scoped: pairsWithJaccard registers its persisted frames into the
    // active CacheBin scope — without one they'd land in the session-global
    // bin and pin block-manager storage for the rest of the test JVM
    // (round 20, ADVICE r19)
    graft.util.CacheBin.withScope {
      val base = graft.ops.NearDup.pairsWithJaccard(
        Q.tPar(spark, dir, "documents"), "doc_id", "text",
        TextQueries.minhashParams)
      joins(PipelineQueries.splitLeakage(spark, dir)) shouldBe joins(base)
    }
  }

  it should "leave the memoized pair artifact PERSISTED after a scoped consumer releases" in {
    // regression for the round-19 lifecycle bug (ADVICE r19): the builder
    // used to return a frame registered in the building query's CacheBin
    // scope, so the first consumer's release unpersisted the artifact and
    // every later memo hit recomputed the full MinHash-LSH pipeline. The
    // memo contract is a SELF-CONTAINED persisted frame: after a scoped
    // consumer runs (Bench/Verify wrap every query in withScope), the hit
    // must still carry its storage level.
    graft.util.Memo.invalidate(spark)
    graft.util.CacheBin.withScope {
      PipelineQueries.splitLeakage(spark, dir).count()
    }
    val art = TextQueries.nearDupPairs(spark, dir)
    art.storageLevel should not be org.apache.spark.storage.StorageLevel.NONE
    graft.util.Memo.invalidate(spark)
  }

  behavior of "pipe_split_clusters"

  /** Plain-Scala union-find over the proven pair frame at the audit
    * threshold — component canonical = min member id. */
  private def components(near: Vector[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    near.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    near.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  it should "equal a plain-Scala union-find + MD5-split rollup" in {
    val near = pairs.filter { case (_, _, i, u) => i * 10 >= u * 7 }
      .map(p => (p._1, p._2))
    val comp = components(near)
    val docRows = rows(spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars"))
      .map(r => (r.getLong(0), r.getLong(1))).toVector
    val expected = docRows
      .map { case (id, nc) =>
        val c = comp.get(id)
        (splitOf(c.getOrElse(id)), c, nc)
      }
      .groupBy(_._1).view.map { case (split, g) =>
        (split, g.size.toLong, g.count(_._2.isDefined).toLong,
          g.flatMap(_._2).distinct.size.toLong, g.map(_._3).sum)
      }.toVector.sortBy(_._1)
    val got = rows(PipelineQueries.splitClusters(spark, dir))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toVector
    got shouldBe expected
    got.map(_._2).sum shouldBe docRows.size.toLong // every doc assigned
  }

  it should "broadcast the component table into the corpus pass (never shuffle the corpus)" in {
    val plan = PipelineQueries.splitClusters(spark, dir)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  it should "fall back to a shuffled join above the broadcast gate, bit-identically" in {
    // the size gate (round 20, VERDICT r19 #1): at crawl-typical dup rates
    // the component table is corpus-order and a forced broadcast dies at
    // the 8 GB cap — the forced-distributed path takes the sort-merge
    // join, which must produce the exact same rollup AND a plan with no broadcast of
    // the members frame (the one remaining broadcast is allowed to be the
    // ≤125-row grid/totals side, so assert on the join ABOVE the corpus)
    // auto-broadcast off for the plan assert: the gate only withholds the
    // FORCED hint — the planner is still free to broadcast from stats when
    // the frame is genuinely tiny (as it is at sf0.001), which is the
    // point; at corpus-order stats it plans the shuffle this test pins
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val plan = try {
      spark.conf.set(key, "-1")
      graft.SparkSpec.pathsAgree(PipelineQueries.splitClusters(spark, dir)) should not be empty
      graft.ops.LocalOrDistributed.forceDistributed(graft.util.CacheBin.withScope {
        PipelineQueries.splitClusters(spark, dir).queryExecution.executedPlan.toString
      })
    } finally spark.conf.set(key, saved)
    plan should include("SortMergeJoin")
  }

  it should "yield ZERO cross-split near-dup pairs (the audit's fix, re-proven)" in {
    val near = pairs.filter { case (_, _, i, u) => i * 10 >= u * 7 }
      .map(p => (p._1, p._2))
    near should not be empty
    val comp = components(near)
    val leaky = near.filter { case (a, b) =>
      splitOf(comp.getOrElse(a, a)) != splitOf(comp.getOrElse(b, b))
    }
    leaky shouldBe empty
    // while the id-keyed assignment (what the audit measures) DOES leak
    val idLeaky = near.filter { case (a, b) => splitOf(a) != splitOf(b) }
    idLeaky should not be empty
  }

  behavior of "text_retrieval_eval"

  it should "equal a from-scratch plain-Scala BM25 partner-retrieval evaluation" in {
    // corpus statistics from the raw parquet, via the words() mirror
    val docRows = rows(spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text"))
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    val nd = docRows.length.toLong // N counts ALL rows, null text included
    val corpus = docRows.filter(_._2 != null)
      .map { case (id, t) => (id, words(t)) }.toVector
    val tf: Map[(Long, String), Long] = corpus
      .flatMap { case (id, ws) => ws.map(w => ((id, w), 1L)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val dl: Map[Long, Long] = corpus.map { case (id, ws) => id -> ws.size.toLong }.toMap
    val df: Map[String, Long] = tf.keys.toVector.map(_._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ltot: Long = dl.values.sum

    // qtf-weighted long-query BM25 (Robertson query weight at k3 -> inf)
    def score(qTerms: Seq[(String, Long)], d: Long): Long = qTerms.map { case (t, qtf) =>
      tf.get((d, t)).fold(0L) { f =>
        val idf = ((2 * (nd - df(t)) + 1) * 1000) / (2 * df(t) + 1)
        val tfn = (22000 * f * ltot) / (10 * f * ltot + 3 * ltot + 9 * dl(d) * nd)
        qtf * idf * tfn
      }
    }.sum

    // directed qrels from the proven pair frame, with exact jaccard decile
    // (first-100-pairs deterministic sample, mirroring QE_QN)
    val qrels = pairs.sortBy(p => (p._1, p._2)).take(100)
      .flatMap { case (a, b, i, u) =>
        val bucket = i * 10 / u
        Seq((a, b, bucket), (b, a, bucket))
      }
    qrels should not be empty

    val byDoc: Map[Long, Map[String, Long]] =
      tf.groupBy(_._1._1).view.mapValues(_.map { case ((_, t), c) => t -> c }.toMap).toMap
    val expected = qrels.map { case (q, rel, bucket) =>
      // impact-ordered query terms: rarest-first (df asc, tf desc, term),
      // df >= 2 only (a df-1 term occurs in no other doc), 16-term budget
      val qTerms = byDoc(q).toSeq.filter(kv => df(kv._1) >= 2L)
        .sortBy { case (t, c) => (df(t), -c, t) }.take(16)
        .map { case (t, c) => (t, c) }
      // candidates = docs sharing >= 1 query term, self excluded
      val cands = corpus.map(_._1).filter(d =>
        d != q && qTerms.exists(t => tf.contains((d, t._1))))
      val ranked = cands.map(d => (score(qTerms, d), d))
        .sortBy { case (s, d) => (-s, d) }
      val rnk = ranked.indexWhere(_._2 == rel) match {
        case -1 => None
        case i  => Some(i + 1L)
      }
      (bucket, rnk)
    }.groupBy(_._1).view.map { case (bucket, g) =>
      (bucket, g.size.toLong,
        g.count(_._2.contains(1L)).toLong,
        g.count(_._2.exists(_ <= 10L)).toLong,
        g.map(_._2.fold(0L)(r => 1000000L / r)).sum)
    }.toVector.sortBy(_._1)

    val got = rows(TextQueries.retrievalEval(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toVector
    got shouldBe expected
  }

  it should "respect the metric sanity invariants and stay non-cartesian" in {
    val df = TextQueries.retrievalEval(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should include("BroadcastHashJoin") // qt broadcast into the index
    val got = rows(df)
    got should not be empty
    got.foreach { r =>
      val (n, h1, h10, rr) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      h1 should be <= h10
      h10 should be <= n
      rr should be <= 1000000L * n
      rr should be >= h1 * 1000000L // every @1 hit contributes a full unit
    }
  }
}
