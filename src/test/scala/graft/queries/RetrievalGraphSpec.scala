package graft.queries

import graft.SparkSpec

/** Differential + invariant specs for the retrieval/graph/selection family
  * (round 17): join_er_blocked, graph_triangles, vec_kcenter,
  * text_hybrid_search, plus invariants for text_passage_scrub and
  * vec_knn_graph. The differential tests re-derive the expected result in
  * PLAIN SCALA from the raw parquet (no Spark query machinery), so a bug in
  * the distributed formulation cannot hide in its own oracle mirror.
  */
class RetrievalGraphSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Array[org.apache.spark.sql.Row] =
    graft.util.CacheBin.withScope { df.collect() }

  // tiny reference levenshtein (full DP, test-only)
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  behavior of "join_er_blocked"

  it should "equal the brute-force all-pairs levenshtein scan (exact recall)" in {
    // brute-force ground truth in the GROUPED contract: distinct names
    // with multiplicities; self rows for duplicated names (C(cnt,2)
    // links), cross rows for lev<=1 name pairs (cnt_a*cnt_b links)
    val names = rows(spark.read.parquet(s"$dir/customer.parquet")
      .select("c_name")).map(_.getString(0))
    val groups = names.groupBy(identity).view.mapValues(_.length.toLong)
      .toVector.sortBy(_._1)
    val self = groups.filter(_._2 >= 2).map { case (n, c) =>
      (n, n, 0L, c, c, c * (c - 1) / 2)
    }
    val cross = (for {
      i <- groups.indices.iterator
      j <- (i + 1) until groups.length
      d = lev(groups(i)._1, groups(j)._1)
      if d <= 1
    } yield (groups(i)._1, groups(j)._1, d.toLong, groups(i)._2,
        groups(j)._2, groups(i)._2 * groups(j)._2)).toVector
    val brute = (self ++ cross).sorted
    val got = rows(JoinQueries.erBlocked(spark, dir))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toVector
    got.sorted shouldBe brute
    brute.nonEmpty shouldBe true
    // and ordering contract: (name_a, name_b) ascending
    got shouldBe got.sortBy(t => (t._1, t._2))
  }

  it should "fold duplicated names into multiplicities, not id pairs" in {
    import spark.implicits._
    val d = graft.SparkSpec.tempDir("er-grouped")
    // "AAAA" x3 (self: 3 links), "AAAB" x2 (self: 1; cross to AAAA: 6)
    Seq((1L, "AAAA"), (2L, "AAAA"), (3L, "AAAA"), (4L, "AAAB"), (5L, "AAAB"))
      .toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    val got = rows(JoinQueries.erBlocked(spark, d))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(5)))
    got should contain theSameElementsAs Seq(
      ("AAAA", "AAAA", 0L, 3L), ("AAAB", "AAAB", 0L, 1L),
      ("AAAA", "AAAB", 1L, 6L))
  }

  behavior of "graph_triangles"

  it should "match a plain-Scala triangle enumeration of the strong trade graph" in {
    def tbl(n: String) = rows(spark.read.parquet(s"$dir/$n.parquet"))
    val nation = tbl("nation").map(r => r.getInt(0) -> r.getString(1)).toMap
    val cust = tbl("customer").map(r => r.getLong(0) -> r.getInt(2)).toMap
    val supp = tbl("supplier").map(r => r.getLong(0) -> r.getInt(2)).toMap
    val ordCust = tbl("orders").map(r =>
      r.getLong(r.fieldIndex("o_orderkey")) -> r.getLong(r.fieldIndex("o_custkey"))).toMap
    val weights = new scala.collection.mutable.HashMap[(String, String), Long]()
    tbl("lineitem").foreach { r =>
      val src = nation(cust(ordCust(r.getLong(r.fieldIndex("l_orderkey")))))
      val dst = nation(supp(r.getLong(r.fieldIndex("l_suppkey"))))
      if (src != dst) {
        val k = if (src < dst) (src, dst) else (dst, src)
        weights(k) = weights.getOrElse(k, 0L) + 1L
      }
    }
    val sw = weights.values.sum
    val ne = weights.size.toLong
    // NB: Map.collect returning pairs would rebuild a Map (dedup by first
    // element) — filter + keySet keeps every qualifying edge
    val strong = weights.filter(kv => kv._2 * ne > sw).keySet.toSet
    val ns = strong.flatMap(e => Set(e._1, e._2)).toVector.sorted
    val brute = (for {
      ai <- ns.indices.iterator; bi <- (ai + 1) until ns.length
      ci <- (bi + 1) until ns.length
      a = ns(ai); b = ns(bi); c = ns(ci)
      if strong((a, b)) && strong((b, c)) && strong((a, c))
    } yield (a, b, c)).toVector
    val got = rows(GraphQueries.triangles(spark, dir))
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toVector
    got.sorted shouldBe brute.sorted
    got.nonEmpty shouldBe true // degenerate-empty would make the test vacuous
  }

  behavior of "vec_kcenter"

  it should "match a plain-Scala greedy farthest-point selection" in {
    val vecs = rows(spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding"))
      .map { r =>
        val m = r.getSeq[Float](1).map(x =>
          BigDecimal(x.toDouble * 1000000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toArray
        (r.getLong(0), m)
      }.sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val mind = new scala.collection.mutable.HashMap[Long, Long]()
    var expected = Vector((vecs.head._1, 0L))
    var center = vecs.head._2
    vecs.foreach { case (id, m) => mind(id) = d2(m, center) }
    for (_ <- 1 until 8) {
      val (nid, nd) = vecs.map { case (id, _) => (id, mind(id)) }
        .maxBy { case (id, d) => (d, -id) }
      expected :+= ((nid, nd))
      center = vecs.find(_._1 == nid).get._2
      vecs.foreach { case (id, m) =>
        mind(id) = math.min(mind(id), d2(m, center)) }
    }
    // the gated driver-local path and the forced-distributed k-round loop
    // must select identical rows
    val got = graft.SparkSpec.pathsAgree(VectorQueries.kcenterSample(spark, dir))
      .map(r => (r.getLong(1), r.getLong(2))).toVector
    got shouldBe expected
    // coverage radii non-increasing after the seed — the greedy invariant
    val radii = got.drop(1).map(_._2)
    radii.zip(radii.drop(1)).foreach { case (a, b) => a should be >= b }
  }

  behavior of "text_hybrid_search"

  it should "fuse consistently and retrieve each probe doc for itself" in {
    val got = rows(TextQueries.hybridSearch(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    got.nonEmpty shouldBe true
    val byQ = got.groupBy(_._1)
    byQ.keySet.size shouldBe 3
    byQ.foreach { case (q, rs) =>
      // self-retrieval: the probe doc is its own best fused hit (vector
      // cosine 1.0 + lexical self-match dominate the RRF sum)
      rs.minBy(_._2)._3 shouldBe q
      // rrf recomputation from the reported component ranks
      rs.foreach { case (_, _, _, rrf, lr, vr) =>
        val e = (if (lr > 0) 1000000L / (60 + lr) else 0L) +
          (if (vr > 0) 1000000L / (60 + vr) else 0L)
        rrf shouldBe e
      }
      // ranks contiguous from 1 and ordered by (rrf desc, doc_id)
      rs.map(_._2).sorted shouldBe (1L to rs.length).toVector
      val ord = rs.sortBy(r => (-r._4, r._3)).map(_._2)
      ord shouldBe (1L to rs.length).toVector
    }
  }

  behavior of "text_passage_scrub"

  it should "keep each distinct passage exactly once and never grow a doc" in {
    val got = rows(TextQueries.passageScrub(spark, dir))
    got.nonEmpty shouldBe true
    var kept = 0L; var chunks = 0L
    got.foreach { r =>
      val (n, k, tok) = (r.getLong(1), r.getLong(2), r.getLong(3))
      k should be <= n
      tok should be <= k * 32
      kept += k; chunks += n
    }
    kept should be < chunks // the planted dups guarantee some scrubbing
    // global first-occurrence-wins: total kept == distinct passages
    val distinctPassages = graft.util.CacheBin.withScope {
      import org.apache.spark.sql.functions._
      graft.ops.Chunking.spans(
          spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          32, 32)
        .select(md5(col("span"))).distinct().count()
    }
    kept shouldBe distinctPassages
  }

  behavior of "ev_cusum"

  it should "match the literal sequential max-reset recurrence" in {
    // the closed form (P_i - min(0, min prefix)) is what ships; this
    // re-derives alarms with the textbook per-user sequential loop
    val evs = rows(Q.events(spark, dir)
      .select("user_id", "ts_us", "event_id", "value"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigDecimal(r.getDouble(3) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val k = evs.map(_._4).sum / evs.length
    val expected = evs.groupBy(_._1).flatMap { case (u, es) =>
      var s = 0L
      es.sortBy(e => (e._2, e._3)).collectFirst {
        case (_, ts, eid, v) if { s = math.max(0L, s + (v - k)); s >= 5 * k } =>
          (u, eid, ts, s)
      }
    }.toVector.sortBy(_._1)
    val got = rows(EventQueries.cusum(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    got shouldBe expected
    got.nonEmpty shouldBe true
  }

  behavior of "text_novelty"

  it should "conserve novelty: novel counts sum to the distinct gram count" in {
    val got = rows(TextQueries.novelty(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    got.nonEmpty shouldBe true
    got.foreach { case (_, n, novel, pct) =>
      novel should be <= n
      pct shouldBe (novel * 100) / n
    }
    // every distinct gram is novel for exactly one doc (its first) — the
    // operator keys on the 64-bit polynomial gram hash, so compare
    // against the distinct HASH count (collisions, if any, merge grams
    // identically on both sides)
    val totalNovel = got.map(_._3).sum
    val distinctGrams = graft.util.CacheBin.withScope {
      import org.apache.spark.sql.functions._
      val norm = graft.ops.NearDup.normCol(col("text"))
      spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(graft.ops.NearDup.shinglesOf(
          graft.ops.NearDup.wordsOf(norm), norm, 3)).as("g"))
        .select(graft.ops.NearDup.polyHash(col("g"), 31L, 1000000007L).as("gh"))
        .distinct().count()
    }
    totalNovel shouldBe distinctGrams
    // and somebody recycles: at least one doc below 100% novelty
    got.exists(_._4 < 100) shouldBe true
  }

  behavior of "vec_mmr"

  it should "match a plain-Scala MMR re-rank over the same pool" in {
    val vecs = rows(spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding"))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosMicro(a: Array[Double], b: Array[Double]): Long =
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        * 1000000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val byId = vecs.toMap
    val expected = vecs.take(3).flatMap { case (q, qv) =>
      val pool = vecs
        .map { case (id, v) =>
          (id, dot(qv, v) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(v, v))))
        }
        .sortBy { case (id, c) => (-c, id) }.take(12)
        .map { case (id, _) => (id, cosMicro(qv, byId(id))) }
      var cands = pool.toVector
      var sel = Vector.empty[(Long, Long, Long, Long, Long)]
      for (r <- 1 to 5) {
        val scored = cands.map { case (id, rel) =>
          val pen = sel.map(s => cosMicro(byId(id), byId(s._3)))
            .foldLeft(0L)(math.max)
          (id, rel, 7L * rel - 3L * pen)
        }
        val (id, rel, sc) = scored.minBy { case (i, _, s) => (-s, i) }
        sel :+= ((q, r.toLong, id, rel, sc))
        cands = cands.filterNot(_._1 == id)
      }
      sel
    }
    val got = rows(VectorQueries.mmrRerank(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toVector
    got shouldBe expected
    // and MMR actually diversifies: for at least one query the selection
    // ORDER differs from pure relevance order (a diversity penalty that
    // never fires would make the operator a re-labeled top-k)
    val reordered = expected.groupBy(_._1).exists { case (_, rs) =>
      val mmrOrder = rs.sortBy(_._2).map(_._3)
      val relOrder = rs.sortBy(r => (-r._4, r._3)).map(_._3)
      mmrOrder != relOrder
    }
    reordered shouldBe true
  }

  behavior of "text_dup_matrix"

  it should "conserve pairs: matrix total == sum over passages of C(n,2)" in {
    val got = rows(TextQueries.dupMatrix(spark, dir))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    got.nonEmpty shouldBe true
    got.foreach { case (a, b, n) => a should be <= b; n should be > 0L }
    val matrixTotal = got.map(_._3).sum
    val expected = graft.util.CacheBin.withScope {
      import org.apache.spark.sql.functions._
      graft.ops.Chunking.spans(
          spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
          32, 32)
        .groupBy(md5(col("span"))).agg(count(lit(1)).as("n"))
        .select(expr("CAST(sum(n * (n - 1) div 2) AS LONG)"))
        .collect()(0).getLong(0)
    }
    matrixTotal shouldBe expected
  }

  behavior of "vec_knn_graph"

  it should "emit at most k ranked, self-free, bounded-cosine neighbors per node" in {
    val got = rows(VectorQueries.knnGraph(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got.nonEmpty shouldBe true
    got.groupBy(_._1).foreach { case (node, rs) =>
      rs.length should be <= 3
      rs.map(_._2).sorted shouldBe (1L to rs.length).toVector
      rs.foreach { case (n, _, nbr, cos) =>
        nbr should not be n
        cos should (be >= -1.0000001 and be <= 1.0000001)
      }
      rs.map(_._3).distinct.length shouldBe rs.length
    }
  }
}
