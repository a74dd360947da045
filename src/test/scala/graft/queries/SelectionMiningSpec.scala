package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Differential specs for the round-18 data-selection operators
  * (text_dsir_weights and vec_hard_negatives) and for the ANN retrieval
  * tail they share with vec_ann_topk, vec_ann_ivf and the three re-ranked
  * indexes (vec_ann_ivfpq, vec_ann_sq, vec_ann_hamming). Expected results are
  * re-derived in PLAIN SCALA from the raw parquet (no Spark query
  * machinery), so a bug in the distributed formulation cannot hide in its
  * own oracle mirror.
  */
class SelectionMiningSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Array[Row] =
    graft.util.CacheBin.withScope { df.collect() }

  // ---- plain-scala mirrors of the shared text/hash frontend ----

  private def norm(text: String): String =
    text.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
      .replaceAll("\\s+", " ").trim

  private def polyHash(s: String, base: Long, p: Long): Long = {
    var h = 0L
    s.getBytes("UTF-8").foreach { b => h = (h * base + (b & 0xff)) % p }
    h
  }

  private def bigrams(n: String): Seq[String] = {
    val ws = n.split(" ").toSeq
    if (ws.length >= 2) ws.sliding(2).map(_.mkString(" ")).toSeq else Seq(n)
  }

  behavior of "text_dsir_weights"

  it should "equal the plain-Scala hashed-ratio importance computation" in {
    val docs = rows(spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text"))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // bucket instances
    val inst = docs.flatMap { case (id, lang, text) =>
      bigrams(norm(text)).map(bg =>
        (id, lang, polyHash(bg, 31L, 1000000007L) % 256L))
    }
    val byBucket = inst.groupBy(_._3).map { case (b, xs) =>
      val c = xs.length.toLong
      val t = xs.count(_._2 == "en").toLong
      b -> ((2 * t + 1) * 1000000L) / (2 * c + 1)
    }
    val perDoc = inst.groupBy(_._1).map { case (id, xs) =>
      val lang = xs.head._2
      val n = xs.length.toLong
      val s = xs.map(x => byBucket(x._3)).sum
      (id, lang, n, s / n)
    }.toVector
    val expected = perDoc.sortBy(t => (-t._4, t._1)).take(25)
    val got = rows(CorpusQueries.dsirWeights(spark, dir))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toVector
    expected.size shouldBe 25
    got shouldBe expected
    // the weight is a smoothed target share: always within (0, 1e6]
    all(got.map(_._4)) should be > 0L
    all(got.map(_._4)) should be <= 1000000L
  }

  // ---- plain-scala reference of the embedding table and its IVF routing ----

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** (vec_id, label, embedding as doubles), ascending vec_id. */
  private lazy val emb: Array[(Long, Long, Array[Double])] =
    rows(spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding"))
      .map(r => (r.getLong(0), r.getInt(1).toLong,
        r.getSeq[Float](2).map(_.toDouble).toArray))
      .sortBy(_._1)
  private lazy val vecs = emb.map(t => t._1 -> t._3).toMap
  private lazy val n2s = emb.map(t => t._1 -> dot(t._3, t._3)).toMap
  private lazy val label = emb.map(t => t._1 -> t._2).toMap
  /** The 10 smallest vec_ids: every ANN query's probe set. */
  private lazy val probes = emb.map(_._1).sorted.take(10).toSeq

  /** Exact fold-dot cosine of two vectors of the table. */
  private def cosine(q: Long, n: Long): Double =
    dot(vecs(q), vecs(n)) / (math.sqrt(n2s(q)) * math.sqrt(n2s(n)))

  /** Per vector, every coarse cell (label) by (cosine desc, label asc)
    * against the exact micro-unit per-label centroids. */
  private lazy val cellRanks: Map[Long, Seq[Long]] = {
    val labs = emb.map(_._2).distinct.sorted
    val cvecs = labs.map { l =>
      val sel = emb.filter(_._2 == l).map(_._3)
      val sums = Array.fill(64)(0L)
      sel.foreach(v => (0 until 64).foreach(d =>
        sums(d) += math.round(v(d) * 1000000)))
      sums.map(_.toDouble / (sel.length * 1000000L).toDouble)
    }
    val cn2 = cvecs.map(c => dot(c, c))
    emb.map { case (id, _, v) =>
      val n2 = dot(v, v)
      val scored = labs.indices.map { j =>
        (dot(v, cvecs(j)) / (math.sqrt(n2) * math.sqrt(cn2(j))), j)
      }
      id -> scored.sortBy { case (c, j) => (-c, j) }.map(x => labs(x._2))
    }.toMap
  }
  private lazy val home = cellRanks.map { case (id, cs) => id -> cs.head }

  /** Probe `q`'s IVF candidates over its 6 nearest cells, itself excluded,
    * as (n_id, label, cosine). */
  private def routed(q: Long): Seq[(Long, Long, Double)] = {
    val cells = cellRanks(q).take(6).toSet
    emb.toSeq.filter(t => t._1 != q && cells.contains(home(t._1)))
      .map { case (id, l, _) => (id, l, cosine(q, id)) }
  }

  /** The top 5 of `cand` per probe as (q_id, rank, n_id, cosine) rows. */
  private def top5(q: Long, cand: Seq[(Long, Double)]): Seq[(Long, Long, Long, Double)] =
    cand.sortBy(c => (-c._2, c._1)).take(5).zipWithIndex
      .map { case ((n, c), i) => (q, i + 1L, n, c) }

  private def rankedRows(df: DataFrame): Vector[(Long, Long, Long, Double)] =
    rows(df).map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toVector

  behavior of "vec_hard_negatives"

  it should "equal the plain-Scala IVF-routed pos/neg mining" in {
    val expected = probes.flatMap { q =>
      val cand = routed(q)
      val pos = cand.filter(_._2 == label(q)).sortBy(c => (-c._3, c._1)).headOption
      val neg = cand.filter(_._2 != label(q)).sortBy(c => (-c._3, c._1)).headOption
      (pos, neg) match {
        case (Some(p), Some(n)) =>
          Some((q, p._1, p._3, n._1, n._3,
            math.round((p._3 - n._3) * 1000000)))
        case _ => None
      }
    }.toVector
    val got = rows(VectorQueries.hardNegatives(spark, dir))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toVector
    expected.nonEmpty shouldBe true
    got shouldBe expected
    // structural invariants: a pair never reuses the probe or the same
    // candidate on both sides, and the margin is exactly the micro-rounded
    // cosine gap (negative margins are legitimate — a hard negative that
    // beats the positive is precisely what the mining surfaces)
    got.foreach { case (q, p, pc, n, nc, m) =>
      p should not be q
      n should not be q
      p should not be n
      m shouldBe math.round((pc - nc) * 1000000)
    }
  }

  behavior of "the ANN retrieval tail"

  it should "rank vec_ann_topk as the plain-Scala brute-force top 5" in {
    val expected = probes.flatMap { q =>
      top5(q, emb.toSeq.filter(_._1 != q).map(t => (t._1, cosine(q, t._1))))
    }.toVector
    rankedRows(VectorQueries.annTopK(spark, dir)) shouldBe expected
  }

  it should "rank vec_ann_ivf as the plain-Scala IVF-routed top 5" in {
    val expected = probes.flatMap(q => top5(q, routed(q).map(c => (c._1, c._3)))).toVector
    expected.nonEmpty shouldBe true
    rankedRows(VectorQueries.annIvf(spark, dir)) shouldBe expected
  }

  for ((name, query) <- Seq[(String, (SparkSession, String) => DataFrame)](
      ("vec_ann_ivfpq", VectorQueries.annIvfPq(_, _)),
      ("vec_ann_sq", VectorQueries.annSq(_, _)),
      ("vec_ann_hamming", VectorQueries.annHamming(_, _))))
    it should s"re-rank $name by the plain-Scala exact cosine, at most 5 per probe" in {
      val got = rankedRows(query(spark, dir))
      got.nonEmpty shouldBe true
      got.foreach { case (q, _, n, score) =>
        n should not be q
        probes should contain(q)
        score shouldBe cosine(q, n)
      }
      got.groupBy(_._1).foreach { case (q, rs) =>
        withClue(s"probe $q: ") {
          rs.size should be <= 5
          rs.map(_._2) shouldBe (1L to rs.size.toLong)
          rs.map(r => (r._3, r._4)) shouldBe rs.map(r => (r._3, r._4)).sortBy(r => (-r._2, r._1))
        }
      }
    }
}
