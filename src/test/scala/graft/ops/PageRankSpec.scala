package graft.ops

import graft.SparkSpec

/** PageRank invariants on hand graphs: agreement with an independent
  * in-test fold, uniform fixpoint on a symmetric cycle, hub dominance,
  * and mass conservation up to deterministic floor leakage. */
class PageRankSpec extends SparkSpec {

  private def run(edges: Seq[(String, String, Long)], iters: Int) = {
    import spark.implicits._
    PageRank.run(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Independent reference: same integer recurrence, plain Scala. */
  private def reference(edges: Seq[(String, String, Long)],
      iters: Int): Map[String, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val base = 1000000000L * 15L / 100L
    var r = nodes.map(_ -> 1000000000L).toMap
    (1 to iters).foreach { _ =>
      val inflow = edges.groupBy(_._2).view.mapValues(_.map { case (s, _, w) =>
        ((r(s) * 85L) / 100L) * w / outW(s)
      }.sum).toMap
      r = nodes.map(n => n -> (base + inflow.getOrElse(n, 0L))).toMap
    }
    r
  }

  behavior of "PageRank.run"

  it should "match the independent integer fold on an asymmetric graph" in {
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 1L), ("d", "c", 5L), ("c", "d", 1L))
    run(edges, 10) shouldBe reference(edges, 10)
  }

  it should "keep a symmetric cycle at the uniform fixpoint" in {
    val cycle = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
    val r = run(cycle, 7)
    // base + damp*1e9 = 150_000_000 + 850_000_000 = 1e9, every round
    r.values.toSet shouldBe Set(1000000000L)
  }

  it should "rank the hub of a star above its spokes" in {
    val star = Seq(("s1", "hub", 1L), ("s2", "hub", 1L), ("s3", "hub", 1L),
      ("hub", "s1", 1L), ("hub", "s2", 1L), ("hub", "s3", 1L))
    val r = run(star, 10)
    r("hub") should be > r("s1")
    r("s1") shouldBe r("s2")
  }

  it should "produce identical ranks on the local and distributed paths" in {
    import spark.implicits._
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 1L), ("d", "c", 5L), ("c", "d", 1L))
    graft.SparkSpec.pathsAgree(PageRank.run(edges.toDF("src", "dst", "w"), 10))
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe reference(edges, 10)
  }

  it should "drop zero-weight edges identically on both paths" in {
    import spark.implicits._
    // node "z" has only a zero-weight out-edge: it must count as dangling
    // (no division by its zero wsum) and rank like any other sink
    val edges = Seq(("a", "b", 2L), ("b", "a", 1L), ("z", "a", 0L),
      ("a", "z", 1L))
    val local = graft.SparkSpec.pathsAgree(PageRank.run(edges.toDF("src", "dst", "w"), 5))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    local.keySet shouldBe Set("a", "b", "z")
  }

  it should "accept integer node ids on both paths with matching ranks" in {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 3L, 2L), (3L, 1L, 1L))
    val local = graft.SparkSpec.pathsAgree(PageRank.run(edges.toDF("src", "dst", "w"), 8))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    local.keySet shouldBe Set(1L, 2L, 3L)
  }

  it should "stay overflow-safe when rank mass times max weight crosses 2^63" in {
    import spark.implicits._
    // Hub with a huge-weight out-edge: under the old (t*w) div W order,
    // t*w ≈ (2e9·85/100) · 2e9 ≈ 3.4e18 > 2^63/3 — with a few nodes' mass
    // concentrated it wraps; the remainder-correct order never forms t*w.
    // Here w = W (single out-edge) so the exact forward is just t.
    val bigW = 2000000000L
    val edges = Seq(("a", "b", bigW), ("b", "a", bigW), ("c", "a", bigW))
    val local = graft.SparkSpec.pathsAgree(PageRank.run(edges.toDF("src", "dst", "w"), 10))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    all(local.values) should be >= 0L  // no wrapped negatives
    local.values.sum should be <= 3000000000L // mass conserved up to leakage
  }

  it should "conserve mass up to floor leakage" in {
    val edges = Seq(("a", "b", 3L), ("b", "a", 2L), ("b", "c", 1L),
      ("c", "a", 7L))
    val r = run(edges, 10)
    val total = r.values.sum
    total should be <= 3000000000L
    total should be > 2999990000L // leakage is a few units per node-round
  }
}
