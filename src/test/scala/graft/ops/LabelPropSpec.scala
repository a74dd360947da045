package graft.ops

import graft.SparkSpec

/** Label propagation: the local (collected) and distributed paths are the
  * same function; the majority/tie rule is pinned on hand graphs. */
class LabelPropSpec extends SparkSpec {

  /** Labels from the local path, asserted equal to the distributed path's. */
  private def labels(nodes: Seq[Long], edges: Seq[(Long, Long, Long)],
      iters: Int): Seq[(Long, Long)] = {
    import spark.implicits._
    val nd = nodes.toDF("node")
    val ed = edges.toDF("u", "v", "w")
    graft.SparkSpec.pathsAgree(LabelProp.run(nd, ed, iters))
      .map(r => (r.getLong(0), r.getLong(1))).sorted
  }

  behavior of "LabelProp"

  it should "pin the weighted-majority rule with min-label ties" in {
    // node 1 hears: label 2 (w=3) vs label 3 (w=3) -> tie -> smaller label 2
    // node 4 hears only label 1 (w=1); nodes 2,3 hear node 1's label
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 3L), (4L, 1L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L))
    labels(Seq(1L, 2L, 3L, 4L, 9L), edges, 1) shouldBe
      Seq((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (9L, 9L)) // 9 is isolated: keeps itself
  }

  it should "agree between paths over multiple rounds on a random graph" in {
    val rnd = new scala.util.Random(7L)
    val nodes = (0L until 60L).toSeq
    val edges = (0 until 300).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, 1L + rnd.nextInt(5))
    }.filter(e => e._1 != e._2)
      .map { case (u, v, w) => (u, v, w.toLong) }
    for (iters <- Seq(1, 3, 4))
      withClue(s"iters=$iters: ") { labels(nodes, edges, iters) should have size 60 }
  }

  it should "drop non-positive edge weights on both paths" in {
    val edges = Seq((1L, 2L, 0L), (1L, 3L, -5L), (2L, 1L, 2L))
    // node 1 has no positive in-edges: keeps its own label
    labels(Seq(1L, 2L, 3L), edges, 2).find(_._1 == 1L).get._2 shouldBe 1L
  }
}
