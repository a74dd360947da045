package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected components over near-dup pair graphs: min-label propagation
  * reaches the fixpoint (component = min reachable id) on chains (the
  * worst diameter case), handles duplicate/reversed/self-loop edges, and
  * the cluster summary emits sorted member lists.
  */
class DupGroupsSpec extends SparkSpec {

  behavior of "DupGroups.connectedComponents"

  it should "label a chain with its minimum id (transitive closure)" in {
    import spark.implicits._
    // 1-2, 2-3, 3-4 is a diameter-3 chain: 4 only reaches 1 transitively
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b")
    val comp = graft.util.CacheBin.withScope {
      DupGroups.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    comp shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L)
  }

  it should "tolerate duplicate, reversed and self-loop edges" in {
    import spark.implicits._
    val edges = Seq((5L, 6L), (6L, 5L), (5L, 6L), (7L, 7L), (7L, 6L))
      .toDF("a", "b")
    val comp = graft.util.CacheBin.withScope {
      DupGroups.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    comp shouldBe Map(5L -> 5L, 6L -> 5L, 7L -> 5L)
  }

  it should "fail loudly when the round cap is hit" in {
    import spark.implicits._
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[RuntimeException] {
      graft.util.CacheBin.withScope {
        DupGroups.connectedComponents(chain, "a", "b", maxIter = 1).collect()
      }
    }
    e.getMessage should include("did not converge")
  }

  it should "fall back to the O(log n) variant when Auto hits the round cap" in {
    import spark.implicits._
    // diameter-5 chain with a cap of 1: propagation gives up, Auto retries
    // with large-star/small-star and still returns the exact fixpoint.
    // Forced distributed: the gate would take the driver-local path on a
    // graph this small
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("a", "b")
    LocalOrDistributed.forceDistributed(graft.util.CacheBin.withScope {
      val labels = DupGroups.connectedComponentsAuto(chain, "a", "b", maxIter = 1)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      labels shouldBe (1L to 6L).map(_ -> 1L).toMap
    })
  }

  it should "return the identical fixpoint from the local and distributed paths" in {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .toDF("a", "b") // self-loops included on purpose: both paths drop them
    graft.SparkSpec.pathsAgree(DupGroups.connectedComponentsAuto(edges, "a", "b")) should
      not be empty
  }

  it should "produce identical output under reliable checkpointing" in {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 5L)).toDF("a", "b")
    def run(reliable: Boolean): Map[Long, Long] = graft.util.CacheBin.withScope {
      DupGroups.connectedComponents(edges, "a", "b", reliable = reliable)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // reliable mode refuses to run without a checkpoint dir
    spark.sparkContext.getCheckpointDir match {
      case None =>
        an[IllegalArgumentException] should be thrownBy run(reliable = true)
      case Some(_) => ()
    }
    spark.sparkContext.setCheckpointDir(graft.SparkSpec.tempDir("dg_ck"))
    run(reliable = true) shouldBe run(reliable = false)
    graft.util.CacheBin.withScope {
      DupGroups.connectedComponentsLogN(edges, "a", "b", reliable = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
        run(reliable = false)
    }
  }

  behavior of "DupGroups.connectedComponentsLogN (large-star/small-star)"

  it should "agree with min-label propagation and a union-find on random graphs" in {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find as the independent witness
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val expected = nodes.map { v =>
        // component rep = min node id in the component
        val r = find(v.toInt)
        v -> nodes.filter(u => find(u.toInt) == r).min
      }.toMap
      val df = edges.toDF("a", "b")
      graft.util.CacheBin.withScope {
        DupGroups.connectedComponents(df, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
      }
      graft.util.CacheBin.withScope {
        DupGroups.connectedComponentsLogN(df, "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expected
      }
    }
  }

  it should "converge on a diameter-59 chain in logarithmic rounds" in {
    import spark.implicits._
    // propagation would need 59 rounds (past its default cap); the
    // star-contraction variant collapses the chain in a handful
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = graft.util.CacheBin.withScope {
      DupGroups.connectedComponentsLogN(chain, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    comp.size shouldBe 60
    comp.values.toSet shouldBe Set(0L)
  }

  behavior of "DupGroups.clusters"

  it should "summarize clusters with numerically sorted member lists" in {
    import spark.implicits._
    // ids chosen so lexicographic order (10 < 2) would corrupt the list
    val edges = Seq((2L, 10L), (10L, 101L)).toDF("a", "b")
    val rows = graft.util.CacheBin.withScope {
      DupGroups.clusters(edges, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    rows shouldBe Array((2L, 3L, "2,10,101"))
  }
}
