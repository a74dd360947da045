package graft

/** Bench's `memoized` field is derived from the memo registry's read
  * scope: on the fixture tier, queries that read a per-tier artifact are
  * reported (vec_kcenter through its memoized row-count gate, vec_sq8
  * through its SQ8 ranges, text_minhash_pairs through the near-dup pair
  * frame) and a query that reads none is not. */
class BenchMemoizedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def reported(q: String): Boolean =
    Bench.readsArtifacts { SparkEntry.queries(q)(spark, dir).count() }

  behavior of "Bench's memoized field"

  it should "report the queries that read a memo artifact and no others" in {
    assume(new java.io.File(s"$dir/embeddings.parquet").exists())
    Seq("vec_kcenter", "vec_sq8", "text_minhash_pairs").foreach { q =>
      withClue(s"$q: ") { reported(q) shouldBe true }
    }
    reported("core_median_prices") shouldBe false
  }
}
