package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint

/** The one size gate: which branch runs at and around the bound, what the
  * probe costs, and how the forced-distributed scope nests and unwinds. */
class LocalOrDistributedSpec extends SparkSpec {

  /** "local n" with the rows the local branch received, or "distributed". */
  private def path(rows: Long, maxRows: Int): String =
    LocalOrDistributed(spark.range(rows).toDF(), maxRows)(r => s"local ${r.length}")(
      "distributed")

  behavior of "LocalOrDistributed"

  it should "send maxRows rows local and maxRows + 1 distributed" in {
    path(5, 5) shouldBe "local 5"
    path(6, 5) shouldBe "distributed"
    path(1, 1) shouldBe "local 1"
    path(2, 1) shouldBe "distributed"
  }

  it should "send an empty input local with no rows" in {
    path(0, 5) shouldBe "local 0"
  }

  it should "reject maxRows of 0 and of Int.MaxValue" in {
    an[IllegalArgumentException] should be thrownBy path(1, 0)
    an[IllegalArgumentException] should be thrownBy path(1, Int.MaxValue)
    an[IllegalArgumentException] should be thrownBy
      LocalOrDistributed.forceDistributed(path(1, 0))
  }

  it should "run the distributed branch without a probe job inside the scope" in {
    val (probed, probeJobs) = SparkSpec.jobsDuring(spark)(path(3, 5))
    probed shouldBe "local 3"
    probeJobs should be >= 1
    val (forced, jobs) = SparkSpec.jobsDuring(spark) {
      LocalOrDistributed.forceDistributed(path(3, 5))
    }
    forced shouldBe "distributed"
    jobs shouldBe 0
  }

  it should "nest scopes and restore the setting after an exception" in {
    LocalOrDistributed.forced shouldBe false
    LocalOrDistributed.forceDistributed {
      LocalOrDistributed.forceDistributed(LocalOrDistributed.forced) shouldBe true
      LocalOrDistributed.forced shouldBe true // the inner exit keeps the outer scope
    }
    LocalOrDistributed.forced shouldBe false
    an[IllegalStateException] should be thrownBy
      LocalOrDistributed.forceDistributed(throw new IllegalStateException("boom"))
    LocalOrDistributed.forced shouldBe false
    path(3, 5) shouldBe "local 3"
  }

  it should "broadcast a frame of at most maxRows rows and not one more" in {
    def hinted(rows: Long, maxRows: Long): Boolean =
      LocalOrDistributed.broadcastIfAtMost(spark.range(rows).toDF(), maxRows)
        .queryExecution.analyzed.isInstanceOf[ResolvedHint]
    hinted(4, 4) shouldBe true
    hinted(5, 4) shouldBe false
    hinted(0, 0) shouldBe true
    val df = spark.range(4).toDF()
    val (forced, jobs) = SparkSpec.jobsDuring(spark) {
      LocalOrDistributed.forceDistributed(LocalOrDistributed.broadcastIfAtMost(df, 4))
    }
    forced should be theSameInstanceAs df
    jobs shouldBe 0
  }
}
