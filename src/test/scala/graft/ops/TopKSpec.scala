package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[TopK.perGroup]] keeps exactly each group's first k rows in the given
  * order, numbered 1..n, and plans as a per-partition group limit. */
class TopKSpec extends SparkSpec {

  behavior of "TopK.perGroup"

  /** (group, score, id) rows: few distinct scores so ties are common, ids
    * unique so (score desc, id) is a total order within a group. */
  private val framesGen: Gen[(Seq[(Long, Long, Long)], Int)] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 60))
    groups <- Gen.choose(1, 6)
    scores <- Gen.choose(1, 4)
    keys <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, groups - 1L), Gen.choose(0L, scores - 1L)))
    ids <- Gen.pick(n, 0L until 1000L)
    biggest = keys.groupBy(_._1).values.map(_.size).maxOption.getOrElse(0)
    k <- Gen.choose(1, biggest + 2)
  } yield (keys.zip(ids).map { case ((g, s), id) => (g, s, id) }, k)

  it should "equal a plain-Scala groupBy/sortBy/take with ranks 1..n" in {
    import spark.implicits._
    val prop = Prop.forAllNoShrink(framesGen) { case (rows, k) =>
      val expected = rows.groupBy(_._1).values.toSeq.flatMap { g =>
        g.sortBy { case (_, s, id) => (-s, id) }.take(k).zipWithIndex
          .map { case ((grp, s, id), i) => (grp, s, id, i + 1L) }
      }.sorted
      val got = TopK.perGroup(rows.toDF("g", "score", "id").repartition(3),
          "g", Seq(col("score").desc, col("id")), k, "rank")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      if (got != expected) info(s"k=$k rows=$rows: got $got, expected $expected")
      got == expected
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(result.passed, result.status.toString)
  }

  it should "plan k = 1 and k = 5 as a WindowGroupLimit" in {
    val df = spark.range(200)
      .select((col("id") % 7).as("g"), (col("id") % 5).as("score"), col("id"))
    for (k <- Seq(1, 5)) withClue(s"k=$k: ") {
      TopK.perGroup(df, "g", Seq(col("score").desc, col("id")), k, "rank")
        .queryExecution.executedPlan.toString should include("WindowGroupLimit")
    }
  }

  it should "reject k = 0 loudly" in {
    val df = spark.range(3).select(col("id").as("g"), col("id"))
    val e = the[IllegalArgumentException] thrownBy
      TopK.perGroup(df, "g", Seq(col("id")), 0, "rank")
    e.getMessage should include("k=0")
  }
}
