package graft.runner

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** [[SmallSortExchange]]: a global sort over a small materialized input runs
  * as one partition and skips the range-sampling job; large inputs, inputs
  * that can multiply rows and user range repartitions keep range
  * partitioning; row order is always that of a plain sort. */
class SmallSortExchangeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import SmallSortExchangeSpec._

  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Range exchanges of the final adaptive plan, stages included. */
  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def withAdvisory[T](bytes: Long)(body: => T): T = {
    val old = spark.conf.getOption(AdvisoryKey)
    spark.conf.set(AdvisoryKey, bytes)
    try body
    finally old.fold(spark.conf.unset(AdvisoryKey))(spark.conf.set(AdvisoryKey, _))
  }

  private def aggregated: DataFrame =
    spark.range(0, 20000).select((col("id") % 97).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))

  behavior of "SmallSortExchange"

  it should "run a small aggregated orderBy as one partition, one job fewer" in {
    def run(): (DataFrame, Array[Row], Int) = {
      val df = aggregated.orderBy(col("s").desc, col("k"))
      val (rows, jobs) = SparkSpec.jobsDuring(spark)(df.collect())
      (df, rows, jobs)
    }
    val (smallDf, smallRows, small) = run()
    val (rangedDf, rangedRows, ranged) = withAdvisory(1L)(run())
    rangeExchanges(smallDf) shouldBe empty
    rangeExchanges(rangedDf) should not be empty
    small shouldBe ranged - 1
    smallRows.toSeq shouldBe rangedRows.toSeq
    smallRows.length shouldBe 97
  }

  it should "keep range partitioning when the input exceeds the advisory size" in {
    val df = aggregated.orderBy("k")
    withAdvisory(64L)(df.collect())
    rangeExchanges(df) should not be empty
  }

  it should "keep range partitioning above an explode" in {
    val df = aggregated
      .select(col("k"), explode(array(col("s"), col("n"))).as("x"))
      .orderBy("x", "k")
    df.collect().length shouldBe 2 * 97
    rangeExchanges(df) should not be empty
  }

  it should "leave repartitionByRange(n) with its n partitions" in {
    val df = aggregated.repartitionByRange(3, col("k"))
    df.rdd.getNumPartitions shouldBe 3
    df.collect().length shouldBe 97
  }

  it should "leave Packing.runningSum multi-partition" in {
    val df = aggregated.select(col("k").as("doc_id"), col("n").as("n_words"))
    graft.util.CacheBin.withScope {
      val out = graft.ops.Packing.runningSum(df, "doc_id", "n_words")
      out.rdd.getNumPartitions should be > 1
      val cum = out.orderBy("doc_id").collect().map(_.getLong(2)).toSeq
      val words = df.orderBy("doc_id").collect().map(_.getLong(1)).toSeq
      cum shouldBe words.scanLeft(0L)(_ + _).tail
    }
  }

  it should "emit rows in exactly the order of a driver-side sort" in {
    import spark.implicits._
    val rowGen: Gen[R] = for {
      a <- Gen.option(Gen.choose(-3, 3))
      b <- Gen.option(Gen.oneOf("", "a", "b", "ab", "ba"))
      c <- Gen.choose(-2L, 2L)
    } yield (a, b, c)
    val keysGen: Gen[Seq[Key]] = for {
      cols <- Gen.oneOf(Seq(0, 1, 2).permutations.toSeq)
      flags <- Gen.listOfN(3, Gen.zip(Gen.oneOf(true, false), Gen.oneOf(true, false)))
    } yield cols.zip(flags).map { case (c, (d, nf)) => Key(c, d, nf) }

    def sortCol(k: Key): Column = {
      val c = col(Seq("a", "b", "c")(k.c))
      (k.desc, k.nullsFirst) match {
        case (false, true) => c.asc_nulls_first
        case (false, false) => c.asc_nulls_last
        case (true, true) => c.desc_nulls_first
        case (true, false) => c.desc_nulls_last
      }
    }
    def field(r: R, c: Int): Option[Any] = c match {
      case 0 => r._1
      case 1 => r._2
      case _ => Some(r._3)
    }
    def cmp(k: Key)(x: R, y: R): Int = (field(x, k.c), field(y, k.c)) match {
      case (None, None) => 0
      case (None, _) => if (k.nullsFirst) -1 else 1
      case (_, None) => if (k.nullsFirst) 1 else -1
      case (Some(p), Some(q)) =>
        val o = (p, q) match {
          case (i: Int, j: Int) => Integer.compare(i, j)
          case (s: String, t: String) => s.compareTo(t)
          case (l: Long, m: Long) => java.lang.Long.compare(l, m)
        }
        if (k.desc) -o else o
    }

    val prop = Prop.forAll(Gen.choose(0, 60).flatMap(Gen.listOfN(_, rowGen)), keysGen) {
      (rows, keys) =>
        // the round-robin shuffle is a materialized stage below the sort
        val df = rows.toDF("a", "b", "c").repartition(3).orderBy(keys.map(sortCol): _*)
        val got = df.collect().map(r =>
          (Option(r.get(0)).map(_.asInstanceOf[Int]), Option(r.getString(1)), r.getLong(2)))
        val ord = Ordering.fromLessThan[R] { (x, y) =>
          keys.iterator.map(k => cmp(k)(x, y)).find(_ != 0).exists(_ < 0)
        }
        val ok = got.toSeq == rows.sorted(ord) && rangeExchanges(df).isEmpty
        if (!ok) info(s"keys=$keys rows=$rows got=${got.toSeq}")
        ok
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status.toString)
  }
}

object SmallSortExchangeSpec {
  private type R = (Option[Int], Option[String], Long)
  /** One sort key: column index, descending, nulls first. */
  private final case class Key(c: Int, desc: Boolean, nullsFirst: Boolean)
}
