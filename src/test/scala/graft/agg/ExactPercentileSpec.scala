package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BoundReference, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Percentile, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}

/** [[ExactPercentile]] returns the very doubles Spark's `Percentile`
  * returns, and [[PercentileRewrite]] swaps it in exactly where allowed.
  *
  * The differential property drives both aggregates through the
  * `TypedImperativeAggregate` API on the same rows, split into random
  * partials that are serialized and deserialized before the final merge,
  * and compares results bit for bit (`doubleToLongBits`, so NaN payloads
  * are not compared). A group never holds both -0.0 and 0.0: Spark's SQL
  * ordering ties them, and its answer then depends on hash-map iteration
  * order, not on the data. */
class ExactPercentileSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import ExactPercentileSpec._

  private val SparkPath = "spark.sql.optimizer.excludedRules" -> "graft.agg.PercentileRewrite"

  private def withConf[T](kv: (String, String))(body: => T): T = {
    val old = spark.conf.getOption(kv._1)
    spark.conf.set(kv._1, kv._2)
    try body
    finally old.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
  }

  private def aggregates(plan: LogicalPlan) =
    plan.collect { case a: Aggregate => a.aggregateExpressions }.flatten
      .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })

  private def rewritten(df: DataFrame): Boolean = {
    val fns = aggregates(df.queryExecution.optimizedPlan)
    fns.exists(_.isInstanceOf[ExactPercentile]) && !fns.exists(_.isInstanceOf[Percentile])
  }

  /** Rows with every double replaced by its bits. */
  private def bitRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case s: scala.collection.Seq[_] => s.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case o => o
      }
      case o => o
    })

  private def sameAsSpark(df: => DataFrame): Unit =
    bitRows(df) shouldBe withConf(SparkPath)(bitRows(df))

  behavior of "ExactPercentile"

  it should "return Spark's Percentile bits over random partials, types, nulls and percentages" in {
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      val ours = drive(ExactPercentile(c.child, c.percentage, c.reverse), c)
      val theirs = drive(new Percentile(c.child, c.percentage, Literal(1L), 0, 0, c.reverse), c)
      val ok = bits(ours) == bits(theirs)
      if (!ok) info(s"$c: ours=${bits(ours)} spark=${bits(theirs)}")
      ok
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(600), prop)
    assert(result.passed, result.status.toString)
  }

  it should "serialize 1M rows of 3 distinct values to under 1 KB in bounded memory" in {
    val agg = ExactPercentile(BoundReference(0, LongType, nullable = true), Literal(0.5))
    val row = new GenericInternalRow(1)
    val buf = agg.createAggregationBuffer()
    var i = 0
    while (i < 1000000) {
      row.update(0, Seq(-7L, 3L, Long.MaxValue)(i % 3))
      agg.update(buf, row)
      i += 1
    }
    buf.footprint should be < 4096
    val bytes = agg.serialize(buf)
    bytes.length should be < 1024
    agg.eval(agg.deserialize(bytes)) shouldBe 3.0
  }

  it should "reject bytes that are not its buffer" in {
    val agg = ExactPercentile(BoundReference(0, LongType, nullable = true), Literal(0.5))
    an[IllegalArgumentException] should be thrownBy agg.deserialize(Array[Byte](0, 1, 2))
    val good = agg.serialize(agg.createAggregationBuffer())
    an[IllegalArgumentException] should be thrownBy agg.deserialize(good :+ 0.toByte)
  }

  behavior of "PercentileRewrite"

  private def view(): Unit = {
    import spark.implicits._
    (0 until 400).map(i => (i % 3, (i * 7919L) % 211, (i % 5).toLong, i * 0.37))
      .toDF("g", "x", "f", "d").createOrReplaceTempView("pct_t")
  }

  it should "rewrite percentile, median and percentile_cont (ASC and DESC) with Spark's results" in {
    view()
    for (q <- Seq(
        "SELECT g, percentile(x, 0.5) p FROM pct_t GROUP BY g",
        "SELECT g, percentile(d, array(0.0, 0.25, 0.9, 1.0)) p FROM pct_t GROUP BY g",
        "SELECT g, median(x) m, median(cast(x AS int)) mi FROM pct_t GROUP BY g",
        "SELECT g, percentile_cont(0.3) WITHIN GROUP (ORDER BY d) p FROM pct_t GROUP BY g",
        "SELECT g, percentile_cont(0.3) WITHIN GROUP (ORDER BY x DESC) p FROM pct_t GROUP BY g")) {
      withClue(q) {
        rewritten(spark.sql(q)) shouldBe true
        sameAsSpark(spark.sql(q).orderBy("g"))
      }
    }
    withConf(SparkPath)(rewritten(spark.sql("SELECT median(x) FROM pct_t"))) shouldBe false
  }

  it should "keep Spark's aggregate for a frequency column, decimals and percentile_disc" in {
    view()
    for (q <- Seq(
        "SELECT g, percentile(x, 0.5, f) p FROM pct_t GROUP BY g",
        "SELECT g, percentile(cast(d AS decimal(10, 2)), 0.5) p FROM pct_t GROUP BY g",
        "SELECT g, percentile_disc(0.5) WITHIN GROUP (ORDER BY x) p FROM pct_t GROUP BY g")) {
      withClue(q) {
        val fns = aggregates(spark.sql(q).queryExecution.optimizedPlan)
        fns.exists(_.isInstanceOf[ExactPercentile]) shouldBe false
        spark.sql(q).collect().length shouldBe 3
      }
    }
  }

  it should "leave a non-foldable percentage and streaming plans alone" in {
    val x = AttributeReference("x", LongType)()
    val p = AttributeReference("p", DoubleType)()
    val plan = Aggregate(Nil,
      Seq(Alias(AggregateExpression(new Percentile(x, p), Complete, isDistinct = false), "q")()),
      LocalRelation(x, p))
    PercentileRewrite(plan) shouldBe plan
    val streaming = spark.readStream.format("rate").load()
      .groupBy().agg(expr("percentile(value, 0.5)")).queryExecution.analyzed
    streaming.isStreaming shouldBe true
    PercentileRewrite(streaming) shouldBe streaming
  }

  it should "match Spark when the object hash aggregate falls back to sort" in {
    def df = spark.range(0, 6000)
      .select((col("id") % 50).as("k"), ((col("id") * 7919) % 101 - 50).as("v"))
      .repartition(3)
      .groupBy("k").agg(expr("percentile(v, array(0.1, 0.5, 0.9))").as("p"))
      .orderBy("k")
    withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") {
      val ours = df
      val rows = bitRows(ours)
      rewritten(ours) shouldBe true
      rows shouldBe withConf(SparkPath)(bitRows(df))
      rows.length shouldBe 50
      val aggs = collect(ours.queryExecution.executedPlan) { case a: ObjectHashAggregateExec => a }
      aggs should not be empty
      aggs.map(_.metrics("numTasksFallBacked").value).sum should be > 0L
    }
  }
}

object ExactPercentileSpec {

  private final case class Case(
      dt: DataType,
      values: Seq[Option[Any]],
      partial: Seq[Int],
      percentage: Literal,
      reverse: Boolean) {
    def child: BoundReference = BoundReference(0, dt, nullable = true)
    override def toString: String =
      s"Case($dt, reverse=$reverse, p=$percentage, partial=$partial, values=$values)"
  }

  /** Rows split by `partial` into buffers that go through serialize and
    * deserialize, then merged into a final buffer and evaluated. */
  private def drive[T](agg: TypedImperativeAggregate[T], c: Case): Any = {
    val row = new GenericInternalRow(1)
    val parts = (0 to c.partial.max).map(_ => agg.createAggregationBuffer())
    c.values.zip(c.partial).foreach { case (v, p) =>
      row.update(0, v.orNull)
      agg.update(parts(p), row)
    }
    val out = agg.createAggregationBuffer()
    parts.foreach(b => agg.merge(out, agg.deserialize(agg.serialize(b))))
    agg.eval(out)
  }

  private def bits(x: Any): Any = x match {
    case null => null
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case a: ArrayData => a.toDoubleArray().toSeq.map(java.lang.Double.doubleToLongBits)
  }

  private def integral(min: Long, max: Long): Gen[Long] = Gen.frequency(
    5 -> Gen.choose(-4L, 4L).map(v => math.max(min, math.min(max, v))),
    2 -> Gen.oneOf(min, max, min + 1, max - 1, 0L),
    2 -> Gen.choose(min, max),
    // distinct longs whose doubles are equal
    1 -> Gen.choose(0L, 3L).map(d => if (max == Long.MaxValue) (1L << 60) + d else max - d))

  private def floating(zero: Double): Gen[Double] = Gen.frequency(
    5 -> Gen.oneOf(-2.5, -1.0, 0.5, 1.0, 3.25, zero),
    2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MaxValue, Double.MinValue, Double.MinPositiveValue, 1e300, -1e-300),
    3 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.choose(Long.MinValue, Long.MaxValue).map(java.lang.Double.longBitsToDouble))
    .map(d => if (d == 0.0) zero else d)

  private def valueGen(dt: DataType, zero: Double): Gen[Any] = dt match {
    case ByteType => integral(Byte.MinValue, Byte.MaxValue).map(_.toByte)
    case ShortType => integral(Short.MinValue, Short.MaxValue).map(_.toShort)
    case IntegerType => integral(Int.MinValue, Int.MaxValue).map(_.toInt)
    case LongType => integral(Long.MinValue, Long.MaxValue)
    case FloatType => floating(zero).map(_.toFloat).map(f => if (f == 0.0f) zero.toFloat else f)
    case DoubleType => floating(zero)
  }

  private val pctGen: Gen[Double] =
    Gen.frequency(3 -> Gen.oneOf(0.0, 1.0, 0.5, 0.25, 0.9), 2 -> Gen.choose(0.0, 1.0))

  private val caseGen: Gen[Case] = for {
    dt <- Gen.oneOf(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
    zero <- Gen.oneOf(0.0, -0.0)
    nullShare <- Gen.oneOf(0.0, 0.1, 0.5, 1.0)
    // past 1024 values a buffer compacts into runs more than once
    n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 6), 4 -> Gen.choose(7, 300),
      1 -> Gen.choose(1000, 5000))
    values <- Gen.listOfN(n, Gen.frequency(
      (math.round(nullShare * 10).toInt, Gen.const(None)),
      (math.round((1 - nullShare) * 10).toInt, valueGen(dt, zero).map(Some(_)))))
    parts <- Gen.choose(1, 4)
    partial <- Gen.listOfN(n, Gen.choose(0, parts - 1))
    percentage <- Gen.frequency(
      3 -> pctGen.map(p => Literal(p)),
      2 -> Gen.choose(0, 4).flatMap(Gen.listOfN(_, pctGen))
        .map(ps => Literal.create(ps, ArrayType(DoubleType, containsNull = false))))
    reverse <- Gen.oneOf(false, true)
  } yield Case(dt, values, if (partial.isEmpty) Seq(0) else partial, percentage, reverse)
}
