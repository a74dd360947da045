package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Bench's timed action computes the whole query: on the fixture tier the
  * executed plan of [[Bench.materialize]] for `core_median_prices` keeps
  * its exact-percentile aggregate, which `count()` lets Catalyst prune. */
class BenchActionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "Bench's timed action"

  it should "keep the percentile aggregate that count() prunes" in {
    assume(new java.io.File(s"$dir/lineitem.parquet").exists())
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(f -> qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Bench.materialize(SparkEntry.queries("core_median_prices")(spark, dir))
      SparkEntry.queries("core_median_prices")(spark, dir).count()
      import scala.jdk.CollectionConverters._
      // listeners run on the listener bus, after the action returns
      val (counted, timed) = eventually(timeout(30.seconds), interval(100.millis)) {
        val byAction = plans.asScala.toSeq.partition(_._1 == "count")
        assert(byAction._1.nonEmpty && byAction._2.nonEmpty)
        byAction
      }
      timed.map(_._2).exists(_.contains("graft_percentile")) shouldBe true
      counted.map(_._2).exists(_.contains("graft_percentile")) shouldBe false
    } finally spark.listenerManager.unregister(listener)
  }
}
