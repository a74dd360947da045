package graft.tools

import graft.ops.LocalOrDistributed
import graft.queries.VectorQueries
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dev tool: dump the vec_kcenter plans of the gated driver-local path and
  * of the forced-distributed k-round loop.
  * Usage: KcenterPlanDump [sfDir] [outDir]. */
object KcenterPlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "plans/r22"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    def dump(name: String): Unit =
      graft.util.CacheBin.withScope {
        val df = VectorQueries.kcenterSample(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$out/vec_kcenter_$name.txt"), plan)
        System.err.println(s"[plan] vec_kcenter_$name ok (${plan.length} chars)")
      }
    dump("local") // the gate passes at bench tiers: driver greedy loop
    LocalOrDistributed.forceDistributed(dump("distributed"))
    spark.stop()
  }
}
