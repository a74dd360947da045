package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump .explain("formatted") of named queries (or all) to
  * <outDir>/<name>_<tag>.txt — the plan evidence files for the round docs.
  * Usage: PlanDump <sfDir> <outDir> <tag> [name ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = args(1)
    val tag = args(2)
    val names: Seq[String] =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(out))
    names.foreach { name =>
      try graft.util.CacheBin.withScope {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$out/${name}_$tag.txt"), plan)
        System.err.println(s"[plan] $name ok (${plan.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plan] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
