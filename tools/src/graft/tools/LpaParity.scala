package graft.tools

/** Dev harness for the DECOUPLED graph_communities parity run (round 19,
  * VERDICT r18 #2): the full-operator oracle embeds the kNN construction
  * in SQL, which DuckDB cannot finish at the 100× tier (>1 h) — so this
  * tool materializes the (independently 100×-parity-proven) kNN edge
  * frame to parquet ONCE, runs the Spark LPA + report stage FROM that
  * parquet, and dumps the LPA-only oracle SQL for tools/lpa_parity.py to
  * execute in DuckDB over the SAME parquet. Both engines then grade the
  * identical stored-artifact input — the deployed-pipeline shape.
  *
  * Usage: LpaParity <sfDir> <outDir>
  * Writes: <outDir>/knn_edges.parquet, <outDir>/communities.parquet,
  *         <outDir>/lpa_oracle.sql; prints stage timings.
  */
object LpaParity {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/lpa_parity"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[lpa] $label%-24s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val edgesPath = s"$out/knn_edges.parquet"
    timed("knn edges -> parquet") {
      graft.util.CacheBin.withScope {
        graft.queries.VectorQueries.knnGraph(spark, dir)
          .select("node_id", "nbr_id", "cosine")
          .write.mode("overwrite").parquet(edgesPath)
      }
    }
    // warm once, then time the LPA stage alone (stored-artifact read)
    def run(): Unit = graft.util.CacheBin.withScope {
      graft.queries.GraphQueries
        .communitiesFrom(spark, dir, spark.read.parquet(edgesPath))
        .write.mode("overwrite").parquet(s"$out/communities.parquet")
    }
    timed("lpa stage (pass 1)")(run())
    timed("lpa stage (pass 2)")(run())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/lpa_oracle.sql"),
      graft.queries.GraphQueries.communitiesFromEdgesSql)
    spark.stop()
  }
}
