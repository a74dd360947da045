package graft.tools

/** Dev scratchpad: recall@5 of the routed ANN indexes vs brute-force exact,
  * scanned over operating points (nprobe, kc, iters, rerank) — picks the
  * config the oracle queries pin. Usage: RecallScan [sfDir] */
object RecallScan {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.queries.VectorQueries._

    val exact: Set[(Long, Long)] = graft.util.CacheBin.withScope {
      annTopK(spark, dir).select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    def recall(rows: Array[(Long, Long)]): Double =
      rows.count(exact).toDouble / exact.size

    for (np <- Seq(2, 3, 4, 5, 6, 8)) {
      val rows = graft.util.CacheBin.withScope {
        annIvf(spark, dir, np).select("q_id", "n_id").collect()
          .map(x => (x.getLong(0), x.getLong(1)))
      }
      println(f"[recall] ivf   nprobe=$np%-2d                      recall@5 = ${recall(rows)}%.3f")
    }
    for (np <- Seq(4, 6, 8); kc <- Seq(8, 16); it <- Seq(1); rr <- Seq(100)) {
      val got = try {
        val rows = graft.util.CacheBin.withScope {
          annIvfPq(spark, dir, np, kc, it, rr).select("q_id", "n_id").collect()
            .map(x => (x.getLong(0), x.getLong(1)))
        }
        f"recall@5 = ${recall(rows)}%.3f"
        // NonFatal only: an OOM/VM error must crash the scan, not print a line
      } catch { case scala.util.control.NonFatal(e) => s"FAILED: ${e.getMessage.take(80)}" }
      println(f"[recall] ivfpq nprobe=$np%-2d kc=$kc%-3d iters=$it rr=$rr%-3d $got")
    }
    for (np <- Seq(4, 6, 8); rr <- Seq(100)) {
      val rows = graft.util.CacheBin.withScope {
        annSq(spark, dir, np, rr).select("q_id", "n_id").collect()
          .map(x => (x.getLong(0), x.getLong(1)))
      }
      println(f"[recall] sq    nprobe=$np%-2d rr=$rr%-3d            recall@5 = ${recall(rows)}%.3f")
    }
    for (rr <- Seq(50, 100, 200, 400)) {
      val rows = graft.util.CacheBin.withScope {
        annHamming(spark, dir, rr).select("q_id", "n_id").collect()
          .map(x => (x.getLong(0), x.getLong(1)))
      }
      println(f"[recall] bq    rr=$rr%-4d                     recall@5 = ${recall(rows)}%.3f")
    }
    spark.stop()
  }
}
