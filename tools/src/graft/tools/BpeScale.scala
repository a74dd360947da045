package graft.tools

/** Dev tool: BPE delta-trainer cost curve at realistic merge counts
  * (round-15, VERDICT r14 #5). Trains `graft.ops.BpeTrain.merges` on the
  * real documents table at increasing k and prints total + per-round
  * times — if per-round cost tracked CORPUS size the total would be
  * linear-in-k with a large constant; delta-counting keeps later rounds
  * at delta cost, so rounds/second must hold (or improve) as k grows.
  *
  * Usage: BpeScale <sfDir> [k...]   (default k = 50 100 250 500)
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = if (args.length > 1) args.tail.map(_.toInt).toSeq
      else Seq(50, 100, 250, 500)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    ks.foreach { k =>
      val t0 = System.nanoTime()
      val n = graft.util.CacheBin.withScope {
        graft.ops.BpeTrain.merges(docs, "text", k).count()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[bpe] k=$k%-5d total $sec%8.2f s   ${sec / k * 1000}%7.1f ms/round   ($n rules)")
    }
    spark.stop()
  }
}
