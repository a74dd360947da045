package graft.tools

import graft.ops.LocalOrDistributed
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Local-cluster rehearsal: run the full query surface AND both paths of
  * every size-gated query under `local-cluster[2,16,4096]` — real executor
  * JVMs, so CacheBin persists, gate probes, broadcasts and the memo
  * registry all cross process boundaries instead of living in one driver
  * heap. Dumps every query to parquet (tools/parity.py compares against
  * DuckDB) and prints inline PASS/FAIL for each gated query's
  * normal-vs-forced-distributed pair. The forced side also turns
  * auto-broadcast off, so the above-gate joins plan as shuffles.
  *
  * Needs SPARK_HOME (the worker launcher) and the compiled engine classes
  * under target/scala-2.13/classes. Usage: ClusterRehearsal [sfDir] [outDir]. */
object ClusterRehearsal {

  /** Every query that reaches a [[LocalOrDistributed]] gate. */
  private val gatedQueries = Seq("text_dup_clusters", "text_cluster_best",
    "pipe_split_clusters", "text_bpe_merges", "graph_pagerank",
    "graph_communities", "vec_kcenter", "text_tfidf")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/verify_cluster"
    val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")
    val spark = graft.runner.SparkRunner.builder()
      .master("local-cluster[2,16,4096]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var failures = 0

    // --- 1. full query dump (the Verify shape) for DuckDB parity ---
    new java.io.File(outDir).mkdirs()
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      try graft.util.CacheBin.withScope {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        errs(name) = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[cluster] QUERY FAILED: $name - ${errs(name)}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    failures += errs.size
    println(s"[cluster] query dump done: ${errs.size} failures")

    // --- 2. gated two-path parity with real executors ---
    def rowsOf(df: => DataFrame): Seq[String] =
      graft.util.CacheBin.withScope(df.collect().map(_.toString).sorted.toSeq)
    def noAutoBroadcast[A](body: => A): A = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.get(key)
      try { spark.conf.set(key, "-1"); body }
      finally spark.conf.set(key, saved)
    }
    gatedQueries.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        val l = rowsOf(fn(spark, sfDir))
        val d = noAutoBroadcast(LocalOrDistributed.forceDistributed(rowsOf(fn(spark, sfDir))))
        val ok = l == d
        if (!ok) failures += 1
        println(s"[cluster] $name normal==forced-distributed: " +
          (if (ok) s"PASS (${l.size} rows)"
           else s"FAIL (${l.size} vs ${d.size} rows; first diff: " +
             l.zip(d).find(p => p._1 != p._2).map(_.toString).getOrElse("size") + ")"))
      } catch { case e: Throwable =>
        failures += 1
        println(s"[cluster] $name ERROR: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

    println(s"[cluster] rehearsal ${if (failures == 0) "PASS" else s"FAIL ($failures)"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
