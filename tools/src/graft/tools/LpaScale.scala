package graft.tools

import graft.ops.LocalOrDistributed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured evidence for the DISTRIBUTED LabelProp path above its 2^20-edge
  * gate (every recorded tier before it took the driver-local path, while
  * the distributed rounds are the 100 TB claim). The local/distributed
  * crossover it once swept is recorded in SCALE.md §4.
  *
  * Builds a deterministic synthetic power-law graph (xxhash64 endpoints,
  * cubed-uniform destination for hub skew — the degree shape of a kNN/web
  * graph), then:
  *   1. times the forced-distributed path
  *      ([[graft.ops.LocalOrDistributed.forceDistributed]]) and the gated
  *      call (edge count above the gate ⇒ same path) at the requested size;
  *   2. asserts gated-local == forced-distributed on a seeded overlapping
  *      subgraph (nodes < subN, under the gate) — the LabelPropSpec
  *      rule-equality witness, re-proven at tool scale.
  *
  * Usage: LpaScale [nEdges] [nNodes] [iters]
  */
object LpaScale {
  def main(args: Array[String]): Unit = {
    val nEdges = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nNodes = if (args.length > 1) args(1).toLong else nEdges / 10
    val iters = if (args.length > 2) args(2).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Power-law-ish edges: uniform src, cubed-uniform dst (hubs). */
    def graph(m: Long, n: Long): (DataFrame, DataFrame) = {
      val e = spark.range(0L, m, 1L, 32)
        .select(
          pmod(xxhash64(col("id")), lit(n)).as("u"),
          // dst ~ floor(n * U^3): ~8x mass on the smallest-id decile
          floor(lit(n.toDouble) *
            pow(pmod(xxhash64(col("id"), lit(1)), lit(1000000L))
              .cast("double") / 1e6, lit(3.0))).cast("long").as("v"),
          (pmod(xxhash64(col("id"), lit(2)), lit(5L)) + 1L).as("w"))
        .filter(col("u") =!= col("v"))
      (spark.range(0L, n, 1L, 32).select(col("id").as("node")), e)
    }

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[lpa] $label%-52s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // 1. the headline distributed run
    val (nodes, edges) = graph(nEdges, nNodes)
    val eCount = edges.count()
    println(s"[lpa] graph: $eCount edges, $nNodes nodes, iters=$iters " +
      s"(gate=2^20=${1L << 20})")
    val distRows = time(s"forced-distributed, $eCount edges") {
      LocalOrDistributed.forceDistributed(graft.util.CacheBin.withScope {
        graft.ops.LabelProp.run(nodes, edges, iters).count()
      })
    }
    require(distRows == nNodes, s"expected $nNodes labeled nodes, got $distRows")
    val autoRows = time(s"gated (default), $eCount edges > gate") {
      graft.util.CacheBin.withScope {
        graft.ops.LabelProp.run(nodes, edges, iters).count()
      }
    }
    require(autoRows == nNodes, s"gated path returned $autoRows rows")

    // 2. subgraph equality witness: gated-local vs forced-distributed
    val subN = 20000L
    val (subNodes, _) = graph(0L, subN)
    val subEdges = edges.filter(col("u") < subN && col("v") < subN)
    def labels: Array[(Long, Long)] =
      graft.util.CacheBin.withScope {
        graft.ops.LabelProp.run(subNodes, subEdges, iters)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      }
    val eq = labels.sameElements(LocalOrDistributed.forceDistributed(labels))
    println(s"[lpa] subgraph(local == distributed, n=$subN): $eq")
    require(eq, "local and distributed paths diverged on the subgraph")
    println("[lpa] DONE")
    spark.stop()
  }
}
