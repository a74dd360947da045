package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Every query that reaches a size gate returns the same rows when every
  * gate is forced to its distributed path. At sf0.001 each gate takes its
  * small path normally, so each case runs both branches of the query's
  * gates end to end. */
class GatedQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "gated queries"

  Seq("text_dup_clusters", "text_cluster_best", "pipe_split_clusters",
    "text_bpe_merges", "graph_pagerank", "graph_communities", "vec_kcenter",
    "text_tfidf").foreach { name =>
    it should s"return the same $name rows with every gate forced distributed" in {
      SparkSpec.pathsAgree(SparkEntry.queries(name)(spark, dir)) should not be empty
    }
  }
}
