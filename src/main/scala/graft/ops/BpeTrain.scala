package graft.ops

import graft.util.CacheBin.releaseCheckpoint
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE merge-rule training (Sennrich, Haddow, Birch, "Neural Machine
  * Translation of Rare Words with Subword Units", ACL 2016): learn the k
  * most frequent adjacent symbol pairs over the corpus word-frequency
  * table, merging each winner into a new symbol before counting the next —
  * the tokenizer-training half of the BPE story
  * ([[graft.queries.TextQueries.bpeTokens]] is the inference-side
  * regex tokenizer).
  *
  * The algorithm runs on the word-frequency table, NOT the corpus: the
  * per-word symbol sequences weighted by word frequency are BPE's
  * sufficient statistic, which is why real trainers handle web-scale
  * corpora — at 100 TB the corpus-sized work is ONE tokenize + groupBy
  * (map-side combined), and every merge round then touches only the vocab
  * (millions of rows, not billions). Per round: one pair-count groupBy
  * (narrow explode of adjacent pairs → map-side-combined sum) + a driver
  * top-1 + one narrow fold applying the merge. k rounds = k small
  * shuffles over the shrinking vocab.
  *
  * Determinism contract: the winning pair ties break on (count desc,
  * lhs asc, rhs asc); merge application is an exact LEFT-TO-RIGHT
  * non-overlapping fold (`aggregate` HOF — in "aaaaa" merging (a,a)
  * yields [aa, aa, a], the textbook greedy scan), so a SQL engine
  * replaying the same fold (DuckDB `list_reduce`) reproduces every round
  * bit-for-bit.
  */
object BpeTrain {

  /** Word-frequency table of the corpus: (freq, syms = chars of the word).
    * The ONE corpus-sized pass. */
  private def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(call_function("graft_words", col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), split(col("w"), "").as("syms"))

  /** Adjacent-pair counts weighted by word frequency. */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(0), size(col("syms")) - 2),
        i => struct(element_at(col("syms"), i + 1).as("lhs"),
          element_at(col("syms"), i + 2).as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("freq").as("cnt"))

  /** Exact left-to-right non-overlapping merge of (a, b) → ab over a
    * symbol array — a narrow fold, no shuffle. */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    // try_element_at: NULL (not ANSI error) on the empty accumulator —
    // the null condition falls through to otherwise, appending as usual
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Does `syms` contain the ADJACENT pair (a, b)? — the per-row predicate
    * selecting exactly the words [[applyMerge]] would change. Guarded for
    * 0/1-symbol words (`sequence(0, -1)` would descend, not be empty). */
  private def hasAdjacent(syms: Column, a: String, b: String): Column =
    when(size(syms) >= 2,
      exists(sequence(lit(0), size(syms) - 2),
        i => element_at(syms, i + 1) === lit(a) && element_at(syms, i + 2) === lit(b)))
      .otherwise(lit(false))

  /** Vocabularies at or under 2^20 (freq, syms) rows run [[localMerges]]. */
  private val LocalVocabMax = 1 << 20

  /** Learn `k` merge rules; returns (rank, lhs, rhs, cnt) in learning
    * order. Fails loudly if the vocabulary runs out of adjacent pairs
    * before `k` merges (corpus too small for the requested vocab).
    *
    * The corpus-sized work is the ONE wordFreqs groupBy either way. When
    * the resulting vocabulary is codebook-small (gated by
    * [[LocalOrDistributed]] at [[LocalVocabMax]]), the k merge rounds run
    * on the driver over the collected (freq, syms) table: the distributed
    * delta-counted loop paid ~3 scheduler round-trips per round (top-1
    * collect + two eager checkpoints) to move microseconds of counting.
    * Above the gate the delta-counted distributed loop runs unchanged (a
    * web-scale vocab is millions of rows). Same greedy algorithm, same
    * (cnt desc, lhs, rhs) tie-break, same left-to-right non-overlapping
    * fold — symbols are [a-z0-9] ASCII so driver string order == Spark
    * UTF8 binary order — BpeTrainSpec pins local == distributed
    * rank-for-rank. */
  def merges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"BpeTrain.merges: k=$k — need at least one merge")
    LocalOrDistributed(wordFreqs(docs, textCol), LocalVocabMax) { took =>
      localMerges(docs.sparkSession,
        took.map(r => (r.getLong(0), r.getSeq[String](1).toArray)), k)
    }(mergesDistributed(docs, textCol, k))
  }

  private val MergeSchema = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  private def mergeFrame(spark: SparkSession,
      out: Seq[(Long, String, String, Long)]): DataFrame =
    LocalOrDistributed.driverFrame(spark, MergeSchema, out.map(Row.fromTuple))

  /** Driver-side BPE loop over the collected word-frequency table — the
    * naive per-round recount (exact; the vocab is gate-bounded). */
  private def localMerges(spark: SparkSession,
      vocab0: Array[(Long, Array[String])], k: Int): DataFrame = {
    var vocab = vocab0
    val out = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to k) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      vocab.foreach { case (freq, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + freq)
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"BpeTrain.merges: no adjacent pairs left at round $r (k=$k too large)")
      val ((l, rr), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
      out += ((r.toLong, l, rr, c))
      // exact left-to-right non-overlapping merge (the applyMerge fold)
      vocab = vocab.map { case (freq, syms) =>
        val acc = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        syms.foreach { x =>
          if (acc.nonEmpty && acc.last == l && x == rr)
            acc(acc.length - 1) = l + rr
          else acc += x
        }
        (freq, acc.toArray)
      }
    }
    mergeFrame(spark, out.result())
  }

  /** The distributed loop, DELTA-COUNTED (the k=32k scale path): the
    * pair-count frame is built ONCE from the full vocabulary, then
    * maintained incrementally — merging (a, b) only changes the pair
    * counts of words that contain (a, b) adjacently, so each round
    * subtracts the affected words' old pair counts, adds their post-merge
    * counts, and folds the (small) delta into the standing frame. Per round the full vocab pays one
    * narrow predicate scan and the shuffles touch only the affected words
    * plus the pre-aggregated pair frame — never the full re-explode the
    * naive recount pays. Counts stay EXACT (integer add/subtract of exact
    * multiset counts — BpeTrainSpec proves rank-for-rank equality with the
    * naive recount), so the cross-engine oracle is unchanged. */
  private def mergesDistributed(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val spark = docs.sparkSession
    // eager localCheckpoint per round, NOT persist: both frames are rebuilt
    // from themselves every round, so a persist chain nests k
    // InMemoryRelations — plan analysis cost (and driver plan memory) grows
    // with the round number long before any data is big. The checkpoint
    // truncates each round's plan to a constant-size LogicalRDD; the
    // previous round's blocks are released explicitly right after the new
    // round materializes.
    var cur = wordFreqs(docs, textCol).localCheckpoint(eager = true)
    var pairs = pairCounts(cur).localCheckpoint(eager = true)
    val out = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to k) {
      val top = pairs
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1).collect()
      require(top.nonEmpty,
        s"BpeTrain.merges: no adjacent pairs left at round $r (k=$k too large)")
      val (l, rr, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      out += ((r.toLong, l, rr, c))
      val touched = hasAdjacent(col("syms"), l, rr)
      val affected = cur.filter(touched)
      val merged = affected.select(col("freq"), applyMerge(col("syms"), l, rr).as("syms"))
      // delta = post-merge counts of changed words − their pre-merge counts;
      // folding it into the standing frame leaves exact multiset counts, so
      // nothing can go negative and zero rows are pruned to keep it tight
      val delta = pairCounts(merged)
        .unionByName(pairCounts(affected).withColumn("cnt", -col("cnt")))
      val nextPairs = pairs.unionByName(delta)
        .groupBy("lhs", "rhs").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") =!= 0)
        .localCheckpoint(eager = true)
      // the union SUMS its sides' partition counts and nothing downstream
      // reshuffles cur — without the narrow coalesce the vocab frame's
      // partitions would double every round (2^k by round k)
      val next = cur.filter(!touched).unionByName(merged)
        .coalesce(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager = true)
      releaseCheckpoint(cur); releaseCheckpoint(pairs)
      cur = next; pairs = nextPairs
    }
    releaseCheckpoint(cur); releaseCheckpoint(pairs)
    mergeFrame(spark, out.result())
  }

  /** The naive full-recount trainer — every round re-explodes the whole
    * vocabulary. Kept as the differential-testing twin for [[merges]]
    * (BpeTrainSpec proves rank-for-rank equality at k≈50); not used in
    * production paths. */
  private[graft] def mergesNaive(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"BpeTrain.mergesNaive: k=$k — need at least one merge")
    val spark = docs.sparkSession
    var cur = wordFreqs(docs, textCol).localCheckpoint(eager = true)
    val out = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to k) {
      val top = pairCounts(cur)
        .orderBy(col("cnt").desc, col("lhs"), col("rhs")).limit(1).collect()
      require(top.nonEmpty,
        s"BpeTrain.mergesNaive: no adjacent pairs left at round $r (k=$k too large)")
      val (l, rr, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      out += ((r.toLong, l, rr, c))
      val next = cur.select(col("freq"), applyMerge(col("syms"), l, rr).as("syms"))
        .localCheckpoint(eager = true)
      releaseCheckpoint(cur)
      cur = next
    }
    releaseCheckpoint(cur)
    mergeFrame(spark, out.result())
  }
}
