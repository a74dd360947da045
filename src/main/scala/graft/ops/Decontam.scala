package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Eval-set decontamination — parameterized n-gram-overlap screening of a
  * training corpus against benchmark/eval sets (the step every serious
  * pretraining pipeline runs so test data never leaks into training data;
  * beyond the reference surface, which has no text analytics).
  *
  * Scale contract: eval sets are SMALL BY DESIGN, so the distinct eval
  * shingle set is broadcast into the overlap join — the corpus side is
  * scan → narrow normalize/shingle map → explode → broadcast-hash-join →
  * one map-side-combined groupBy(doc). The corpus never shuffles, state is
  * bounded by the eval shingle set, and the plan parallelizes with input
  * splits. `GraftPlanSpec` pins the broadcast; the `text_decontam` oracle
  * pins the arithmetic (exact integer counts).
  */
object Decontam {

  /** Distinct word-k-gram sets: (idCol, sh: array<string>) — one narrow
    * native expression ([[graft.functions.Shingles]], fused normalize →
    * tokenize → k-gram → distinct). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol),
      call_function("graft_shingles", col(textCol), lit(k)).as("sh"))

  /** Per-document overlap of `corpus` against `evalDocs`:
    * (id, n_shingles, overlap_cnt, overlap_pct) for contaminated documents
    * only — integer arithmetic, deterministic.
    *
    * Both frames must carry `idCol` and `textCol`. BOTH shingle frames are
    * persisted: the materialization boundary stops the optimizer's
    * inferred explode filters (`size(sh) > 0 AND isnotnull(sh)`) from
    * substituting the whole normalize + k-gram chain into a scan-side
    * filter — the expression appears in two conjuncts, so codegen
    * subexpression elimination evaluates it UNCONDITIONALLY per scan
    * row, before any short-circuit on the cheap predicates (measured 14 s
    * single-threaded vs 0.1 s at sf0.1 on the eval branch; see SCALE.md
    * "Optimizer hazards"). Callers release both via their
    * [[graft.util.CacheBin]] scope. */
  def overlap(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, k: Int = 5): DataFrame = {
    def shingles(df: DataFrame): DataFrame =
      graft.util.CacheBin.persist(shingleSets(df, idCol, textCol, k))
    val corpusSh = shingles(corpus)
    val evalSet = shingles(evalDocs)
      .select(explode(col("sh")).as("__esh")).distinct()
    corpusSh
      .select(col(idCol), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("__csh"))
      .join(broadcast(evalSet), col("__csh") === col("__esh"))
      .groupBy(idCol)
      .agg(first(col("n_shingles")).as("n_shingles"),
        count(lit(1)).as("overlap_cnt"))
      .withColumn("overlap_pct", expr("(overlap_cnt * 100) div n_shingles"))
  }

  /** The screening filter: corpus rows whose overlap percent stays BELOW
    * `maxPct` (contaminated docs dropped; id column preserved). */
  def clean(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, k: Int = 5, maxPct: Long = 0L): DataFrame = {
    val bad = overlap(corpus, evalDocs, idCol, textCol, k)
      .filter(col("overlap_pct") > maxPct)
      .select(col(idCol).as("__bad_id"))
    corpus.join(bad, corpus(idCol) === col("__bad_id"), "left_anti")
  }

  /** Streaming decontamination: screen documents ARRIVING ON A STREAM
    * against a static eval set. Overlap is a per-document property, so no
    * cross-document state is needed — the eval shingle set (small by
    * design) is collected once on the driver and closed over in a pure
    * narrow filter, which Structured Streaming runs per micro-batch with
    * zero state store and zero shuffle. A BATCH frame routes through the
    * broadcast-join [[clean]] instead (same keep/drop arithmetic — integer
    * floor division on both paths), so the driver-side collect of the eval
    * shingle set only ever happens where the stream-static shape requires
    * it; the collect is the one driver materialization in this operator and
    * is bounded by the eval set, never the corpus. */
  def cleanStreaming(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, k: Int = 5, maxPct: Long = 0L): DataFrame = {
    if (!corpus.isStreaming)
      return clean(corpus, evalDocs, idCol, textCol, k, maxPct)
    val evalShingles: Set[String] = shingleSets(evalDocs, idCol, textCol, k)
      .select(explode(col("sh")).as("esh")).distinct()
      .collect().map(_.getString(0)).toSet
    // a real broadcast variable, not a closure capture: the set ships to
    // each executor once per query, not serialized into every task
    val bc = corpus.sparkSession.sparkContext.broadcast(evalShingles)
    val keepUdf = udf { (sh: Seq[String]) =>
      if (sh == null || sh.isEmpty) true
      else {
        val eval = bc.value
        var overlap = 0
        sh.foreach(s => if (eval.contains(s)) overlap += 1)
        overlap * 100L / sh.length <= maxPct
      }
    }
    corpus
      .withColumn("__sh", call_function("graft_shingles", col(textCol), lit(k)))
      .filter(keepUdf(col("__sh")))
      .drop("__sh")
  }
}
