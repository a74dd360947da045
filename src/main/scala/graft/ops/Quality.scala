package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document quality signals + the engine's canonical keep rule — shared by
  * the standalone quality query, the cleaning pipeline's first stage and
  * the data-mixing report, so the thresholds exist in exactly one place.
  *
  * All signals are exact integers computed in one narrow map (no shuffle);
  * the keep rule uses integer-scaled comparisons so engines agree
  * bit-for-bit (each has a DuckDB mirror in the oracle SQL).
  */
object Quality {

  /** The stopword list the stopword-ratio signal counts. */
  val stopwords: Seq[String] =
    Seq("the", "and", "of", "to", "in", "a", "is", "for", "on", "with")

  /** Append the integer quality-signal columns
    * (n_words, stop_cnt, n_punct, n_chars_t) for `textCol`. Narrow map;
    * all four signals come from ONE byte pass over the text — the fused
    * native [[graft.functions.QualitySignals]] expression (round 22; the
    * previous chain tokenized twice via graft_words — once for n_words,
    * once for the stopword filter, each materializing the token array —
    * and ran a regexp_replace for n_punct, and the keepFlag filter plus
    * the project each paid the whole set again). Bit-identical to that
    * composed form — QualitySignalsSpec pins it on adversarial inputs,
    * every quality-gated oracle re-proves it end to end. */
  def withSignals(df: DataFrame, textCol: String = "text"): DataFrame = {
    val sig = call_function("graft_quality_signals", col(textCol),
      lit(stopwords.mkString(",")))
    df.withColumn("__qsig", sig)
      .withColumn("n_words", col("__qsig.n_words"))
      .withColumn("stop_cnt", col("__qsig.stop_cnt"))
      .withColumn("n_punct", col("__qsig.n_punct"))
      .withColumn("n_chars_t", col("__qsig.n_chars_t"))
      .drop("__qsig")
  }

  /** The canonical keep rule over [[withSignals]] columns: at least 20
    * words, stopword ratio ≥ 2%, punctuation ratio ≤ 10% — integer-scaled,
    * no float comparisons. */
  def keepFlag: Column =
    col("n_words") >= 20 && col("stop_cnt") * 100 >= col("n_words") * 2 &&
      col("n_punct") * 100 <= col("n_chars_t") * 10

  /** Classifier-based quality scoring — the hashed bag-of-words LINEAR
    * model shape of a CCNet/GPT-3-style quality filter (fastText's
    * architecture: hash each token into a weight table, sum, threshold).
    * The weight table is config (a trained model drops in); weights are
    * non-negative integers so the sum and any integer-divided mean are
    * exact and engine-independent (negative integer division differs
    * between engines — keep weights ≥ 0).
    *
    * Scale shape: the model rides into the plan as a LITERAL array (a few
    * KB — the hashed-table trick is what makes the model broadcast-free),
    * and scoring is a pure narrow fold over the tokenized words: zero
    * shuffle, zero state, whole-stage codegen. */
  def linearScore(text: Column, weights: Seq[Long],
      base: Long = 31L, p: Long = 1000000007L): Column = {
    require(weights.nonEmpty && weights.forall(_ >= 0L),
      "linearScore needs a non-empty, non-negative weight table")
    val wl = typedlit(weights)
    aggregate(call_function("graft_words", text), lit(0L), (acc, w) =>
      acc + element_at(wl,
        (call_function("graft_poly_hash", w, lit(base), lit(p)) % weights.size)
          .cast("int") + 1))
  }

  /** Deterministic demo weight table (stand-in for a trained model): d
    * values in [0, 2000] from a Knuth-LCG over the index — reproducible in
    * SQL as a literal, which is the point. */
  def demoWeights(d: Int): Seq[Long] =
    (0 until d).map(i => ((i * 2654435761L + 123456789L) % 2001L + 2001L) % 2001L)
}
