package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the fused [[graft.functions.QualitySignals]] signal pass
  * bit-identical to the pre-round-22 composed chain
  * ([[QualitySignalsSpec.withSignalsLegacy]]: 2× graft_words + regexp_replace) on
  * adversarial inputs — the equivalence contract that lets every
  * quality-gated query (text_quality_score, pipe_clean_corpus,
  * pipe_apply_mix, pipe_source_mix, pipe_quality_by_source) keep its
  * oracle hash after the fusion. */
class QualitySignalsSpec extends SparkSpec {

  private val inputs: Seq[String] = Seq(
    null,
    "",
    " ",
    "....",
    ".,;:!?", // every punct char once
    "the and of to in a is for on with", // all ten stopwords
    "THE The tHe", // case folding before the stopword match
    "the.and,of;to:in!a?is", // stopwords split by punct
    "word",
    "éàü € 漢字 — non-ascii separators and text",
    "naïve café", // multi-byte chars inside words
    "İstanbul İstanbul", // dotted-capital-I lowering (expands bytes)
    "a1b2c3 42 0", // digit tokens
    "tabs\tand\nnewlines\rmixed   spaces",
    "trailing punct!",
    "!leading punct",
    "x" * 5000, // one long token
    ("the quick brown fox. " * 200).trim, // long doc, punct + stopword mix
    "Ω≈ç√∫˜µ≤≥÷", // no token bytes at all
    "?!?!?!interro-bangs?!?!?!")

  it should "match the composed legacy chain bit-for-bit on adversarial inputs" in {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = inputs.toDF("text")
    val cols = Seq("n_words", "stop_cnt", "n_punct", "n_chars_t")
    val fused = Quality.withSignals(df).select("text", cols: _*).collect()
    val legacy = QualitySignalsSpec.withSignalsLegacy(df).select("text", cols: _*).collect()
    fused.length shouldBe legacy.length
    fused.zip(legacy).foreach { case (f, l) =>
      withClue(s"input=${Option(f.getString(0)).map(_.take(60))}: ") {
        (1 to 4).foreach { i =>
          f.isNullAt(i) shouldBe l.isNullAt(i)
          if (!f.isNullAt(i)) f.getLong(i) shouldBe l.getLong(i)
        }
      }
    }
  }

  it should "keep the identical survivor set under the keep rule" in {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val df = inputs.toDF("text")
    val fusedKept = Quality.withSignals(df).filter(Quality.keepFlag)
      .select("text").collect().map(_.getString(0)).toSet
    val legacyKept = QualitySignalsSpec.withSignalsLegacy(df).filter(Quality.keepFlag)
      .select("text").collect().map(_.getString(0)).toSet
    fusedKept shouldBe legacyKept
  }

  it should "participate in whole-stage codegen" in {
    graft.functions.GraftFunctions.register(spark)
    val df = Quality.withSignals(
      spark.range(100).select(concat(lit("the doc. "), col("id")).as("text")))
    df.queryExecution.executedPlan.toString should include("*(1) Project")
    df.agg(sum("n_words")).head().getLong(0) should be > 0L
  }
}

object QualitySignalsSpec {
  /** The pre-round-22 composed-expression form of [[Quality.withSignals]],
    * the parity oracle of this spec. */
  def withSignalsLegacy(df: DataFrame,
      textCol: String = "text"): DataFrame = {
    val words = call_function("graft_words", col(textCol))
    df.withColumn("n_words", size(words).cast("long"))
      .withColumn("stop_cnt",
        size(filter(words, w => w.isin(Quality.stopwords: _*))).cast("long"))
      .withColumn("n_punct",
        (length(col(textCol)) - length(regexp_replace(col(textCol), "[.,;:!?]", "")))
          .cast("long"))
      .withColumn("n_chars_t", length(col(textCol)).cast("long"))
  }
}
