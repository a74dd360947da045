package graft.queries

import graft.ops.TopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Text-analysis + document-dedup suite over `documents` — the
  * training-data-pipeline extensions (token counting, quality scoring,
  * language-ID, fingerprinting, exact/MinHash/SimHash/Jaccard dedup).
  *
  * Cross-engine determinism: every hash is a portable polynomial hash over
  * ASCII codepoints computed with *identical integer arithmetic* in Spark
  * (`transform`/`aggregate` higher-order functions, codegen'd) and DuckDB
  * (`list_transform`/`list_reduce`), so signatures, buckets and candidate
  * pairs match bit-for-bit. Normalization strips to [a-z0-9 ] first so only
  * ASCII ever reaches `ascii()`.
  *
  * At 100 TB the same plans hold: word/shingle hashing is a narrow map,
  * MinHash-LSH shuffles once on (band, key) — candidate generation is
  * O(dups) not O(n²) — and only SimHash/brute-force-Jaccard pair scans are
  * quadratic (kept here as small-data oracles; LSH is the scale path).
  */
object TextQueries {

  // ---- shared normalization / hashing (Spark side) ----

  private val P1 = 1000000007L
  private val P2 = 998244353L
  private val MH_P = 2147483647L // 2^31-1, minhash universe

  /** Normalization + hashing live in the reusable operator
    * [[graft.ops.NearDup]]; these aliases keep the query code and its SQL
    * mirrors side by side. */
  private def normCol(c: Column): Column = graft.ops.NearDup.normCol(c)
  private def wordsOf(norm: Column): Column = graft.ops.NearDup.wordsOf(norm)
  private def polyHash(w: Column, base: Long, p: Long): Column =
    graft.ops.NearDup.polyHash(w, base, p)
  private def shinglesOf(words: Column, norm: Column, k: Int): Column =
    graft.ops.NearDup.shinglesOf(words, norm, k)

  /** SQL mirror of [[normCol]]. */
  private val normSql =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"""

  /** SQL mirror of [[polyHash]]. */
  private def polyHashSql(w: String, base: Long, p: Long): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($w,''), c -> ascii(c)::BIGINT)), (a,x) -> (a*$base+x) % $p)"

  private def shinglesSql(words: String, norm: String, k: Int): String =
    s"CASE WHEN len($words) >= $k THEN list_transform(generate_series(1, len($words)-${k - 1}), j -> array_to_string($words[j:j+${k - 1}], ' ')) ELSE [$norm] END"

  // ---- queries ----

  /** Token counting: whitespace tokens + BPE-ish regex tokens
    * (letter runs | digit runs | single punct). */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_regex_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        col("n_chars"))
      .orderBy("doc_id")

  val tokenCountsSql: String =
    """SELECT doc_id,
      |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) n_ws_tokens,
      |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) n_regex_tokens,
      |       CAST(length(text) AS BIGINT) n_chars_calc, n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE-style pre-tokenizer counts — the GPT-2 pre-tokenization pattern
    * (contraction suffixes, space-prefixed letter runs / digit runs /
    * punctuation runs), simplified to the lookahead-free RE2-compatible
    * ASCII subset so the identical pattern string runs on both engines.
    * Per-language rollup: docs, whitespace tokens, BPE-ish tokens, and
    * bytes-per-token ppm — the tokenizer-efficiency metric a training
    * pipeline budgets sequence lengths with (whitespace counts alone
    * under-estimate real tokenizer output on punctuation-heavy text).
    * A pure narrow codegen map + one map-side-combined groupBy. */
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val P = "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"
    val toks = filter(regexp_extract_all(col("text"), lit(P), lit(0)),
      m => trim(m) =!= "")
    tPar(s, dir, "documents")
      .select(col("lang"),
        size(call_function("graft_words", col("text"))).cast("long").as("ws"),
        size(toks).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"), sum("bpe").as("bpe_tokens"),
        expr("(sum(chars) * 1000000) div sum(bpe)").as("chars_per_token_ppm"))
      .orderBy("lang")
  }

  val bpeTokensSql: String = {
    // SQL string literal: the contraction apostrophes must double up
    val p = """''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"""
    s"""WITH t AS (
       |  SELECT lang,
       |         CAST(len(string_split($normSql, ' ')) AS BIGINT) ws,
       |         CAST(len(list_filter(regexp_extract_all(text, '$p'),
       |                              m -> trim(m) != '')) AS BIGINT) bpe,
       |         CAST(length(text) AS BIGINT) chars
       |  FROM documents)
       |SELECT lang, CAST(count(*) AS BIGINT) n_docs,
       |       CAST(sum(ws) AS BIGINT) ws_tokens,
       |       CAST(sum(bpe) AS BIGINT) bpe_tokens,
       |       (CAST(sum(chars) AS BIGINT) * 1000000) // CAST(sum(bpe) AS BIGINT) chars_per_token_ppm
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Quality scoring: word/letter/punct/stopword counts (all integers) and a
    * boolean keep-flag from integer threshold comparisons — the shared
    * [[graft.ops.Quality]] signals + canonical keep rule. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.withSignals(
        tPar(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")))
      .withColumn("n_alpha",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long"))
      .withColumn("avg_word_len", col("n_alpha").cast("double") / col("n_words").cast("double"))
      .withColumn("quality_ok", graft.ops.Quality.keepFlag)
      .select("doc_id", "lang", "n_words", "n_alpha", "n_punct", "stop_cnt",
        "n_chars_t", "avg_word_len", "quality_ok")
      .orderBy("doc_id")

  val qualityScoreSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split($normSql, ' ')) AS BIGINT) n_words,
       |         CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) n_alpha,
       |         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) n_punct,
       |         CAST(len(list_filter(string_split($normSql, ' '),
       |              w -> w IN ('the','and','of','to','in','a','is','for','on','with'))) AS BIGINT) stop_cnt,
       |         CAST(length(text) AS BIGINT) n_chars_t
       |  FROM documents)
       |SELECT doc_id, lang, n_words, n_alpha, n_punct, stop_cnt, n_chars_t,
       |       CAST(n_alpha AS DOUBLE)/CAST(n_words AS DOUBLE) avg_word_len,
       |       (n_words >= 20 AND stop_cnt*100 >= n_words*2 AND n_punct*100 <= n_chars_t*10) quality_ok
       |FROM b ORDER BY doc_id""".stripMargin

  /** Per-source quota cap — the C4/RefinedWeb-style curation rule "keep at
    * most CAP documents per domain, best first" that stops one hot domain
    * from dominating a crawl-derived corpus. Ranking key is the stopword
    * density in exact integer ppm (a real quality proxy, engine-independent
    * arithmetic), tie-break on doc_id.
    *
    * Scale shape: ranking runs through [[graft.agg.BoundedTopK]] — exact
    * top-k as an algebraic aggregate with O(CAP) state per key, so map-side
    * combine ships CAP rows per (partition, source) no matter how hot the
    * source. The DuckDB oracle IS the window form (`row_number() OVER
    * (PARTITION BY source ...)`) the aggregator must equal row for row —
    * at 100 TB the window form sorts every row of the hottest domain on one
    * task; the aggregate form never materializes a group. */
  def sourceCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val CAP = 8
    val scored = graft.ops.Quality.withSignals(
        tPar(s, dir, "documents")
          .filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"), col("text")))
      .filter(col("n_words") > 0)
      .select(col("source"), expr("stop_cnt * 1000000 div n_words").as("score_ppm"),
        col("doc_id"))
      .as[(String, Long, Long)]
    val topk = new graft.agg.BoundedTopK[(String, Long, Long)](_._2, _._3, CAP)
    scored.groupByKey(_._1)
      .agg(topk.toColumn.name("kept"))
      .toDF("source", "kept")
      .select(col("source"), posexplode(col("kept")).as(Seq("i", "s")))
      .select(col("source"), (col("i") + 1).cast("long").as("rank"),
        col("s.id").as("doc_id"), col("s.score").as("score_ppm"))
      .orderBy("source", "rank")
  }

  val sourceCapSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source,
       |         CAST(len(list_filter(string_split($normSql, ' '),
       |              w -> w IN ('the','and','of','to','in','a','is','for','on','with'))) AS BIGINT) stop_cnt,
       |         CAST(len(string_split($normSql, ' ')) AS BIGINT) n_words
       |  FROM documents WHERE text IS NOT NULL),
       |sc AS (SELECT source, doc_id, (stop_cnt * 1000000) // n_words score_ppm
       |       FROM b WHERE n_words > 0),
       |r AS (SELECT source, doc_id, score_ppm,
       |             row_number() OVER (PARTITION BY source ORDER BY score_ppm DESC, doc_id) rn
       |      FROM sc)
       |SELECT source, CAST(rn AS BIGINT) rank, doc_id, score_ppm
       |FROM r WHERE rn <= 8 ORDER BY source, rank""".stripMargin

  /** Language-ID by distinct-marker-word scoring with a fixed tie-break
    * (n-gram/stopword heuristic; all-integer, fully deterministic). */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "s_en" -> Seq("the", "and", "of", "to", "in"),
      "s_de" -> Seq("der", "die", "und", "das", "ist"),
      "s_es" -> Seq("el", "los", "que", "por", "con"),
      "s_fr" -> Seq("le", "les", "et", "des", "une"))
    val words = call_function("graft_shingles", col("text"), lit(1))
    val base = tPar(s, dir, "documents").select(
      col("doc_id") +: col("lang") +:
        markers.map { case (n, ws) =>
          size(array_intersect(words, array(ws.map(lit): _*))).cast("long").as(n)
        }: _*)
    base.withColumn("pred_lang",
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
      .orderBy("doc_id")
  }

  val langIdSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, list_distinct(string_split($normSql, ' ')) w
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, lang,
       |         CAST(len(list_intersect(w, ['the','and','of','to','in'])) AS BIGINT) s_en,
       |         CAST(len(list_intersect(w, ['der','die','und','das','ist'])) AS BIGINT) s_de,
       |         CAST(len(list_intersect(w, ['el','los','que','por','con'])) AS BIGINT) s_es,
       |         CAST(len(list_intersect(w, ['le','les','et','des','une'])) AS BIGINT) s_fr
       |  FROM b)
       |SELECT doc_id, lang, s_en, s_de, s_es, s_fr,
       |       CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |            WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |            WHEN s_es >= s_fr THEN 'es'
       |            ELSE 'fr' END pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix: declared label × marker-heuristic
    * prediction counts — the quality report that calibrates whether the
    * lang-ID gate can be trusted per language (and surfaces the expected
    * 'zh' column: no zh markers exist, so zh docs spread over the latin
    * predictions). Rides the same scoring map as [[langId]]; one
    * map-side-combined groupBy over a |langs|² domain. */
  def langConfusion(s: SparkSession, dir: String): DataFrame =
    langId(s, dir)
      .groupBy(col("lang").as("declared"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("declared", "pred_lang")

  val langConfusionSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, lang, list_distinct(string_split($normSql, ' ')) w
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, lang,
       |         CAST(len(list_intersect(w, ['the','and','of','to','in'])) AS BIGINT) s_en,
       |         CAST(len(list_intersect(w, ['der','die','und','das','ist'])) AS BIGINT) s_de,
       |         CAST(len(list_intersect(w, ['el','los','que','por','con'])) AS BIGINT) s_es,
       |         CAST(len(list_intersect(w, ['le','les','et','des','une'])) AS BIGINT) s_fr
       |  FROM b),
       |p AS (SELECT lang,
       |             CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |                  WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |                  WHEN s_es >= s_fr THEN 'es'
       |                  ELSE 'fr' END pred_lang
       |      FROM sc)
       |SELECT lang declared, pred_lang, count(*)::BIGINT n_docs
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Document fingerprinting: md5 of the normalized text + a rolling
    * polynomial fingerprint over word hashes. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val norm = graft.ops.NearDup.normFused(col("text"))
    val words = wordsOf(norm)
    tPar(s, dir, "documents")
      .select(col("doc_id"),
        md5(norm).as("fp_md5"),
        aggregate(
          transform(words, w => polyHash(w, 31L, P1)),
          lit(0L),
          (a, h) => (a * lit(1000003L) + h) % lit(MH_P)).as("fp_poly"))
      .orderBy("doc_id")
  }

  val fingerprintSql: String =
    s"""SELECT doc_id, md5($normSql) fp_md5,
       |       list_reduce(list_prepend(0::BIGINT,
       |           list_transform(string_split($normSql, ' '),
       |                          w -> ${polyHashSql("w", 31L, P1)})),
       |         (a,h) -> (a*1000003+h) % $MH_P) fp_poly
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Exact dedup: group by content hash, keep canonical min doc_id. */
  def dedupExactDocs(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(md5(graft.ops.NearDup.normFused(col("text"))).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")

  val dedupExactDocsSql: String =
    s"""SELECT md5($normSql) fp, min(doc_id) keep_doc_id, count(*) n_copies
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cross-source DUPLICATE-PASSAGE OVERLAP MATRIX — the dataset-mixing
    * diagnostic: for every source pair (a ≤ b), how many duplicated
    * 32-token PASSAGE pairs span them. A hot off-diagonal cell means two
    * "different" corpus sources recycle the same text (double-counted in
    * the mix and a leakage channel between train splits drawn
    * per-source). Passage granularity, not whole-doc: mirrors are rarely
    * byte-identical documents, but their shared passages are (the same
    * planted structure `text_passage_scrub` scrubs).
    *
    * Scale shape — counts, never pairs: per (passage-md5, source) counts
    * roll up first, then the pair counts are pure arithmetic —
    * within-source Σ_fp c·(c−1)/2 and cross-source Σ_fp c_a·c_b via a
    * per-fp self-join whose fan-out is bounded by the number of DISTINCT
    * SOURCES sharing a passage (≤ |sources|, a small constant), so a
    * million-copy passage contributes one multiplication, not 10¹²
    * join rows. */
  def dupMatrix(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val cs = graft.util.CacheBin.persist(
      graft.ops.Chunking.spans(docs.select("doc_id", "text"), 32, 32)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(md5(col("span")).as("fp"), col("source"))
        .groupBy("fp", "source").agg(count(lit(1)).as("c")))
    val within = cs.groupBy(col("source").as("source_a"))
      .agg(sum(expr("c * (c - 1) div 2")).as("n_dup_pairs"))
      .withColumn("source_b", col("source_a"))
    val cross = cs.join(
        cs.select(col("fp").as("fp2"), col("source").as("source_b"),
          col("c").as("c2")),
        col("fp") === col("fp2") && col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(sum(col("c") * col("c2")).as("n_dup_pairs"))
    within.select("source_a", "source_b", "n_dup_pairs")
      .union(cross.select("source_a", "source_b", "n_dup_pairs"))
      .filter(col("n_dup_pairs") > 0)
      .orderBy("source_a", "source_b")
  }

  val dupMatrixSql: String =
    s"""WITH w AS (SELECT doc_id, source, string_split($normSql, ' ') words
       |           FROM documents WHERE text IS NOT NULL),
       |c0 AS (SELECT doc_id, source, len(words)::BIGINT n, words,
       |              unnest(generate_series(0, (greatest(len(words)-32,0)+31)//32)) i
       |       FROM w),
       |ch AS (SELECT source, array_to_string(words[i*32+1:i*32+32], ' ') span
       |       FROM c0),
       |cs AS (SELECT md5(span) fp, source, count(*)::BIGINT c
       |       FROM ch GROUP BY 1, 2),
       |wi AS (SELECT source source_a, source source_b,
       |              CAST(sum((c * (c - 1)) // 2) AS BIGINT) n_dup_pairs
       |       FROM cs GROUP BY 1, 2),
       |x AS (SELECT a.source source_a, b.source source_b,
       |             CAST(sum(a.c * b.c) AS BIGINT) n_dup_pairs
       |      FROM cs a JOIN cs b ON a.fp = b.fp AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT * FROM (SELECT * FROM wi UNION ALL SELECT * FROM x)
       |WHERE n_dup_pairs > 0 ORDER BY source_a, source_b""".stripMargin

  // ---- MinHash + LSH near-dup ----

  private val NUM_SIGS = 9
  private val BAND_ROWS = 3 // 3 bands x 3 rows

  /** The parameter set shared by the standalone query and the cleaning
    * pipeline (graft.ops.NearDup is the reusable operator). */
  val minhashParams: graft.ops.NearDup.Params =
    graft.ops.NearDup.Params(shingleK = 3, numSigs = NUM_SIGS,
      bands = NUM_SIGS / BAND_ROWS, hashBase = 31L, hashP = P1, sigP = MH_P)

  /** The near-dup CANDIDATE-PAIR frame over the documents table with the
    * default [[minhashParams]] — THE stored artifact of a dedup stage: a
    * production pipeline materializes the (doc_a, doc_b, inter, union,
    * jaccard) table once per corpus snapshot and every downstream consumer
    * (cluster closure, best-of-cluster, split audit/fix, retrieval-eval
    * qrels) reads it. Memoized per (session, data fingerprint) like the
    * gram/LM/kNN/BM25 artifacts; built via
    * [[graft.ops.NearDup.pairsWithJaccard]] (one (band, key) equi-join,
    * O(dups) candidates, no O(n²) scan). */
  private[queries] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.util.Memo.frame(s, "neardup_pairs",
      graft.queries.Q.tableKey(dir, "documents")) {
      // build via pairsPlan (NOT pairsWithJaccard): the memo must own the
      // artifact's persist, so the frame is one CacheBin never registered —
      // pairsWithJaccard's final CacheBin.persist would register it into
      // the BUILDING query's scope, whose release (Bench/Verify wrap every
      // query in withScope) unpersisted the artifact after its first
      // consumer, silently demoting every later hit to a full recompute
      // (round 20, ADVICE r19). The shingle-hash intermediate goes into an
      // inner scope released only after count() materializes the blocks.
      var p0: DataFrame = null
      graft.util.CacheBin.withScope {
        p0 = graft.ops.NearDup.pairsPlan(
          tPar(s, dir, "documents"), "doc_id", "text", minhashParams)
        p0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p0.count()
      }
      p0
    }

  /** MinHash signatures + LSH banding → candidate pairs → exact shingle
    * Jaccard on the candidates — the [[nearDupPairs]] artifact with the
    * default 9-sig/3-band configuration. One shuffle on (band, key); no
    * O(n²) scan; signatures in the explode → groupBy-min shape. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    nearDupPairs(s, dir).orderBy("doc_a", "doc_b")

  val minhashPairsSql: String = {
    val sigExprs = (0 until NUM_SIGS).map { i =>
      s"list_min(list_transform(hs, h -> (${2L * i + 3}*h + ${7L * i + 1}) % $MH_P)) s$i"
    }.mkString(", ")
    val bandSelects = (0 until NUM_SIGS / BAND_ROWS).map { b =>
      val ks = (0 until BAND_ROWS).map(r => s"s${b * BAND_ROWS + r}").mkString(", ")
      s"SELECT doc_id, $b band, concat_ws(':', $ks) k FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, ${shinglesSql("words", "norm", 3)} shs FROM w),
       |hs AS (SELECT doc_id, list_distinct(list_transform(shs, sg -> ${polyHashSql("sg", 31L, P1)})) hs FROM sh),
       |sig AS (SELECT doc_id, $sigExprs FROM hs),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) inter_cnt,
       |       CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS BIGINT) union_cnt,
       |       CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |         / CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE) jaccard
       |FROM cand JOIN hs x ON doc_a = x.doc_id JOIN hs y ON doc_b = y.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- SimHash ----

  /** 60-bit SimHash per document from two 30-bit word hashes; bit b is set
    * iff the ±1 vote sum over distinct words is > 0.
    *
    * Shape: ONE groupBy(doc_id) with 60 integer vote-sum aggregates over the
    * (doc, word-hash) rows — no 60× row blowup, no second shuffle. (The
    * original bits-table crossJoin pushed |words|×60 rows through two
    * aggregations; the vote sums are identical.) Map-side combine reduces
    * each partition to one 60-column row per doc before the only exchange. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashRaw(s, dir).orderBy("doc_id")

  /** [[simhash]] without the output ordering — the form downstream operators
    * (LSH banding) consume, so no global sort is paid mid-pipeline.
    *
    * The whole fingerprint is ONE native expression
    * ([[graft.functions.SimHash60]]) — a narrow map with NO shuffle at all
    * (the earlier shapes paid an explode + 60-aggregate groupBy exchange);
    * bit-equality with the vote-sum definition is re-proven by the DuckDB
    * oracle every round and a golden spec. */
  private def simhashRaw(s: SparkSession, dir: String): DataFrame =
    tPar(s, dir, "documents")
      .select(col("doc_id"),
        call_function("graft_simhash60",
          call_function("graft_shingles", col("text"), lit(1))).as("simhash"))

  private val simhashCte: String =
    s"""wrd AS (SELECT doc_id, unnest(list_distinct(string_split($normSql, ' '))) w FROM documents),
       |wh AS (SELECT doc_id, ${polyHashSql("w", 31L, P1)} h1, ${polyHashSql("w", 131L, P2)} h2 FROM wrd),
       |bits AS (SELECT g b, (1::BIGINT << g) pow2b, (1::BIGINT << (g % 30)) pow2m, g < 30 low
       |         FROM (SELECT unnest(generate_series(0, 59)) g)),
       |votes AS (SELECT doc_id, b, pow2b,
       |                 sum(CASE WHEN ((CASE WHEN low THEN h1 ELSE h2 END) // pow2m) % 2 = 1
       |                          THEN 1 ELSE -1 END) v
       |          FROM wh, bits GROUP BY 1, 2, 3),
       |sh AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN pow2b ELSE 0 END) AS BIGINT) simhash
       |       FROM votes GROUP BY 1)""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin

  /** Closest SimHash pairs by Hamming distance (top-50, deterministic order).
    * The full pair scan is the small-data oracle; at scale the same simhash
    * column feeds LSH-style banding on bit chunks. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    // both sides of the pair self-join read this — persist or compute twice
    val sh = graft.util.CacheBin.persist(simhashRaw(s, dir))
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val simhashPairsSql: String =
    s"""WITH $simhashCte
       |SELECT a.doc_id doc_a, b.doc_id doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |ORDER BY hamming, doc_a, doc_b LIMIT 50""".stripMargin

  /** SimHash near-dup clusters at scale: collapse documents to DISTINCT
    * simhash values first (a groupBy — on clustered corpora this shrinks the
    * working set by the duplication factor and is exactly "exact dedup
    * before near-dup"), then bit-chunk LSH banding over the values
    * ([[graft.ops.NearDup.hammingPairs]], 20 combination keys of 3-of-6
    * 10-bit blocks — by pigeonhole EXACTLY the hamming ≤ 3 value pairs,
    * with a 2^30 key space so candidates stay linear in the corpus; the
    * old 4×15-bit single-block keys measured 16× slower on 10× more docs
    * at the 100× scale tier, SCALE.md). One row per cluster pair with its
    * doc-pair multiplicity `n_pairs` (n_a·n_b across clusters, n·(n−1)/2
    * within), so Σ n_pairs equals the count of the naive doc-level pair scan
    * without ever materializing the quadratic doc-pair set — at sf0.1 that
    * is 527k doc pairs from under 4k value-pair rows; at 100 TB the doc-pair
    * expansion would be the job that never finishes. */
  def simhashLsh(s: SparkSession, dir: String): DataFrame = {
    // consumed by both sides of the chunk self-join plus the within-cluster
    // arm — persist once or the whole simhash pipeline runs three times
    val vals = graft.util.CacheBin.persist(simhashRaw(s, dir)
      .groupBy("simhash")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n")))
    val within = vals.filter(col("n") > 1)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        lit(0L).as("hamming"), expr("(n * (n - 1)) div 2").as("n_pairs"))
    // cluster sizes ride through the chunk join (carry = n) — joining them
    // back on afterwards would shuffle the pair set twice more
    val cross = graft.ops.NearDup.hammingPairs(
        vals.select(col("rep"), col("simhash"), col("n")), "rep", "simhash",
        totalBits = 60, bands = 6, maxHamming = 3, carry = Seq("n"))
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("hamming"), (col("n_a") * col("n_b")).as("n_pairs"))
    within.unionAll(cross).orderBy("rep_a", "rep_b")
  }

  val simhashLshSql: String =
    s"""WITH $simhashCte,
       |vals AS (SELECT simhash, min(doc_id) rep, count(*) n FROM sh GROUP BY 1),
       |within AS (SELECT rep rep_a, rep rep_b, 0::BIGINT hamming,
       |                  CAST((n * (n - 1)) // 2 AS BIGINT) n_pairs
       |           FROM vals WHERE n > 1),
       |crossp AS (SELECT a.rep rep_a, b.rep rep_b,
       |                  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) hamming,
       |                  CAST(a.n * b.n AS BIGINT) n_pairs
       |           FROM vals a JOIN vals b ON a.rep < b.rep
       |           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
       |SELECT * FROM (SELECT * FROM within UNION ALL SELECT * FROM crossp)
       |ORDER BY rep_a, rep_b""".stripMargin

  /** Word-bigram Jaccard near-dup within language partitions: top-50 most
    * similar same-language pairs (brute-force oracle for the LSH path). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val bg = tPar(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        call_function("graft_shingles", col("text"), lit(2)).as("bg"))
    val a = bg.select(col("lang"), col("doc_id").as("doc_a"), col("bg").as("bg_a"))
    val b = bg.select(col("lang").as("lang2"), col("doc_id").as("doc_b"), col("bg").as("bg_b"))
    a.join(b, col("lang") === col("lang2") && col("doc_a") < col("doc_b"))
      .select(col("lang"), col("doc_a"), col("doc_b"),
        size(array_intersect(col("bg_a"), col("bg_b"))).cast("long").as("inter_cnt"),
        size(array_union(col("bg_a"), col("bg_b"))).cast("long").as("union_cnt"))
      .withColumn("jaccard", col("inter_cnt").cast("double") / col("union_cnt").cast("double"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val ngramJaccardSql: String =
    s"""WITH n AS (SELECT doc_id, lang, $normSql norm FROM documents),
       |w AS (SELECT doc_id, lang, string_split(norm, ' ') words, norm FROM n),
       |bg AS (SELECT doc_id, lang, list_distinct(${shinglesSql("words", "norm", 2)}) bg FROM w),
       |p AS (SELECT a.lang, a.doc_id doc_a, b.doc_id doc_b,
       |             CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) inter_cnt,
       |             CAST(len(list_distinct(list_concat(a.bg, b.bg))) AS BIGINT) union_cnt
       |      FROM bg a JOIN bg b ON a.lang = b.lang AND a.doc_id < b.doc_id)
       |SELECT lang, doc_a, doc_b, inter_cnt, union_cnt,
       |       CAST(inter_cnt AS DOUBLE)/CAST(union_cnt AS DOUBLE) jaccard
       |FROM p ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  /** Same-language near-dup pairs at scale — the banded twin of the
    * brute-force text_ngram_jaccard scan: word-bigram shingles through
    * [[graft.ops.NearDup.pairsWithJaccard]] (one (band,key) equi-join,
    * O(dups) candidates), thresholded at jaccard ≥ 1/2 with exact integer
    * arithmetic. The oracle mirrors the banding procedure, so the
    * probabilistic candidate set is bit-identical across engines. */
  def ngramLsh(s: SparkSession, dir: String): DataFrame = {
    val p = graft.ops.NearDup.Params(shingleK = 2, numSigs = NUM_SIGS,
      bands = NUM_SIGS / BAND_ROWS, hashBase = 31L, hashP = P1, sigP = MH_P)
    val docs = tPar(s, dir, "documents")
    val pairs = graft.ops.NearDup.pairsWithJaccard(docs, "doc_id", "text", p)
      .filter(col("inter_cnt") * 2 >= col("union_cnt"))
    val la = docs.select(col("doc_id").as("ida"), col("lang"))
    val lb = docs.select(col("doc_id").as("idb"), col("lang").as("lang_b"))
    pairs.join(la, col("doc_a") === col("ida")).join(lb, col("doc_b") === col("idb"))
      .filter(col("lang") === col("lang_b"))
      .select(col("lang"), col("doc_a"), col("doc_b"),
        col("inter_cnt"), col("union_cnt"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT bigram-shingle-hash Jaccard similarity join at jaccard ≥ 3/5 —
    * the deterministic complement of text_ngram_lsh: prefix-filtered with
    * PPJoin's positional filter ([[graft.ops.SimilarityJoin]], rare-first
    * global-df token order, one prefix-token equi-join, sorted-merge
    * verify) so the Spark side never scans the O(n²) pair set, while the
    * ORACLE is the independent brute-force all-pairs scan over the SAME
    * portable shingle hashes (the minhash-family convention). A hash match
    * therefore also PROVES the prefix + positional filters lossless on
    * real data — any dropped candidate would show as a missing row. */
  def ssjoin(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
      .select(col("doc_id"),
        call_function("graft_shingle_hashes", col("text"),
          lit(2), lit(31L), lit(P1)).as("bg"))
    graft.ops.SimilarityJoin.jaccardSelfJoin(docs, "doc_id", "bg", 3, 5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter_cnt"), col("union_cnt"),
        (col("inter_cnt").cast("double") / col("union_cnt").cast("double"))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val ssjoinSql: String =
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, list_distinct(list_transform(
       |         ${shinglesSql("words", "norm", 2)},
       |         g -> ${polyHashSql("g", 31L, 1000000007L)})) bg FROM w),
       |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
       |             CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) inter_cnt,
       |             CAST(len(a.bg) + len(b.bg) - len(list_intersect(a.bg, b.bg)) AS BIGINT) union_cnt
       |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, inter_cnt, union_cnt,
       |       CAST(inter_cnt AS DOUBLE)/CAST(union_cnt AS DOUBLE) jaccard
       |FROM p WHERE inter_cnt * 5 >= union_cnt * 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** EXACT containment join at C(A→B) = |A∩B|/|A| ≥ 9/10 over the same
    * portable bigram-shingle hashes as [[ssjoin]] — the ASYMMETRIC
    * predicate behind subset-duplication and contamination sweeps (a doc
    * quoted inside a wrapper has containment ≈ 1 but Jaccard ≪ 1, so the
    * Jaccard join never sees it). One-sided prefix filter + positional
    * bound ([[graft.ops.SimilarityJoin.containmentSelfJoin]]); the oracle
    * is the independent brute-force ordered-pairs scan, so a hash match
    * proves the probe/index filters lossless on real data.
    *
    * Runs on the EXACT-DEDUPED corpus: identical shingle sets collapse to
    * their min-id representative first (canonical sorted-array group key,
    * identical in both engines). That is the realistic pipeline order —
    * text_dedup_exact owns byte-duplicate removal — and it is ALSO the
    * scale guard this op needs: on a duplicate-heavy tier every copy
    * pairs with every copy at containment 1, so both the candidate join
    * and the ANSWER itself grow quadratically in the duplication factor
    * (measured: the replicated 100× rehearsal tier turned the verify join
    * into a 25+ minute spilling SMJ before this collapse; after it, the
    * tier runs in seconds and the output is the duplication-free truth). */
  def containJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(call_function("graft_shingle_hashes",
          col("text"), lit(3), lit(31L), lit(P1)))).as("bg"))
      .groupBy("bg").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "bg")
    graft.ops.SimilarityJoin.containmentSelfJoin(docs, "doc_id", "bg", 9, 10)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter_cnt"), col("len_a").as("n_a"), col("len_b").as("n_b"),
        expr("inter_cnt * 1000000L div len_a").as("contain_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  val containJoinSql: String =
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(
       |         ${shinglesSql("words", "norm", 3)},
       |         g -> ${polyHashSql("g", 31L, 1000000007L)}))) bg FROM w),
       |reps AS (SELECT min(doc_id) doc_id, bg FROM sh GROUP BY bg),
       |p AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
       |             CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) inter_cnt,
       |             CAST(len(a.bg) AS BIGINT) n_a, CAST(len(b.bg) AS BIGINT) n_b
       |      FROM reps a JOIN reps b ON a.doc_id <> b.doc_id)
       |SELECT doc_a, doc_b, inter_cnt, n_a, n_b,
       |       CAST(inter_cnt * 1000000 // n_a AS BIGINT) contain_ppm
       |FROM p WHERE inter_cnt * 10 >= n_a * 9
       |ORDER BY doc_a, doc_b""".stripMargin

  val ngramLshSql: String = {
    val sigExprs = (0 until NUM_SIGS).map { i =>
      s"list_min(list_transform(hs, h -> (${2L * i + 3}*h + ${7L * i + 1}) % $MH_P)) s$i"
    }.mkString(", ")
    val bandSelects = (0 until NUM_SIGS / BAND_ROWS).map { b =>
      val ks = (0 until BAND_ROWS).map(r => s"s${b * BAND_ROWS + r}").mkString(", ")
      s"SELECT doc_id, $b band, concat_ws(':', $ks) k FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH n AS (SELECT doc_id, lang, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, ${shinglesSql("words", "norm", 2)} shs FROM w),
       |hs AS (SELECT doc_id, list_distinct(list_transform(shs, sg -> ${polyHashSql("sg", 31L, P1)})) hs FROM sh),
       |sig AS (SELECT doc_id, $sigExprs FROM hs),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id),
       |p AS (SELECT doc_a, doc_b,
       |             CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) inter_cnt,
       |             CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS BIGINT) union_cnt,
       |             CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |               / CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE) jaccard
       |      FROM cand JOIN hs x ON doc_a = x.doc_id JOIN hs y ON doc_b = y.doc_id)
       |SELECT a.lang, doc_a, doc_b, inter_cnt, union_cnt, jaccard
       |FROM p JOIN n a ON doc_a = a.doc_id JOIN n b ON doc_b = b.doc_id
       |WHERE a.lang = b.lang AND inter_cnt * 2 >= union_cnt
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Duplicate CLUSTERS: connected components over the minhash-LSH pair
    * graph at Jaccard ≥ 1/2 (exact integer threshold) — the transitive
    * grouping step a removal policy needs (a~b, b~c ⇒ {a,b,c} even when LSH
    * never paired a,c directly). [[graft.ops.DupGroups]] runs min-label
    * propagation to a fixpoint (one join + one groupBy per round, rounds =
    * component diameter); the DuckDB oracle recomputes the same fixpoint as
    * a recursive transitive closure — identical by construction, so the
    * iterative distributed algorithm is hash-checked end to end. */
  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
      .filter(col("inter_cnt") * 2 >= col("union_cnt"))
    graft.ops.DupGroups.clusters(pairs, "doc_a", "doc_b").orderBy("cluster")
  }

  /** Cross-document duplicated-substring mass — the signal behind
    * exact-substring dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): for every document, how much of it is
    * word 4-gram windows that ALSO appear in some other document. Reports
    * the 50 most-duplicated documents (window count, shared-window count,
    * integer percent) — the ranking a span-removal pass is seeded from.
    * This is the cross-doc complement of text_repetition's within-doc
    * signals.
    *
    * Shape at scale: the inverted-index pattern over window hashes — one
    * narrow fused shingle-hash map (distinct per doc, the operator's
    * "window content" semantics), one map-side-combined df groupBy, one
    * join of the window postings back to the df table, one final
    * groupBy(doc_id). Identical machinery to tf-idf, so it scales the
    * same way; no pair materialization anywhere (the naive "which docs
    * share a span" pair scan is quadratic in duplication). */
  def sharedNgrams(s: SparkSession, dir: String): DataFrame = {
    val K = 4
    // postings feed the df groupBy AND the join back — persist, one scan
    val win = graft.util.CacheBin.persist(tPar(s, dir, "documents")
      .select(col("doc_id"),
        explode(call_function("graft_shingle_hashes", col("text"),
          lit(K), lit(31L), lit(1000000007L))).as("wh")))
    val dfreq = win.groupBy("wh").agg(count(lit(1)).as("df"))
    win.join(dfreq, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_pct", expr("(n_shared * 100) div n_windows"))
      .filter(col("n_shared") > 0)
      .orderBy(col("shared_pct").desc, col("doc_id"))
      .limit(50)
  }

  val sharedNgramsSql: String =
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, ${shinglesSql("words", "norm", 4)} shs FROM w),
       |win AS (SELECT doc_id, unnest(list_distinct(
       |          list_transform(shs, sg -> ${polyHashSql("sg", 31L, P1)}))) wh
       |        FROM sh),
       |dfreq AS (SELECT wh, count(*) df FROM win GROUP BY 1),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_windows,
       |              CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) n_shared
       |       FROM win JOIN dfreq USING (wh) GROUP BY 1)
       |SELECT doc_id, n_windows, n_shared,
       |       (n_shared * 100) // n_windows shared_pct
       |FROM sc WHERE n_shared > 0
       |ORDER BY shared_pct DESC, doc_id LIMIT 50""".stripMargin

  /** Span-level exact-substring removal (Lee et al. 2021) — the REWRITE
    * pass seeded from [[sharedNgrams]]'s signal: every word 4-gram window
    * whose content occurs anywhere else in the corpus (other docs and
    * within-doc repeats both count) is removed, keeping the first
    * occurrence — the lexicographic (doc_id, position) minimum. Reports
    * the 25 most-rewritten documents with their full rewritten text, so
    * the oracle hash pins the reconstruction byte-for-byte, not just the
    * counts. Machinery: [[graft.ops.SpanDedup]]; the DuckDB mirror
    * recomputes the same canonical-instance choice with a window rank and
    * rebuilds kept text by ordered aggregation. */
  def spanDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.SpanDedup.rewrite(tPar(s, dir, "documents"), "doc_id", "text", 4)
      .filter(col("n_kept") < col("n_tokens"))
      .orderBy((col("n_tokens") - col("n_kept")).desc, col("doc_id"))
      .limit(25)

  val spanDedupSql: String =
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, ${shinglesSql("words", "norm", 4)} shs FROM w),
       |wi AS (SELECT doc_id, unnest(generate_series(1, len(shs))) pos,
       |              unnest(shs) sg FROM sh),
       |wh AS (SELECT doc_id, pos, ${polyHashSql("sg", 31L, P1)} h FROM wi),
       |red AS (SELECT doc_id, pos FROM (
       |          SELECT doc_id, pos,
       |                 row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) rn
       |          FROM wh) WHERE rn >= 2),
       |tok AS (SELECT doc_id, unnest(generate_series(1, len(words))) j,
       |               unnest(words) word FROM w),
       |cov AS (SELECT DISTINCT t.doc_id, t.j
       |        FROM tok t JOIN red r ON t.doc_id = r.doc_id
       |          AND t.j BETWEEN r.pos AND r.pos + 3),
       |kept AS (SELECT t.doc_id, t.j, t.word
       |         FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
       |         WHERE c.j IS NULL),
       |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_kept,
       |              array_to_string(list(word ORDER BY j), ' ') kept_text
       |       FROM kept GROUP BY 1)
       |SELECT w.doc_id, CAST(len(words) AS BIGINT) n_tokens,
       |       coalesce(ka.n_kept, 0) n_kept,
       |       coalesce(ka.kept_text, '') kept_text
       |FROM w LEFT JOIN ka ON w.doc_id = ka.doc_id
       |WHERE CAST(len(words) AS BIGINT) > coalesce(ka.n_kept, 0)
       |ORDER BY CAST(len(words) AS BIGINT) - coalesce(ka.n_kept, 0) DESC, w.doc_id
       |LIMIT 25""".stripMargin

  /** BYTE-span exact-substring removal (Lee et al. 2021's actual 50-byte
    * granularity): every length-50 character window of the normalized text
    * (chars == bytes after [a-z0-9 ] normalization) occurring anywhere
    * else in the corpus is removed, keeping the lexicographic
    * (doc_id, position) first. Catches word-boundary-crossing duplicates
    * the word-4-gram [[spanDedup]] misses (SpanDedupSpec pins one).
    * Machinery: [[graft.ops.SpanDedup.rewriteBytes]] — ONE rolling-hash
    * native expression for all window hashes, one map-side-combined
    * groupBy, narrow char-filter reconstruction. Reports the 25
    * most-rewritten docs with full rewritten text, as [[spanDedup]]. */
  def spanBytes(s: SparkSession, dir: String): DataFrame =
    graft.ops.SpanDedup.rewriteBytes(tPar(s, dir, "documents"), "doc_id", "text", 50)
      .filter(col("n_kept") < col("n_chars"))
      .orderBy((col("n_chars") - col("n_kept")).desc, col("doc_id"))
      .limit(25)

  val spanBytesSql: String = {
    val L = 50
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |wh AS (SELECT doc_id, pos,
       |              ${polyHashSql(s"substring(norm, pos, $L)", 31L, P1)} h
       |       FROM (SELECT doc_id, norm,
       |               unnest(generate_series(1, greatest(length(norm) - ${L - 1}, 1))) pos
       |             FROM n)),
       |red AS (SELECT doc_id, pos FROM (
       |          SELECT doc_id, pos,
       |                 row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) rn
       |          FROM wh) WHERE rn >= 2),
       |tok AS (SELECT doc_id, j, substring(norm, j, 1) ch FROM (
       |          SELECT doc_id, norm, unnest(generate_series(1, length(norm))) j
       |          FROM n)),
       |cov AS (SELECT DISTINCT t.doc_id, t.j
       |        FROM tok t JOIN red r ON t.doc_id = r.doc_id
       |          AND t.j BETWEEN r.pos AND r.pos + ${L - 1}),
       |kept AS (SELECT t.doc_id, t.j, t.ch
       |         FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
       |         WHERE c.j IS NULL),
       |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_kept,
       |              array_to_string(list(ch ORDER BY j), '') kept_text
       |       FROM kept GROUP BY 1)
       |SELECT n.doc_id, CAST(length(n.norm) AS BIGINT) n_chars,
       |       coalesce(ka.n_kept, 0) n_kept,
       |       coalesce(ka.kept_text, '') kept_text
       |FROM n LEFT JOIN ka ON n.doc_id = ka.doc_id
       |WHERE CAST(length(n.norm) AS BIGINT) > coalesce(ka.n_kept, 0)
       |ORDER BY CAST(length(n.norm) AS BIGINT) - coalesce(ka.n_kept, 0) DESC, n.doc_id
       |LIMIT 25""".stripMargin
  }

  /** BPE merge-rule training over the corpus word-frequency table
    * ([[graft.ops.BpeTrain]]): the 6 most frequent adjacent symbol pairs,
    * each merged before counting the next — tokenizer TRAINING, where
    * [[bpeTokens]] is tokenizer inference. The DuckDB mirror replays all
    * six rounds exactly (same tie-break, same left-to-right fold via
    * `list_reduce`), so the learned rules and their counts hash-match. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.ops.BpeTrain.merges(tPar(s, dir, "documents"), "text", k = 6)
      .orderBy("rank")

  val bpeMergesSql: String = {
    val k = 6
    // fold applying round r's winning merge (mr.l, mr.r) to a symbol
    // string: exact left-to-right non-overlapping, like the Spark fold
    def foldSql(prev: String, m: String): String =
      s"""trim(list_reduce(list_prepend('', string_split($prev.syms, ' ')),
         |  (acc, x) -> CASE WHEN ends_with(acc, ' ' || $m.l) AND x = $m.r
         |              THEN left(acc, length(acc) - length($m.l)) || $m.l || $m.r
         |              ELSE acc || ' ' || x END))""".stripMargin
    val rounds = (1 to k).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT l, r, CAST(sum(freq) AS BIGINT) cnt FROM (
         |  SELECT freq, sy[i] l, sy[i + 1] r FROM (
         |    SELECT freq, sy, unnest(generate_series(1, len(sy) - 1)) i
         |    FROM (SELECT freq, string_split(syms, ' ') sy FROM $prev)))
         |  GROUP BY 1, 2),
         |m$r AS (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |s$r AS (SELECT $prev.freq, ${foldSql(prev, s"m$r")} syms FROM $prev, m$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) rank, l lhs, r rhs, cnt FROM m$r")
      .mkString("\nUNION ALL\n")
    s"""WITH n AS (SELECT $normSql norm FROM documents),
       |t AS (SELECT unnest(string_split(norm, ' ')) w FROM n),
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) freq FROM t WHERE w <> '' GROUP BY 1),
       |s0 AS (SELECT freq, array_to_string(string_split(w, ''), ' ') syms FROM wf),
       |$rounds
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** Classifier-based quality scoring (the CCNet/GPT-3 quality-filter
    * shape): a hashed bag-of-words linear model ([[graft.ops.Quality
    * .linearScore]], fastText's architecture) scores every document as a
    * pure narrow fold — the model is a 256-entry literal weight table, so
    * scoring needs no broadcast, no join, no shuffle. Reports the 25
    * lowest-scoring documents (the filter-calibration tail, like
    * [[graft.queries.CorpusQueries lmScore]]); exact integer sums and
    * integer-divided means, bit-equal across engines. */
  def qualityModel(s: SparkSession, dir: String): DataFrame = {
    val wts = graft.ops.Quality.demoWeights(256)
    // NULL text is unscorable, not low-quality: filter it on BOTH engines
    // (Spark sorts NULL first ASC, DuckDB last — the SpanDedup discipline)
    tPar(s, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(call_function("graft_words", col("text"))).cast("long").as("n_words"),
        graft.ops.Quality.linearScore(col("text"), wts).as("score_sum"))
      .withColumn("score_mean", expr("score_sum div greatest(n_words, 1)"))
      .orderBy("score_mean", "doc_id").limit(25)
  }

  val qualityModelSql: String = {
    val wts = graft.ops.Quality.demoWeights(256).mkString("[", ", ", "]")
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents WHERE "text" IS NOT NULL),
       |w AS (SELECT doc_id, string_split(norm, ' ') words FROM n),
       |s AS (SELECT doc_id, CAST(len(words) AS BIGINT) n_words,
       |             list_reduce(list_prepend(0::BIGINT, list_transform(words,
       |               t -> ($wts::BIGINT[])[(${polyHashSql("t", 31L, P1)} % 256)::INT + 1])),
       |               (a, x) -> a + x) score_sum
       |      FROM w)
       |SELECT doc_id, n_words, score_sum,
       |       score_sum // greatest(n_words, 1) score_mean
       |FROM s ORDER BY score_mean, doc_id LIMIT 25""".stripMargin
  }

  /** Duplicate-cluster representative selection by QUALITY — the removal
    * policy real pipelines use instead of keep-lowest-id: inside every
    * near-dup cluster ([[dupClusters]]' CC machinery) keep the
    * highest-quality member (the [[qualityModel]] linear score; ties on
    * the lower doc_id). Composition query: CC membership (one join + one
    * map-side groupBy per round) ⋈ narrow quality scores → one window per
    * cluster — the cluster table is O(duplicated docs), far smaller than
    * the corpus, so the ranking shuffle is on the small side. */
  def clusterBest(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val pairs = nearDupPairs(s, dir)
      .filter(col("inter_cnt") * 2 >= col("union_cnt"))
    val members = graft.ops.DupGroups.connectedComponentsAuto(pairs, "doc_a", "doc_b")
    val scores = docs.select(col("doc_id"),
      graft.ops.Quality.linearScore(col("text"),
        graft.ops.Quality.demoWeights(256)).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("comp").orderBy(col("score").desc, col("id"))
    members.join(scores, members("id") === scores("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("comp").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        max(when(col("rn") === 1, col("id"))).as("best_id"),
        max(when(col("rn") === 1, col("score"))).as("best_score"))
      .orderBy("cluster")
  }

  val clusterBestSql: String = {
    val mp = minhashPairsSql.replace("ORDER BY doc_a, doc_b", "")
    val wts = graft.ops.Quality.demoWeights(256).mkString("[", ", ", "]")
    s"""WITH RECURSIVE mp AS ($mp),
       |near AS (SELECT doc_a, doc_b FROM mp WHERE inter_cnt * 2 >= union_cnt),
       |e AS (SELECT doc_a a, doc_b b FROM near
       |      UNION SELECT doc_b a, doc_a b FROM near),
       |r AS (SELECT a, a b FROM (SELECT DISTINCT a FROM e)
       |      UNION
       |      SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
       |c AS (SELECT a id, min(b) comp FROM r GROUP BY a),
       |n2 AS (SELECT doc_id, $normSql norm FROM documents),
       |w2 AS (SELECT doc_id, string_split(norm, ' ') words FROM n2),
       |sc AS (SELECT doc_id,
       |              list_reduce(list_prepend(0::BIGINT, list_transform(words,
       |                t -> ($wts::BIGINT[])[(${polyHashSql("t", 31L, P1)} % 256)::INT + 1])),
       |                (a, x) -> a + x) score
       |       FROM w2),
       |j AS (SELECT c.comp, c.id, sc.score,
       |             row_number() OVER (PARTITION BY c.comp
       |                                ORDER BY sc.score DESC, c.id) rn
       |      FROM c JOIN sc ON c.id = sc.doc_id)
       |SELECT comp AS "cluster", CAST(count(*) AS BIGINT) n_docs,
       |       max(CASE WHEN rn = 1 THEN id END) best_id,
       |       CAST(max(CASE WHEN rn = 1 THEN score END) AS BIGINT) best_score
       |FROM j GROUP BY comp ORDER BY "cluster"""".stripMargin
  }

  val dupClustersSql: String = {
    val mp = minhashPairsSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH RECURSIVE mp AS ($mp),
       |near AS (SELECT doc_a, doc_b FROM mp WHERE inter_cnt * 2 >= union_cnt),
       |e AS (SELECT doc_a a, doc_b b FROM near
       |      UNION SELECT doc_b a, doc_a b FROM near),
       |r AS (SELECT a, a b FROM (SELECT DISTINCT a FROM e)
       |      UNION
       |      SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
       |c AS (SELECT a doc_id, min(b) comp FROM r GROUP BY a)
       |SELECT comp AS "cluster", CAST(count(*) AS BIGINT) n_docs,
       |       array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',') doc_ids
       |FROM c GROUP BY comp ORDER BY "cluster"""".stripMargin
  }

  /** Incremental ingestion dedup ([[graft.ops.IncrDedup]]): the new
    * snapshot (doc_id % 5 = 0 — an interleaved 20% of the corpus) is
    * classified against the existing corpus and itself: exact fingerprint
    * tiers first, then MinHash-LSH near-dup at Jaccard ≥ 1/2 probed ONLY
    * from the new batch — the existing corpus is never self-paired, which
    * is the property that keeps continuous ingestion open-ended at scale.
    * Oracle mirrors every tier (md5 fingerprints, the 9-sig/3-band minhash
    * construction, the probe×index candidate join, exact hash-set Jaccard),
    * so candidates and classifications match bit-for-bit. */
  def incrDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
      .select(col("doc_id"), col("text"), (col("doc_id") % 5 === 0).as("is_new"))
    graft.ops.IncrDedup.classify(docs, "doc_id", "text", "is_new", 1L, 2L)
      .orderBy("doc_id")
  }

  val incrDedupSql: String = {
    val sigExprs = (0 until NUM_SIGS).map { i =>
      s"list_min(list_transform(hs, h -> (${2L * i + 3}*h + ${7L * i + 1}) % $MH_P)) s$i"
    }.mkString(", ")
    val bandSelects = (0 until NUM_SIGS / BAND_ROWS).map { b =>
      val ks = (0 until BAND_ROWS).map(r => s"s${b * BAND_ROWS + r}").mkString(", ")
      s"SELECT doc_id, $b band, concat_ws(':', $ks) k FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |sh AS (SELECT doc_id, ${shinglesSql("words", "norm", 3)} shs FROM w),
       |hs AS (SELECT doc_id, list_distinct(list_transform(shs, sg -> ${polyHashSql("sg", 31L, P1)})) hs FROM sh),
       |sig AS (SELECT doc_id, $sigExprs FROM hs),
       |bands AS ($bandSelects),
       |m AS (SELECT doc_id, (doc_id % 5 = 0) is_new, md5(norm) fp FROM n),
       |old_min AS (SELECT fp, min(doc_id) old_id FROM m WHERE NOT is_new GROUP BY 1),
       |newd AS (SELECT doc_id, fp FROM m WHERE is_new),
       |ex_old AS (SELECT d.doc_id, 'exact_dup_old' status, o.old_id partner
       |           FROM newd d JOIN old_min o USING (fp)),
       |rest AS (SELECT d.doc_id, d.fp FROM newd d LEFT JOIN old_min o USING (fp)
       |         WHERE o.old_id IS NULL),
       |canon AS (SELECT fp, min(doc_id) canon FROM rest GROUP BY 1),
       |ex_new AS (SELECT r.doc_id, 'exact_dup_new' status, c.canon partner
       |           FROM rest r JOIN canon c USING (fp) WHERE r.doc_id != c.canon),
       |probe AS (SELECT r.doc_id FROM rest r JOIN canon c
       |          ON r.fp = c.fp AND r.doc_id = c.canon),
       |idx AS (SELECT doc_id, TRUE is_old FROM m WHERE NOT is_new
       |        UNION ALL SELECT doc_id, FALSE FROM probe),
       |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
       |         FROM bands a JOIN probe p ON a.doc_id = p.doc_id
       |         JOIN bands b ON a.band = b.band AND a.k = b.k
       |         JOIN idx i ON b.doc_id = i.doc_id
       |                   AND (i.is_old OR b.doc_id < a.doc_id)),
       |near AS (SELECT doc_a doc_id, 'near_dup' status, min(doc_b) partner
       |         FROM cand JOIN hs x ON doc_a = x.doc_id JOIN hs y ON doc_b = y.doc_id
       |         WHERE len(list_intersect(x.hs, y.hs)) * 2 >=
       |               (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) * 1
       |         GROUP BY 1),
       |cls AS (SELECT * FROM ex_old UNION ALL SELECT * FROM ex_new
       |        UNION ALL SELECT * FROM near),
       |keepd AS (SELECT d.doc_id, 'keep' status, CAST(-1 AS BIGINT) partner
       |          FROM newd d LEFT JOIN cls c ON d.doc_id = c.doc_id
       |          WHERE c.doc_id IS NULL)
       |SELECT doc_id, status, CAST(partner AS BIGINT) partner
       |FROM (SELECT * FROM cls UNION ALL SELECT * FROM keepd)
       |ORDER BY doc_id""".stripMargin
  }

  /** Overlapping fixed-size token chunks per document (64-token chunks,
    * 48-token stride → 16-token overlap) — see [[graft.ops.Chunking]].
    * Chunk md5s are engine-identical (md5 of the exact normalized token
    * span), so the oracle hash-checks chunk content, not just counts. */
  def chunking(s: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.chunks(
        tPar(s, dir, "documents").select("doc_id", "text"))
      .orderBy("doc_id", "chunk_no")

  val chunkingSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') words FROM documents),
       |c AS (SELECT doc_id, len(words)::BIGINT n, words,
       |             unnest(generate_series(0, (greatest(len(words)-64,0)+47)//48)) i
       |      FROM w)
       |SELECT doc_id, CAST(i AS BIGINT) chunk_no,
       |       CAST(least(64, n - i*48) AS BIGINT) n_tokens,
       |       md5(array_to_string(words[i*48+1:i*48+64], ' ')) chunk_md5
       |FROM c ORDER BY doc_id, chunk_no""".stripMargin

  /** Cross-document chunk-level dedup — the composition the chunk md5
    * identity exists FOR: chunks shared by >1 document, with the keep-min
    * canonical doc. One groupBy on the chunk hash (map-side combined);
    * at scale this is the dedup pass run between chunking and packing. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Chunking.chunks(
        tPar(s, dir, "documents").select("doc_id", "text"))
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min("doc_id").as("keep_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("keep_doc", "chunk_md5")

  val chunkDedupSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') words
       |           FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, len(words)::BIGINT n, words,
       |             unnest(generate_series(0, (greatest(len(words)-64,0)+47)//48)) i
       |      FROM w),
       |ch AS (SELECT doc_id, md5(array_to_string(words[i*48+1:i*48+64], ' ')) chunk_md5
       |       FROM c)
       |SELECT chunk_md5, count(*)::BIGINT n_copies,
       |       count(DISTINCT doc_id)::BIGINT n_docs,
       |       min(doc_id) keep_doc, max(doc_id) max_doc
       |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
       |ORDER BY keep_doc, chunk_md5""".stripMargin

  /** Passage-level corpus dedup WITH REWRITE — the RefinedWeb/CCNet-style
    * scrub pass that [[chunkDedup]] only reports on: split every document
    * into NON-overlapping 32-token passages, keep each distinct passage
    * only at its globally-first occurrence (smallest (doc_id, chunk_no) —
    * also collapsing within-document repeats), and reassemble each
    * document from its surviving passages in order. Output per doc:
    * passage counts, surviving token count, and the md5 of the rewritten
    * text (small, hashable oracle row; the full text is one `array_join`
    * away for a sink).
    *
    * Scale shape: chunking is the zero-shuffle codegen split; the
    * first-occurrence election is ONE map-side-combinable groupBy on
    * chunk_md5 (min of a (doc_id, chunk_no) struct); the verdict joins
    * back on chunk_md5 and documents reassemble with ONE groupBy(doc_id)
    * whose per-group payload is bounded by document length — no pair
    * explosion anywhere, same discipline as the exact-dedup family. */
  def passageScrub(s: SparkSession, dir: String): DataFrame = {
    // ch feeds both the first-occurrence election and the verdict
    // join-back. Measured (r21): persisting the span frame LOSES (cache
    // build of full-text spans > the narrow chunk+md5 recompute; isolated
    // pair 0.70 s → 1.25 s at sf0.1) — double derivation kept.
    val ch = graft.ops.Chunking.spans(
        tPar(s, dir, "documents").select("doc_id", "text"), 32, 32)
      .withColumn("chunk_md5", md5(col("span")))
    val firsts = ch.groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_no"))).as("f"))
    ch.join(firsts, "chunk_md5")
      .withColumn("keep",
        col("doc_id") === col("f.doc_id") && col("chunk_no") === col("f.chunk_no"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("new_n_tokens"),
        md5(array_join(
          transform(
            sort_array(collect_list(when(col("keep"),
              struct(col("chunk_no"), col("span"))))),
            x => x.getField("span")),
          " ")).as("new_md5"))
      .orderBy("doc_id")
  }

  val passageScrubSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') words
       |           FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, len(words)::BIGINT n, words,
       |             unnest(generate_series(0, (greatest(len(words)-32,0)+31)//32)) i
       |      FROM w),
       |ch AS (SELECT doc_id, i chunk_no, least(32, n - i*32)::BIGINT n_tokens,
       |              array_to_string(words[i*32+1:i*32+32], ' ') span FROM c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY md5(span)
       |                                   ORDER BY doc_id, chunk_no) rn FROM ch)
       |SELECT doc_id, count(*)::BIGINT n_chunks,
       |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) n_kept,
       |       CAST(sum(CASE WHEN rn = 1 THEN n_tokens ELSE 0 END) AS BIGINT) new_n_tokens,
       |       md5(coalesce(array_to_string(
       |             list(span ORDER BY chunk_no) FILTER (WHERE rn = 1), ' '),
       |           '')) new_md5
       |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** LSH INDEX-QUALITY EVALUATION as a fully oracle-checked query — the
    * missing piece between "the LSH index runs" and "the LSH index is
    * good": precision/recall of the production MinHash-LSH candidate
    * generator against exact-Jaccard ground truth at τ = 1/2, in exact
    * integer ppm. (`vec_ann_recall` is the dense-side analogue but is a
    * rows-only self-check; here BOTH pipelines are deterministic, so the
    * whole confusion matrix cross-engine hash-matches.)
    *
    * Accounting: candidates = the banded LSH pairs with their exact
    * verify (2·inter ≥ union — integer, no float threshold); truth = the
    * same-LANGUAGE brute-force pairs over the identical 3-gram hash sets
    * (the blocked-evaluation protocol — language-stratified like
    * `text_ngram_jaccard`, and like it excluded from the 10× parity tier
    * where O(n²) oracles are infeasible by design). Verified
    * CROSS-language candidates exist (identical short texts under
    * different language labels collapse to the same shingle fallback), so
    * the two metrics deliberately use different denominators: precision
    * counts every verified candidate against the pool; recall counts
    * candidates ∩ truth against the stratified truth, so an
    * out-of-stratum candidate can never inflate it. sf0.01 reads
    * precision 471698 ppm / recall 1000000 ppm — the banding catches
    * every true τ ≥ ½ pair at a 2:1 candidate overhead.
    *
    * Scale shape: the candidate side is the production LSH path (banded
    * equi-join); the truth side is the O(n²)-within-language eval scan
    * you run on a SAMPLE at 100 TB — the operator's cost model is
    * explicit about which side is the audit. */
  def lshEval(s: SparkSession, dir: String): DataFrame = {
    val docs = tPar(s, dir, "documents")
    val cand = nearDupPairs(s, dir)
    // hs backs both sides of the truth self-join and truth backs two
    // consumers (the n_truth aggregate and the candidate intersection) —
    // unpersisted, the shingle hashing ran 4× and the within-language
    // O(n²) audit scan TWICE per execution. Persist both: hs is one row
    // per doc, truth is the (tiny) true-pair set.
    val hs = graft.util.CacheBin.persist(
      docs.select(col("doc_id"), col("lang"),
        sort_array(call_function("graft_shingle_hashes", col("text"),
          lit(3), lit(31L), lit(P1))).as("hs")))
    val a = hs.select(col("lang"), col("doc_id").as("ta"),
      col("hs").as("ha"), size(col("hs")).cast("long").as("na"))
    val b = hs.select(col("lang").as("lb"), col("doc_id").as("tb"),
      col("hs").as("hb"), size(col("hs")).cast("long").as("nb"))
    val truth = graft.util.CacheBin.persist(
      a.join(b, col("lang") === col("lb") && col("ta") < col("tb"))
        .select(col("ta"), col("tb"),
          call_function("graft_intersect_size", col("ha"), col("hb"))
            .as("ic"), (col("na") + col("nb")).as("nab"))
        .filter(col("ic") * 2 >= col("nab") - col("ic"))
        .select("ta", "tb"))
    val m = cand.agg(count(lit(1)).as("n_cand"),
      sum(when(col("inter_cnt") * 2 >= col("union_cnt"), 1L).otherwise(0L))
        .as("tp"))
    val tt = truth.agg(count(lit(1)).as("n_truth"))
    val it = truth.join(cand.filter(col("inter_cnt") * 2 >= col("union_cnt")),
        col("ta") === col("doc_a") && col("tb") === col("doc_b"))
      .agg(count(lit(1)).as("tp_in_truth"))
    m.crossJoin(broadcast(tt)).crossJoin(broadcast(it))
      .select(col("n_cand"), col("tp"), (col("n_cand") - col("tp")).as("fp"),
        col("n_truth"), col("tp_in_truth"),
        (col("n_truth") - col("tp_in_truth")).as("fn"),
        expr("(tp * 1000000) div n_cand").as("precision_ppm"),
        expr("(tp_in_truth * 1000000) div n_truth").as("recall_ppm"))
  }

  val lshEvalSql: String = {
    val mp = minhashPairsSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH cand AS (SELECT * FROM ($mp)),
       |n2 AS (SELECT doc_id, lang, $normSql norm FROM documents),
       |w2 AS (SELECT doc_id, lang, string_split(norm, ' ') words, norm FROM n2),
       |hs2 AS (SELECT doc_id, lang, list_distinct(list_transform(
       |          ${shinglesSql("words", "norm", 3)},
       |          sg -> ${polyHashSql("sg", 31L, P1)})) hs FROM w2),
       |t AS (SELECT a.doc_id ta, b.doc_id tb
       |      FROM hs2 a JOIN hs2 b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |      WHERE 2 * len(list_intersect(a.hs, b.hs))
       |              >= len(list_distinct(list_concat(a.hs, b.hs)))),
       |m AS (SELECT count(*)::BIGINT n_cand,
       |             CAST(sum(CASE WHEN 2*inter_cnt >= union_cnt THEN 1 ELSE 0 END)
       |                  AS BIGINT) tp FROM cand),
       |tt AS (SELECT count(*)::BIGINT n_truth FROM t),
       |it AS (SELECT count(*)::BIGINT tp_in_truth
       |       FROM t JOIN cand c ON t.ta = c.doc_a AND t.tb = c.doc_b
       |       WHERE 2*c.inter_cnt >= c.union_cnt)
       |SELECT m.n_cand, m.tp, m.n_cand - m.tp fp, tt.n_truth, it.tp_in_truth,
       |       tt.n_truth - it.tp_in_truth fn,
       |       (m.tp * 1000000) // m.n_cand precision_ppm,
       |       (it.tp_in_truth * 1000000) // tt.n_truth recall_ppm
       |FROM m, tt, it""".stripMargin
  }

  /** Per-document n-gram NOVELTY score — the curation signal behind
    * "how much of this doc is new to the corpus": for each document, the
    * fraction of its DISTINCT word 3-grams whose globally-first occurrence
    * (min doc_id) is this document. Low novelty = mostly-recycled text
    * (template spam, boilerplate mirrors); the per-doc profile complements
    * the pair-level dedup family (which answers "which docs match whom",
    * not "how derivative is each doc"). Exact integer percent.
    *
    * Scale shape: explode 3-grams → per-doc distinct (map-side combined
    * groupBy) → global min(doc_id) per gram (second map-side-combined
    * groupBy, gram-keyed) → join back on gram → one doc-keyed count. All
    * shuffles are equi-keyed on gram/doc; the gram frame is the same
    * inverted structure every dedup op here rides. */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    // grams travel as 64-bit polynomial hashes, NOT raw strings, and the
    // whole normalize → 3-gram → hash → per-doc-distinct frontend is the
    // ONE codegen'd graft_shingle_hashes pass (the ShingleHashes
    // discipline every near-dup operator uses — the composed
    // regex + HOF + per-gram-hash chain measured 24-31 s at sf0.1; this
    // form ~1 s). Hash collisions are deterministic and mirrored
    // bit-for-bit by the oracle's polyHash over the same shingles.
    // grams feeds both the global-first aggregate and the join-back probe
    // side. Measured (r21): persisting the exploded gram frame LOSES —
    // the columnar cache build costs more than re-running the narrow
    // fused shingle-hash pass (isolated pair 0.55 s → 1.23 s at sf0.1) —
    // so the double derivation is kept deliberately.
    val grams = tPar(s, dir, "documents")
      .select(col("doc_id"), explode(call_function("graft_shingle_hashes",
        col("text"), lit(3), lit(31L), lit(P1))).as("gh"))
    val firsts = grams.groupBy("gh").agg(min("doc_id").as("first_doc"))
    grams.join(firsts, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_pct", expr("(n_novel * 100) div n_grams"))
      .orderBy("doc_id")
  }

  val noveltySql: String =
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, string_split(norm, ' ') words, norm FROM n),
       |g0 AS (SELECT doc_id, unnest(${shinglesSql("words", "norm", 3)}) g FROM w),
       |g AS (SELECT DISTINCT doc_id, ${polyHashSql("g", 31L, P1)} gh FROM g0),
       |f AS (SELECT gh, min(doc_id) first_doc FROM g GROUP BY 1)
       |SELECT g.doc_id, count(*)::BIGINT n_grams,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) n_novel,
       |       CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
       |            AS BIGINT) * 100
       |         // count(*) novelty_pct
       |FROM g JOIN f USING (gh) GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- hybrid retrieval (BM25-family lexical + vector cosine, RRF-fused) ----

  private val HS_QN = 3      // probe queries (smallest doc_ids with a vector)
  private val HS_TERMS = 8   // lexical query terms per probe
  private val HS_POOL = 50   // per-ranker candidate pool depth
  private val HS_K = 10      // fused output depth
  private val HS_NPROBE = 4  // IVF cells probed by the dense ranker
  private val HS_DIM = 64
  private val QE_TERMS = 16  // retrieval-eval query budget (long-query form)
  private val QE_QN = 100    // retrieval-eval qrel sample (pairs; 2× trials)

  /** HYBRID SEARCH — the RAG/curation retrieval stack as one operator:
    * a lexical BM25-family ranker over an inverted index, a dense cosine
    * ranker over the embedding table, fused with Reciprocal-Rank Fusion
    * (Cormack & Clarke SIGIR'09: rrf = Σ 1/(60 + rank)).
    *
    * Lexical scoring is a RATIONAL-ARITHMETIC BM25 variant, fully integer
    * for bit-reproducibility: with k1 = 1.2, b = 0.75 and avgdl = L/N the
    * tf-normalization term tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) equals
    * exactly 22·tf·L / (10·tf·L + 3·L + 9·dl·N) — computed in floored
    * MILLI-units (22000·tf·L div denom) so the largest intermediate is
    * ~1e17 at the 100× tier instead of the >2^63 the raw idf·num product
    * reaches there — and idf uses the log-free ratio surrogate
    * ((2(N−df)+1)·1000) div (2df+1) (milli-units of (N−df+½)/(df+½); the
    * same monotone-in-df ordering per term as BM25's ln of it, steeper
    * across terms — and the established integer-idf pattern of
    * `text_tfidf`). Per-(query,doc) scores are integer SUMS of per-term
    * integer scores, so aggregation order cannot perturb ranks, and the
    * RRF fusion is integer micro-units: 10⁶ div (60+rank). The only floats
    * anywhere are the cosine ranker's fold-dots (the hash-green ANN
    * precedent).
    *
    * Scale shape: tf/df/dl is the standard inverted-index build (one
    * exploded shuffle on doc_id, map-side-combined aggs); query terms are
    * a broadcast (q × 8 rows); lexical candidates come from the
    * qterm ⋈ tf EQUI-join on term — postings-list candidate generation,
    * never a scan of all docs per query (a stopword-df term admits many
    * candidates; production indexes add WAND/impact-ordered pruning — the
    * pool cap here bounds the downstream window the same way). The dense
    * side routes through the IVF index's cell equi-join
    * ([[graft.queries.VectorQueries.ivfProbeCandidates]], nprobe =
    * `HS_NPROBE`) and reranks candidates by exact cosine — never a
    * per-probe corpus scan, so the operator holds for big query sets too.
    * Fusion joins two (q × pool)-sized frames — constant-sized at any
    * corpus scale. */
  /** The memoized BM25 inverted index `(doc_id, term, tf, dl)` — THE
    * stored artifact of a retrieval pipeline (built once per corpus
    * snapshot, read by every query): memoized per (session, data
    * fingerprint) like the gram/LM/kNN artifacts (round 19). Built in ONE
    * shuffle: the per-doc length dl rides along the exploded words (narrow
    * size() of the same split — no separate dl aggregation or join), so
    * the index lands after a single map-side-combined groupBy. Shared by
    * [[hybridSearch]] and [[retrievalEval]] (identical memo key → one
    * build serves both). */
  private def bm25TfIndex(s: SparkSession, dir: String): DataFrame = {
    val words = tPar(s, dir, "documents").select(col("doc_id"),
      call_function("graft_words", col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"),
        explode(col("ws")).as("term"))
    graft.util.Memo.frame(s, "bm25_tf",
      graft.queries.Q.tableKey(dir, "documents")) {
      val t0 = words.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"), min("dl").as("dl"))
      t0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t0.count()
      t0
    }
  }

  /** Memoized per-corpus BM25 scalars (N = doc count, L = total token
    * count) — pure functions of the corpus snapshot, stored WITH the
    * index artifact in a real pipeline (a search index's metadata block).
    * Until round 21 both [[hybridSearch]] and [[retrievalEval]] re-derived
    * them per execution as a docs count aggregate crossJoined with a full
    * pass over the tf index (two extra jobs + two 1-row broadcasts per
    * run); as literals the score expression codegens them inline. Same
    * integer values, bit-identical scores. */
  private def bm25Totals(s: SparkSession, dir: String): (Long, Long) =
    graft.util.Memo.scalar("bm25_totals",
      graft.queries.Q.tableKey(dir, "documents")) {
      val nd = t(s, dir, "documents").count()
      val row = bm25TfIndex(s, dir).agg(sum("tf").cast("long")).head()
      // an all-null-text corpus has an empty index: 0 keeps the probe
      // frames empty-safe (the score expr never evaluates on zero rows)
      val ltot = if (row.isNullAt(0)) 0L else row.getLong(0)
      (nd, ltot)
    }

  /** The integer per-(term, doc) BM25 score — the milli-floored rational
    * arithmetic documented at [[hybridSearch]] (rounding contract mirrored
    * in both oracles): the tf-normalization term is floored to MILLI-units
    * BEFORE the idf multiply, keeping every intermediate ≤ 22000·tf·ltot
    * (~1e17 at the 100× tier) — the naive idf·22·tf·ltot product exceeds
    * 2^63 there, silently wrapping in non-ANSI Spark while DuckDB raises.
    * Precondition: tf·ltot < 4.1e14 (≥400× headroom over the 100× tier).
    * Defined ONCE so [[hybridSearch]] and [[retrievalEval]] cannot drift. */
  private val bm25ScoreExpr: String =
    "(((2*(nd - df) + 1) * 1000) div (2*df + 1)) * " +
      "((22000 * tf * ltot) div (10 * tf * ltot + 3 * ltot + 9 * dl * nd))"

  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    val tf = bm25TfIndex(s, dir)
    // corpus totals: N over documents; L = Σ tf (total token count) —
    // memoized scalars of the index artifact, inlined as literals (see
    // [[bm25Totals]]; until r21 these were two aggregate jobs + two 1-row
    // broadcast crossJoins per execution)
    val (ndTot, ltotTot) = bm25Totals(s, dir)
    // probes: smallest doc_ids that HAVE a dense vector (documents and
    // embeddings only partially overlap at some tiers) — one bounded
    // scalar collect (the idAtRank pattern), memoized per tier (the job is
    // identical across executions in one JVM) and inlined as literals so
    // neither ranking branch re-derives the probe subtree. Reads the raw
    // id columns (t, not tPar): the probe job must not shuffle the text
    // column it never touches
    val probeIds = graft.util.Memo.scalar("hs_probe_ids",
      (graft.queries.Q.tableKey(dir, "documents"),
        graft.queries.Q.tableKey(dir, "embeddings"))) {
      t(s, dir, "documents").select(col("doc_id"))
        .join(t(s, dir, "embeddings").select(col("vec_id")),
          col("doc_id") === col("vec_id"))
        .orderBy("doc_id").limit(HS_QN).collect().map(_.getLong(0)).toSeq
    }
    // zero docs with an embedding (a tier whose id spaces don't overlap —
    // the renumbered seedcheck tier is exactly this) → an EMPTY result,
    // mirroring the oracle's empty probes CTE; throwing here would diverge
    // the engines on a legal input (caught by tools/seedcheck.sh, r18)
    // per-probe lexical query = its top-HS_TERMS terms by (tf desc, term);
    // persisted: the tiny frame backs TWO broadcasts below (the postings
    // join and the query-term df restriction), and each unpersisted
    // evaluation would pay the probe filter + window over the full index
    val qt = graft.util.CacheBin.persist(
      TopK.perGroup(tf.filter(col("doc_id").isin(probeIds: _*))
          .withColumn("q_id", col("doc_id")),
        "q_id", Seq(col("tf").desc, col("term")), HS_TERMS, "tr")
        .select(col("q_id"), col("term").as("qterm")))
    // per-QUERY-TERM df only (the retrievalEval pattern): the full df
    // table is vocabulary-sized — unbroadcastable at crawl scale (Heaps'
    // law; round 20, VERDICT r19 #1 sweep) — so restrict the postings by
    // the bounded query-term set FIRST and aggregate df over just those
    // terms: one broadcast semi-filter over the cached index, and the
    // frame that IS broadcast below is ≤ |distinct query terms| rows
    val qdf = tf.join(broadcast(qt.select(col("qterm").as("dterm")).distinct()),
        col("term") === col("dterm"))
      .groupBy("dterm").agg(count(lit(1)).as("df"))
    // postings join → per-term integer BM25 scores → per-doc integer sum
    val lex = TopK.perGroup(broadcast(qt).join(tf, col("qterm") === col("term"))
        .join(broadcast(qdf), col("qterm") === col("dterm"))
        .withColumn("nd", lit(ndTot)).withColumn("ltot", lit(ltotTot))
        .withColumn("s", expr(bm25ScoreExpr))
        .groupBy("q_id", "doc_id").agg(sum("s").as("score")),
      "q_id", Seq(col("score").desc, col("doc_id")), HS_POOL, "lex_rank")
      .select(col("q_id"), col("doc_id"), col("lex_rank"))
    // dense ranker: candidates routed through the IVF index's cell
    // equi-join (VectorQueries.ivfProbeCandidates, nprobe = HS_NPROBE) and
    // reranked by exact fold-dot cosine — the corpus is never scanned per
    // probe, so a big query set costs O(n/cells · nprobe) candidates per
    // query. The ORACLE mirrors the routing (the annIvfSql discipline all
    // four ANN oracles use), so the hash match proves the two engines run
    // the identical routed computation; routing exactness vs a full scan
    // is a measured recall property, not assumed (at the small test tiers
    // a depth-50 pool spans most of a 500-vector corpus — top-50 touches
    // all 10 cells at sf0.01 but only 2 at the 100× tier, where cells
    // actually concentrate; the vec_ann_recall contract is the family's
    // monitor).
    val vr = TopK.perGroup(VectorQueries.ivfProbeCandidates(s, dir, probeIds, HS_NPROBE),
        "q_id", Seq(col("cosine").desc, col("doc_id")), HS_POOL, "vec_rank")
      .select(col("q_id"), col("doc_id"), col("vec_rank"))
    // reciprocal-rank fusion in integer micro-units; absent-from-one-list
    // contributes 0 (and reports rank 0 in the output)
    TopK.perGroup(lex.join(vr, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf_micro",
          coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
            coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L))),
      "q_id", Seq(col("rrf_micro").desc, col("doc_id")), HS_K, "rank")
      .select(col("q_id"), col("rank"), col("doc_id"), col("rrf_micro"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .orderBy("q_id", "rank")
  }

  val hybridSearchSql: String = {
    def dotSql(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $HS_DIM), i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, unnest(string_split(norm, ' ')) term FROM n),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT tf FROM w GROUP BY 1, 2),
       |dfreq AS (SELECT term, count(*)::BIGINT df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
       |tot AS (SELECT (SELECT count(*)::BIGINT FROM documents) nd,
       |               (SELECT CAST(sum(dl) AS BIGINT) FROM dl) ltot),
       |probes AS (SELECT doc_id q_id FROM documents
       |           JOIN embeddings ON doc_id = vec_id ORDER BY doc_id LIMIT $HS_QN),
       |qt AS (SELECT q_id, term FROM (
       |         SELECT p.q_id, t.term,
       |                row_number() OVER (PARTITION BY p.q_id
       |                                   ORDER BY t.tf DESC, t.term) tr
       |         FROM probes p JOIN tf t ON t.doc_id = p.q_id)
       |       WHERE tr <= $HS_TERMS),
       |sc AS (SELECT q.q_id, t.doc_id,
       |              (((2*(o.nd - f.df) + 1) * 1000) // (2*f.df + 1))
       |                * ((22000 * t.tf * o.ltot)
       |                   // (10 * t.tf * o.ltot + 3 * o.ltot + 9 * d.dl * o.nd)) s
       |       FROM qt q JOIN tf t ON t.term = q.term
       |            JOIN dfreq f ON f.term = q.term
       |            JOIN dl d ON d.doc_id = t.doc_id, tot o),
       |lexs AS (SELECT q_id, doc_id, CAST(sum(s) AS BIGINT) score
       |         FROM sc GROUP BY 1, 2),
       |lex AS (SELECT q_id, doc_id, lex_rank FROM (
       |          SELECT q_id, doc_id,
       |                 row_number() OVER (PARTITION BY q_id
       |                                    ORDER BY score DESC, doc_id) lex_rank
       |          FROM lexs) WHERE lex_rank <= $HS_POOL),
       |e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} n2
       |      FROM embeddings),
       |cv AS (
       |  SELECT CAST("label" AS BIGINT) clabel, i pos,
       |         CAST(CAST(sum(CAST(round(embedding[i]::DOUBLE * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
       |           / CAST(count(*) * 1000000 AS DOUBLE) c
       |  FROM embeddings, (SELECT unnest(generate_series(1, $HS_DIM)) i)
       |  GROUP BY 1, 2),
       |cent AS (SELECT clabel, list(c ORDER BY pos) cvec FROM cv GROUP BY 1),
       |ac AS (SELECT e.vec_id, e.embedding, e.n2, cent.clabel,
       |              ${dotSql("e.embedding", "cent.cvec")}
       |                / (sqrt(e.n2) * sqrt(${dotSql("cent.cvec", "cent.cvec")})) ccos
       |       FROM e, cent),
       |cr AS (SELECT vec_id, embedding, n2, clabel,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, clabel) crank
       |       FROM ac),
       |cells AS (SELECT vec_id n_id, embedding ne, n2 nn, clabel cell
       |          FROM cr WHERE crank = 1),
       |pcell AS (SELECT p.q_id, r.embedding qe, r.n2 qn, r.clabel probe
       |          FROM probes p JOIN cr r ON r.vec_id = p.q_id
       |          WHERE r.crank <= $HS_NPROBE),
       |vr AS (SELECT q_id, n_id doc_id, vec_rank FROM (
       |         SELECT q.q_id, c.n_id,
       |                row_number() OVER (PARTITION BY q.q_id
       |                  ORDER BY ${dotSql("q.qe", "c.ne")}
       |                           / (sqrt(q.qn) * sqrt(c.nn)) DESC,
       |                           c.n_id) vec_rank
       |         FROM pcell q JOIN cells c ON q.probe = c.cell)
       |       WHERE vec_rank <= $HS_POOL),
       |f AS (SELECT coalesce(l.q_id, v.q_id) q_id,
       |             coalesce(l.doc_id, v.doc_id) doc_id,
       |             coalesce(1000000 // (60 + l.lex_rank), 0)
       |               + coalesce(1000000 // (60 + v.vec_rank), 0) rrf_micro,
       |             coalesce(l.lex_rank, 0) lex_rank,
       |             coalesce(v.vec_rank, 0) vec_rank
       |      FROM lex l FULL OUTER JOIN vr v
       |        ON l.q_id = v.q_id AND l.doc_id = v.doc_id)
       |SELECT q_id, rank, doc_id, CAST(rrf_micro AS BIGINT) rrf_micro,
       |       CAST(lex_rank AS BIGINT) lex_rank, CAST(vec_rank AS BIGINT) vec_rank
       |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf_micro DESC, doc_id) AS BIGINT) rank FROM f)
       |WHERE rank <= $HS_K ORDER BY q_id, rank""".stripMargin
  }

  /** RETRIEVAL-QUALITY EVAL — the QA stage every retrieval/dedup pipeline
    * ships with: can the lexical BM25 ranker retrieve a document's
    * near-duplicate partner, and how does retrieval quality fall off with
    * pair similarity? Eval protocol: every MinHash LSH candidate pair
    * ([[minhashPairs]] machinery — the proven near-dup ground truth)
    * yields two DIRECTED (query → relevant) trials; the query is the
    * doc's `QE_TERMS` most DISTINCTIVE terms — impact-ordered selection
    * (df asc, tf desc, term; df ≥ 2), the WAND-family discipline: a
    * tf-ordered query is stopword-dominated and its postings fan-out
    * approaches the whole corpus, while rarest-first bounds each query's
    * candidate set by Σ df(rare terms) at ANY corpus scale (and is the
    * better eval: distinctive terms are what retrieval actually keys on)
    * — scored with the qtf-WEIGHTED long-query BM25 form. One metric
    * row per exact-integer Jaccard decile (`inter_cnt·10 div union_cnt`)
    * reports the standard IR measures — recall@1, recall@10, and the
    * reciprocal-rank sum in floored micro-units
    * (MRR = sum_rr_micro / n_pairs / 10⁶) of the partner's rank among all
    * scored candidates (self excluded; a partner sharing no query term is
    * unretrieved and contributes 0). All-integer, so the metrics
    * hash-match DuckDB exactly.
    *
    * Scale shape: the eval runs on a DETERMINISTIC BOUNDED qrel sample —
    * the first `QE_QN` candidate pairs by (doc_a, doc_b), a distributed
    * TakeOrdered, never a full sort — because that is how retrieval QA is
    * actually run at 100 TB: a fixed query set, so the operator's cost is
    * O(QE_QN × per-query candidates) no matter how many candidate pairs
    * the corpus holds (an UNSAMPLED eval over a low-entropy corpus where
    * no term is selective degenerates to queries × corpus — the 10×-tier
    * spill that motivated the bound). Query terms attach via a BROADCAST
    * of the bounded qrel-id frame into the memoized inverted index (the
    * [[bm25TfIndex]] artifact, shared with [[hybridSearch]]); df
    * is computed ONLY for the query docs' vocabulary (one broadcast-
    * filtered pass over the index, never a corpus-vocabulary aggregate);
    * candidates come from the postings equi-join with the rare-term bound
    * above; the rank window partitions by query over those bounded
    * candidate sets; the metric rollup is one tiny groupBy over pair
    * rows. */
  def retrievalEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mp = nearDupPairs(s, dir)
      .orderBy("doc_a", "doc_b").limit(QE_QN) // bounded qrel sample
      .select(col("doc_a"), col("doc_b"),
        expr("inter_cnt * 10 div union_cnt").as("j_bucket"))
    val qrels = graft.util.CacheBin.persist(
      mp.select(col("doc_a").as("q_id"), col("doc_b").as("rel_id"),
          col("j_bucket"))
        .union(mp.select(col("doc_b").as("q_id"), col("doc_a").as("rel_id"),
          col("j_bucket"))))
    val tf = bm25TfIndex(s, dir)
    // memoized corpus scalars, inlined as literals (see [[bm25Totals]])
    val (ndTot, ltotTot) = bm25Totals(s, dir)
    val qids = qrels.select(col("q_id")).distinct()
    // the query docs' own posting rows (bounded: queries × terms-per-doc)
    val qtf = graft.util.CacheBin.persist(
      tf.join(broadcast(qids), col("doc_id") === col("q_id"))
        .select(col("q_id"), col("term"), col("tf").as("qtf")))
    // df restricted to the query vocabulary: one broadcast-filtered pass
    // over the index — O(query vocab) rows out, never the corpus vocab
    val qdf = tf.join(broadcast(qtf.select(col("term").as("qv")).distinct()),
        col("term") === col("qv"))
      .groupBy("qv").agg(count(lit(1)).as("df"))
    // per-query lexical query = its QE_TERMS rarest-first terms with
    // df ≥ 2: a df-1 term occurs ONLY in the query doc itself — it can
    // retrieve nothing, so admitting it (typo/unique-token noise) wastes
    // query slots; df ≥ 2 picks exactly the rare-but-SHARED vocabulary
    val qt = TopK.perGroup(qtf.join(broadcast(qdf.filter(col("df") >= 2L)),
        col("term") === col("qv")),
      "q_id", Seq(col("df").asc, col("qtf").desc, col("term")), QE_TERMS, "tr")
      .select(col("q_id"), col("term").as("qterm"), col("df"), col("qtf"))
    val scored = broadcast(qt).join(tf, col("qterm") === col("term"))
      .filter(col("doc_id") =!= col("q_id")) // self-retrieval is not an answer
      .withColumn("nd", lit(ndTot)).withColumn("ltot", lit(ltotTot))
      // qtf-weighted BM25 (Robertson's query-frequency weight at k3 → ∞):
      // the long-query form — with a similarity-profile query the weight is
      // what separates the near-dup partner from high-tf impostors
      .withColumn("s", expr("qtf * " + bm25ScoreExpr))
      .groupBy(col("q_id").as("sq_id"), col("doc_id"))
      .agg(sum("s").as("score"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("sq_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .select(col("sq_id"), col("doc_id"), col("rnk"))
    qrels.join(scored,
        col("q_id") === col("sq_id") && col("rel_id") === col("doc_id"), "left")
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("rnk") === 1L, 1L).otherwise(0L)).as("hits_at_1"),
        sum(when(col("rnk") <= 10L, 1L).otherwise(0L)).as("hits_at_10"),
        sum(coalesce(expr("1000000 div rnk"), lit(0L))).as("sum_rr_micro"))
      .orderBy("j_bucket")
  }

  val retrievalEvalSql: String = {
    val mp = minhashPairsSql.replace("ORDER BY doc_a, doc_b", "")
    s"""WITH mp AS ($mp),
       |qsel AS (SELECT doc_a, doc_b, inter_cnt, union_cnt FROM mp
       |         ORDER BY doc_a, doc_b LIMIT $QE_QN),
       |qr AS (SELECT doc_a q_id, doc_b rel_id,
       |              (inter_cnt * 10) // union_cnt j_bucket FROM qsel
       |       UNION ALL
       |       SELECT doc_b, doc_a, (inter_cnt * 10) // union_cnt FROM qsel),
       |n2 AS (SELECT doc_id, $normSql norm FROM documents),
       |w2 AS (SELECT doc_id, unnest(string_split(norm, ' ')) term FROM n2),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT tf FROM w2 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
       |tot AS (SELECT (SELECT count(*)::BIGINT FROM documents) nd,
       |               (SELECT CAST(sum(tf) AS BIGINT) FROM tf) ltot),
       |qids AS (SELECT DISTINCT q_id FROM qr),
       |qtf AS (SELECT q.q_id, t.term, t.tf qtf FROM qids q
       |        JOIN tf t ON t.doc_id = q.q_id),
       |qdf AS (SELECT t.term, count(*)::BIGINT df FROM tf t
       |        WHERE t.term IN (SELECT DISTINCT term FROM qtf) GROUP BY 1),
       |qt AS (SELECT q_id, term, df, qtf FROM (
       |         SELECT f.q_id, f.term, d.df, f.qtf,
       |                row_number() OVER (PARTITION BY f.q_id
       |                                   ORDER BY d.df ASC, f.qtf DESC, f.term) tr
       |         FROM qtf f JOIN qdf d ON f.term = d.term AND d.df >= 2) WHERE tr <= $QE_TERMS),
       |sc AS (SELECT qt.q_id, tf.doc_id,
       |              CAST(sum(qt.qtf * (((2*(nd - qt.df) + 1) * 1000) // (2*qt.df + 1))
       |                * ((22000 * tf.tf * ltot)
       |                   // (10 * tf.tf * ltot + 3 * ltot + 9 * dl.dl * nd))) AS BIGINT) score
       |       FROM qt JOIN tf ON qt.term = tf.term
       |            JOIN dl ON tf.doc_id = dl.doc_id, tot
       |       WHERE tf.doc_id <> qt.q_id GROUP BY 1, 2),
       |rk AS (SELECT q_id, doc_id,
       |              row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY score DESC, doc_id) rnk
       |       FROM sc),
       |j AS (SELECT qr.j_bucket, rk.rnk FROM qr
       |      LEFT JOIN rk ON qr.q_id = rk.q_id AND qr.rel_id = rk.doc_id)
       |SELECT j_bucket, count(*)::BIGINT n_pairs,
       |       CAST(sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) hits_at_1,
       |       CAST(sum(CASE WHEN rnk <= 10 THEN 1 ELSE 0 END) AS BIGINT) hits_at_10,
       |       CAST(sum(CASE WHEN rnk IS NULL THEN 0
       |                     ELSE 1000000 // rnk END) AS BIGINT) sum_rr_micro
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // Winnowing parameters: char 8-grams, 4 hashes per selection window —
  // guarantees a shared fingerprint for any common substring of
  // WIN_W + WIN_K − 1 = 11+ normalized chars, while keeping only ~2/(W+1)
  // of positions (Schleimer/Wilkerson/Aiken 2003 §4's density bound).
  private val WIN_K = 8
  private val WIN_W = 4
  // boilerplate guard: a fingerprint present in more docs than this is a
  // corpus-wide phrase, not a duplication signal (the text_boilerplate
  // rationale) — and the cap bounds pair-join volume at DF·|fp|
  private val WIN_DF = 50L
  private val WIN_SHIFT = 1L << 33

  /** Document fingerprinting by WINNOWING (Schleimer/Wilkerson/Aiken 2003
    * — the MOSS plagiarism-detector algorithm): per doc, rolling char
    * 8-gram hashes ([[graft.functions.CharWindowHashes]], O(len) per row),
    * then each window of 4 consecutive hashes selects its minimum
    * (rightmost on ties — the robust-winnowing tie rule); the distinct
    * selected hashes are the doc's fingerprint set. Reports the top-25
    * doc pairs by shared-fingerprint count with the overlap coefficient
    * |A∩B|/min(|A|,|B|) in exact ppm.
    *
    * The rightmost-min selection is ONE window max over the packed key
    * `(P1 − h)·2^33 + pos` — lexicographic (smallest hash, then largest
    * position) without a second argmin pass; both engines fold the same
    * integer key, so selection is bit-identical. Window starts are
    * restricted to full-width frames (`pos ≤ m − W + 1`; short docs keep
    * the single all-covering window), exactly the paper's window set.
    *
    * Scale shape: narrow per-doc hashing, one doc-keyed window sort, then
    * a fingerprint equi-join whose per-key fan-out the DF cap bounds —
    * candidate volume ≤ WIN_DF · |fingerprints|, linear in corpus size
    * (the same guard-rail family as the LSH band joins; no all-pairs
    * scan). */
  def winnow(s: SparkSession, dir: String): DataFrame = {
    // fp feeds BOTH the df aggregate and the df join-back, and kept feeds
    // three consumers (perDoc + both pair-join sides) — unpersisted, the
    // whole normalize + rolling-hash fingerprint pipeline re-ran for every
    // consumer (8 parquet scans of documents in the r20 plan; one full
    // corpus re-hash per scan at 100 TB). Persist each once: fingerprints
    // are ~2/(W+1) of positions, far smaller than the text they index.
    val fp = graft.util.CacheBin.persist(graft.ops.Winnow.fingerprints(
      tPar(s, dir, "documents"), "doc_id", "text", WIN_K, WIN_W, 31L, P1))
    val df = fp.groupBy("h").agg(count(lit(1)).as("dfc"))
    val kept = graft.util.CacheBin.persist(
      fp.join(df, "h").filter(col("dfc") <= WIN_DF)
        .select("doc_id", "h"))
    val perDoc = kept.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    val b = kept.select(col("doc_id").as("doc_b"), col("h"))
    // top-25 FIRST: the ranking key is (shared_fp desc, doc_a, doc_b) —
    // independent of the per-doc fingerprint counts — so the two perDoc
    // joins run on 25 rows below the limit instead of on the whole pair
    // set above it (round 22; they were full pair-set joins before).
    // Every kept doc has a perDoc row, so the inner joins drop nothing.
    kept.select(col("doc_id").as("doc_a"), col("h"))
      .join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_fp"))
      .orderBy(col("shared_fp").desc, col("doc_a"), col("doc_b"))
      .limit(25)
      .join(perDoc.select(col("doc_id").as("doc_a"), col("nfp").as("fp_a")), "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("nfp").as("fp_b")), "doc_b")
      .withColumn("overlap_ppm",
        expr("shared_fp * 1000000L div least(fp_a, fp_b)"))
      .orderBy(col("shared_fp").desc, col("doc_a"), col("doc_b"))
      .select("doc_a", "doc_b", "shared_fp", "fp_a", "fp_b", "overlap_ppm")
  }

  val winnowSql: String =
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |hs AS (SELECT doc_id, greatest(length(norm) - ${WIN_K - 1}, 1) m, pos,
       |              ($P1 - ${polyHashSql(s"substring(norm, pos, $WIN_K)", 31L, P1)}) * $WIN_SHIFT + pos pk
       |       FROM (SELECT doc_id, norm,
       |               unnest(generate_series(1, greatest(length(norm) - ${WIN_K - 1}, 1))) pos
       |             FROM n)),
       |sel AS (SELECT doc_id, pos, m,
       |               max(pk) OVER (PARTITION BY doc_id ORDER BY pos
       |                              ROWS BETWEEN CURRENT ROW AND ${WIN_W - 1} FOLLOWING) sk
       |        FROM hs),
       |fp AS (SELECT DISTINCT doc_id, $P1 - sk // $WIN_SHIFT h
       |       FROM sel WHERE pos <= greatest(m - ${WIN_W - 1}, 1)),
       |df AS (SELECT h, count(*) dfc FROM fp GROUP BY 1),
       |kept AS (SELECT fp.doc_id, fp.h FROM fp JOIN df ON fp.h = df.h
       |         WHERE df.dfc <= $WIN_DF),
       |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) nfp FROM kept GROUP BY 1),
       |pr AS (SELECT a.doc_id doc_a, b.doc_id doc_b, CAST(count(*) AS BIGINT) shared_fp
       |       FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2)
       |SELECT pr.doc_a, pr.doc_b, pr.shared_fp, pa.nfp fp_a, pb.nfp fp_b,
       |       CAST(pr.shared_fp * 1000000 // least(pa.nfp, pb.nfp) AS BIGINT) overlap_ppm
       |FROM pr JOIN pd pa ON pa.doc_id = pr.doc_a
       |        JOIN pd pb ON pb.doc_id = pr.doc_b
       |ORDER BY pr.shared_fp DESC, pr.doc_a, pr.doc_b
       |LIMIT 25""".stripMargin

  /** Keyphrase extraction by RAKE (Rose et al. 2010): candidate phrases
    * are maximal stopword-free word runs capped at 4 words — extracted by
    * the [[graft.functions.PhrasesOf]] codegen expression in one narrow
    * map, while the DuckDB oracle derives the same runs relationally
    * (gaps-and-islands `pos − rn`; regex boundary splitting is NOT
    * mirrorable because RE2 lacks lookarounds); each word scores degree/frequency over the candidate corpus
    * (degree = Σ length of phrases containing it) in exact MILLI units
    * (deg·1000 div freq); a phrase scores the sum of its member words.
    * Top 25 phrases with occurrence and doc counts.
    *
    * Scale shape: one doc-keyed window for the islands, one phrase-sized
    * groupBy, a vocabulary-bounded word-stats aggregate joined back to
    * phrase members (both sides shuffle on the word key), then a
    * 25-bounded global top-k. No per-doc collection beyond that doc's
    * own token run. */
  def keyphrase(s: SparkSession, dir: String): DataFrame = {
    // phrase extraction is ONE narrow codegen map (graft_phrases) — the
    // relational gaps-and-islands derivation the ORACLE uses costs three
    // shuffles of the exploded token table (measured ~80% of this query's
    // 80 s at the 100× tier); the cross-engine hash match proves the two
    // derivations equal
    val stopCsv = graft.ops.Quality.stopwords.mkString(",")
    val phrases = graft.util.CacheBin.persist(
      tPar(s, dir, "documents")
        // normFused, not the regex normCol: the two regexp_replace passes
        // cost 70 of this query's 73 s at the 100× tier (the same lesson
        // text_novelty learned in r17's gram-frontend fusion)
        .select(col("doc_id"), graft.ops.NearDup.normFused(col("text")).as("norm"))
        .filter(col("norm").isNotNull && length(col("norm")) > 0)
        .select(col("doc_id"),
          posexplode(call_function("graft_phrases",
            col("norm"), lit(stopCsv), lit(4))).as(Seq("grp", "phrase")))
        .withColumn("ws", split(col("phrase"), " "))
        .withColumn("len", size(col("ws")).cast("long")))
    // a phrase's score is a function of its TEXT alone (sum of member
    // word scores), so only DISTINCT phrases are ever joined with the
    // word stats — the occurrence table contributes two map-side-combined
    // aggregates (word stats; per-phrase occurrence/doc counts) and never
    // a join-by-word or occurrence-keyed shuffle (which dominated the
    // first version: 74 s → 23 s at the 100× tier)
    val wstats = phrases.select(col("len"), explode(col("ws")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
      .withColumn("score_w", expr("deg * 1000L div freq"))
    val occAgg = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occur"), countDistinct("doc_id").as("n_docs"))
    val pScore = occAgg.select(col("phrase"))
      .withColumn("w", explode(split(col("phrase"), " ")))
      .join(wstats.select("w", "score_w"), "w")
      .groupBy("phrase")
      .agg(sum("score_w").as("score_milli"))
    occAgg.join(pScore, "phrase")
      .orderBy(col("score_milli").desc, col("phrase"))
      .limit(25)
      .select("phrase", "score_milli", "n_occur", "n_docs")
  }

  val keyphraseSql: String = {
    val stopsIn = graft.ops.Quality.stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH n AS (SELECT doc_id, $normSql norm FROM documents),
       |w AS (SELECT doc_id, pos, words[pos] w
       |      FROM (SELECT doc_id, string_split(norm, ' ') words,
       |              unnest(generate_series(1, len(string_split(norm, ' ')))) pos
       |            FROM n WHERE length(norm) > 0)),
       |isl AS (SELECT doc_id, pos, w,
       |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) grp
       |        FROM w WHERE w NOT IN ($stopsIn)),
       |p AS (SELECT doc_id, grp,
       |             array_to_string(list(w ORDER BY pos), ' ') phrase,
       |             count(*)::BIGINT len
       |      FROM isl GROUP BY 1, 2 HAVING count(*) <= 4),
       |mem AS (SELECT doc_id, grp, phrase, len,
       |               unnest(string_split(phrase, ' ')) w FROM p),
       |ws AS (SELECT w, count(*)::BIGINT freq, CAST(sum(len) AS BIGINT) deg
       |       FROM mem GROUP BY 1),
       |occ AS (SELECT m.doc_id, m.grp, m.phrase,
       |               CAST(sum(ws.deg * 1000 // ws.freq) AS BIGINT) s
       |        FROM mem m JOIN ws ON ws.w = m.w GROUP BY 1, 2, 3)
       |SELECT phrase, CAST(max(s) AS BIGINT) score_milli,
       |       count(*)::BIGINT n_occur,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) n_docs
       |FROM occ GROUP BY 1
       |ORDER BY score_milli DESC, phrase LIMIT 25""".stripMargin
  }

  val queries: Map[String, QueryFn] = Map(
    "text_keyphrase" -> (keyphrase _),
    "text_winnow" -> (winnow _),
    "text_lsh_eval" -> (lshEval _),
    "text_dup_matrix" -> (dupMatrix _),
    "text_novelty" -> (novelty _),
    "text_hybrid_search" -> (hybridSearch _),
    "text_retrieval_eval" -> (retrievalEval _),
    "text_passage_scrub" -> (passageScrub _),
    "text_chunk_dedup" -> (chunkDedup _),
    "text_chunking" -> (chunking _),
    "text_incr_dedup" -> (incrDedup _),
    "text_token_counts" -> (tokenCounts _),
    "text_dup_clusters" -> (dupClusters _),
    "text_shared_ngrams" -> (sharedNgrams _),
    "text_span_dedup" -> (spanDedup _),
    "text_span_bytes" -> (spanBytes _),
    "text_bpe_merges" -> (bpeMerges _),
    "text_quality_model" -> (qualityModel _),
    "text_cluster_best" -> (clusterBest _),
    "text_bpe_tokens" -> (bpeTokens _),
    "text_quality_score" -> (qualityScore _),
    "text_source_cap" -> (sourceCap _),
    "text_lang_id" -> (langId _),
    "text_lang_confusion" -> (langConfusion _),
    "text_fingerprint" -> (fingerprint _),
    "text_dedup_exact" -> (dedupExactDocs _),
    "text_minhash_pairs" -> (minhashPairs _),
    "text_simhash" -> (simhash _),
    "text_simhash_pairs" -> (simhashPairs _),
    "text_simhash_lsh" -> (simhashLsh _),
    "text_ngram_jaccard" -> (ngramJaccard _),
    "text_ngram_lsh" -> (ngramLsh _),
    "text_ssjoin" -> (ssjoin _),
    "text_contain_join" -> (containJoin _),
  )

  val oracle: Map[String, String] = Map(
    "text_winnow" -> winnowSql,
    "text_keyphrase" -> keyphraseSql,
    "text_lsh_eval" -> lshEvalSql,
    "text_dup_matrix" -> dupMatrixSql,
    "text_novelty" -> noveltySql,
    "text_hybrid_search" -> hybridSearchSql,
    "text_retrieval_eval" -> retrievalEvalSql,
    "text_passage_scrub" -> passageScrubSql,
    "text_chunk_dedup" -> chunkDedupSql,
    "text_chunking" -> chunkingSql,
    "text_incr_dedup" -> incrDedupSql,
    "text_token_counts" -> tokenCountsSql,
    "text_dup_clusters" -> dupClustersSql,
    "text_shared_ngrams" -> sharedNgramsSql,
    "text_span_dedup" -> spanDedupSql,
    "text_span_bytes" -> spanBytesSql,
    "text_bpe_merges" -> bpeMergesSql,
    "text_quality_model" -> qualityModelSql,
    "text_cluster_best" -> clusterBestSql,
    "text_bpe_tokens" -> bpeTokensSql,
    "text_quality_score" -> qualityScoreSql,
    "text_source_cap" -> sourceCapSql,
    "text_lang_id" -> langIdSql,
    "text_lang_confusion" -> langConfusionSql,
    "text_fingerprint" -> fingerprintSql,
    "text_dedup_exact" -> dedupExactDocsSql,
    "text_minhash_pairs" -> minhashPairsSql,
    "text_simhash" -> simhashSql,
    "text_simhash_pairs" -> simhashPairsSql,
    "text_simhash_lsh" -> simhashLshSql,
    "text_ngram_jaccard" -> ngramJaccardSql,
    "text_ngram_lsh" -> ngramLshSql,
    "text_ssjoin" -> ssjoinSql,
    "text_contain_join" -> containJoinSql,
  )
}
