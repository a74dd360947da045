package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parameterized near-duplicate detection operators for document corpora —
  * the reusable form of the MinHash-LSH and SimHash-banding machinery
  * (reference has only the exact SBF dedup filter,
  * operator/SBFDeduplicationFilter.scala:85-108; these are the
  * training-data-pipeline extensions, built scale-first).
  *
  * Scale shape (the 100 TB contract):
  *   - shingle hashing is a narrow map (codegen'd PolyHash, no arrays kept);
  *   - MinHash signatures are computed explode → groupBy-min: tiny
  *     vectorizable aggregates, map-side combined, one shuffle on doc_id;
  *   - candidate generation is ONE equi-join shuffle on (band, key) —
  *     O(duplicates), never the O(n²) cross join;
  *   - SimHash banding splits the fingerprint into `bands` bit-chunks; by
  *     pigeonhole any pair with hamming < bands shares a chunk, so the
  *     banded join is EXACT (not approximate) for maxHamming = bands - 1.
  *
  * All hashing is the portable polynomial codepoint hash so results are
  * engine-independent and oracle-checkable (see graft.queries.TextQueries
  * for the DuckDB mirrors).
  */
object NearDup {

  /** MinHash-LSH parameters. `numSigs` must equal `bands * rowsPerBand`. */
  final case class Params(
      shingleK: Int = 3,
      numSigs: Int = 9,
      bands: Int = 3,
      hashBase: Long = 31L,
      hashP: Long = 1000000007L,
      sigP: Long = 2147483647L) {
    require(numSigs % bands == 0, s"numSigs=$numSigs not divisible by bands=$bands")
    def rowsPerBand: Int = numSigs / bands
  }

  // ---- text normalization + portable hashing (shared with TextQueries) ----

  /** lower → non-alnum→space → collapse spaces → trim. */
  def normCol(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", " "), "\\s+", " "))

  def wordsOf(norm: Column): Column = split(norm, " ")

  /** [[normCol]] fused into ONE native tokenize pass + a codegen'd join —
    * no regex. Bit-equal to the regex chain by the words == split(normCol)
    * contract (NativeExpressionsSpec pins it on adversarial inputs; the
    * token-free input yields "" on both paths). NULL text stays NULL, like
    * the regex chain — concat_ws alone would turn NULL into "" and merge
    * null-text docs into the empty-text fingerprint group (md5("") vs the
    * oracle's md5(NULL) = NULL). Use on hot paths that
    * normalize AND tokenize/shingle the same text: downstream
    * graft_shingle_hashes/graft_words over the normalized output are
    * idempotent, so the text is only ever scanned, never re-regexed. */
  def normFused(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(concat_ws(" ", call_function("graft_words", c)))

  /** Polynomial codepoint hash fold(base*acc + ascii(ch)) mod p — the native
    * codegen'd expression (graft.functions.PolyHash). */
  def polyHash(w: Column, base: Long, p: Long): Column =
    call_function("graft_poly_hash", w, lit(base), lit(p))

  /** Word k-shingles as space-joined strings ([norm] when too short). */
  def shinglesOf(words: Column, norm: Column, k: Int): Column =
    when(size(words) >= k,
      transform(sequence(lit(0), size(words) - k),
        j => concat_ws(" ", slice(words, j + 1, lit(k)))))
      .otherwise(array(norm))

  // ---- MinHash + LSH ----

  /** id → distinct shingle-hash set: (id, hs: array<long>). ONE narrow
    * native expression ([[graft.functions.ShingleHashes]]) fusing
    * normalize → tokenize → k-gram → hash → distinct, replacing the
    * two-regex-pass + three-intermediate-array HOF chain (bit-equivalence
    * proven in NativeExpressionsSpec and by every LSH oracle). */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
      p: Params = Params()): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      call_function("graft_shingle_hashes", col(textCol),
        lit(p.shingleK), lit(p.hashBase), lit(p.hashP)).as("hs"))

  /** MinHash signatures as ONE native expression per row
    * ([[graft.functions.MinHashSigs]]) — a narrow map, no explode and no
    * groupBy shuffle; sig_i = min over the hash set of
    * ((2i+3)·h + (7i+1)) mod sigP, bit-identical to the previous
    * explode → groupBy-min shape (the DuckDB oracle re-proves it).
    *
    * Docs with an EMPTY shingle set are dropped (cheap narrow filter) —
    * matching the old explode → groupBy-min shape, which never emitted a
    * row for them. Without the guard they would all carry Long.MaxValue
    * sentinel signatures, band-collide with each other, and surface as
    * candidate pairs with union_cnt=0 / jaccard=NaN for arbitrary callers
    * (the engine's own normalizers never emit empty sets, but the operator
    * must not rely on that convention). */
  def signatures(hs: DataFrame, p: Params = Params()): DataFrame = {
    val sigs = call_function("graft_minhash", col("hs"),
      lit(p.numSigs), lit(p.sigP))
    hs.filter(size(col("hs")) > 0)
      .select(col("doc_id") +: (0 until p.numSigs)
        .map(i => element_at(sigs, i + 1).as(s"s$i")): _*)
  }

  /** LSH banding: (doc_id, band, k) — one row per band per doc. */
  def bandKeys(sigs: DataFrame, p: Params = Params()): DataFrame = {
    val bandCols = (0 until p.bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(":", (0 until p.rowsPerBand)
          .map(r => col(s"s${b * p.rowsPerBand + r}")): _*).as("k"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.k").as("k"))
  }

  /** Candidate pairs sharing ≥1 LSH band bucket: ONE (band, key) equi-join
    * shuffle, doc_a < doc_b, distinct. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val left = bands.select(col("doc_id").as("doc_a"), col("band"), col("k"))
    val right = bands.select(col("doc_id").as("doc_b"), col("band").as("band2"),
      col("k").as("k2"))
    left.join(right,
        col("band") === col("band2") && col("k") === col("k2") &&
          col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Full MinHash-LSH pipeline: candidates + exact shingle Jaccard →
    * (doc_a, doc_b, inter_cnt, union_cnt, jaccard). Unordered — callers
    * sort if they need determinism at the output.
    *
    * The shingle-hash frame feeds both the signature aggregation and the
    * Jaccard join, so it is persisted through [[graft.util.CacheBin]] —
    * query-loop callers wrap the consuming action in `CacheBin.withScope`
    * (or call `CacheBin.unpersistAll(spark)` when running serially). The union count is derived as
    * |A| + |B| − |A∩B| (exact: `hs` is a distinct set), which skips
    * materializing the per-pair union array — on skewed corpora the
    * candidate set is the big side and this halves the per-pair work. */
  def pairsWithJaccard(docs: DataFrame, idCol: String, textCol: String,
      p: Params = Params()): DataFrame =
    // persist the (tiny: one row per candidate pair) result: callers filter
    // and join on inter_cnt/union_cnt, and without the materialization
    // barrier Catalyst pushes those filters into the join condition and
    // re-evaluates the per-pair intersection two or three times
    graft.util.CacheBin.persist(pairsPlan(docs, idCol, textCol, p))

  /** [[pairsWithJaccard]]'s plan WITHOUT the final CacheBin registration —
    * for callers that OWN the result's lifecycle. The one such caller is
    * the [[graft.util.Memo]] frame builder (TextQueries.nearDupPairs),
    * which must persist a frame CacheBin never registered: the memo's
    * build contract is a self-contained frame that OUTLIVES the building
    * query, but `CacheBin.persist` registers into the building query's
    * active scope, whose release would unpersist the artifact right after
    * the first consumer finishes (round 20, ADVICE r19 — the `p0.persist`
    * on an already-registered frame was a no-op, so every later consumer
    * silently recomputed the full MinHash-LSH pipeline). The shingle-hash
    * INTERMEDIATE is still scope-registered as before; memo builders wrap
    * the build + materializing count in an inner `CacheBin.withScope` so
    * it is released once the artifact's blocks exist. */
  def pairsPlan(docs: DataFrame, idCol: String, textCol: String,
      p: Params = Params()): DataFrame = {
    val hs = graft.util.CacheBin.persist(shingleHashes(docs, idCol, textCol, p))
    // both sides of the band-bucket self-join read the signatures, but since
    // the graft_minhash native expression they are a pure NARROW map over the
    // cached hs — recomputing them per side is cheaper than materializing a
    // second cache
    val sigs = signatures(hs, p)
    val cand = candidatePairs(bandKeys(sigs, p))
    // sort_array here: ONE sort per document instead of a sort per candidate
    // pair inside the intersection (IntersectSize detects sorted input and
    // merges directly) — candidates outnumber documents by orders of
    // magnitude on any corpus with duplication
    val ha = hs.select(col("doc_id").as("da"), sort_array(col("hs")).as("hs_a"),
      size(col("hs")).cast("long").as("n_a"))
    val hb = hs.select(col("doc_id").as("db"), sort_array(col("hs")).as("hs_b"),
      size(col("hs")).cast("long").as("n_b"))
    val pairs = cand
      .join(ha, col("doc_a") === col("da")).join(hb, col("doc_b") === col("db"))
      .select(col("doc_a"), col("doc_b"),
        // native count-only intersection: no per-pair result-array
        // allocation (graft.functions.IntersectSize)
        call_function("graft_intersect_size", col("hs_a"), col("hs_b"))
          .as("inter_cnt"),
        (col("n_a") + col("n_b")).as("nab"))
      .select(col("doc_a"), col("doc_b"), col("inter_cnt"),
        (col("nab") - col("inter_cnt")).as("union_cnt"))
      .withColumn("jaccard",
        col("inter_cnt").cast("double") / col("union_cnt").cast("double"))
    pairs
  }

  /** Near-dup removal with the keep-smallest-id policy: docs whose id never
    * appears as the larger end of a pair with jaccard ≥ num/den (exact
    * integer threshold arithmetic — no float comparison drift). Returns the
    * surviving rows with every column of `docs` except the text (id under
    * its original name) — callers keep their metadata without a join back. */
  def survivors(docs: DataFrame, idCol: String, textCol: String,
      jaccNum: Long, jaccDen: Long, p: Params = Params()): DataFrame = {
    val drop = pairsWithJaccard(docs, idCol, textCol, p)
      .filter(col("inter_cnt") * jaccDen >= col("union_cnt") * jaccNum)
      .select(col("doc_b").as("drop_id")).distinct()
    docs.drop(textCol)
      .join(drop, col(idCol) === col("drop_id"), "left_anti")
  }

  // ---- SimHash bit-chunk banding ----

  /** Hamming-close pairs over a precomputed fingerprint column via
    * block-combination LSH (Manku, Jain, Das Sarma, "Detecting
    * near-duplicates for web crawling", WWW 2007 §3): split `totalBits`
    * into `bands` equal blocks and equi-join on every
    * `C(bands, bands - maxHamming)` combination of `bands - maxHamming`
    * whole blocks (concatenated into one ≤63-bit key), then filter the
    * exact Hamming distance.
    *
    * EXACT by pigeonhole: a pair with ≤ maxHamming differing bits touches
    * at most maxHamming blocks, so at least `bands - maxHamming` blocks
    * are identical and SOME combination key collides — same results as
    * the O(n²) scan, one equi-join shuffle instead.
    *
    * WHY combinations, not single blocks (the round-15 100× scale
    * rehearsal root-cause): with single-block keys the key space is only
    * 2^(totalBits/bands) (32k for 60/4), so candidate pairs grow as
    * n²/2^(totalBits/bands) — measured 16× slower on 10× more documents
    * at the 100× tier. Combination keys multiply the key space to
    * 2^((bands-maxHamming)·totalBits/bands) (2^30 for 60-bit/6-block/
    * hamming-3) at the cost of C(bands, maxHamming) rows per doc (20 for
    * 6/3) — candidates collapse to the true matches plus vanishing noise,
    * and the explode factor is a scale-independent constant. `bands =
    * maxHamming + 1` degenerates to exactly the old single-block scheme.
    *
    * `carry` names extra columns of `sh` to ride through the join, emitted
    * as `<name>_a`/`<name>_b` beside each pair. Carrying beats joining them
    * back on afterwards: the pair set is the LARGE frame here (every
    * key collision survives to it), so each join-back is an extra
    * shuffle of exactly the data this operator exists to keep narrow.
    * Carried columns must be functions of the id (true for any per-doc
    * attribute) or the collision-dedup `distinct` would inflate pairs. */
  def hammingPairs(sh: DataFrame, idCol: String, hashCol: String,
      totalBits: Int, bands: Int, maxHamming: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(totalBits % bands == 0, s"totalBits=$totalBits not divisible by bands=$bands")
    require(maxHamming < bands,
      s"maxHamming=$maxHamming needs > $maxHamming bands for the pigeonhole guarantee")
    // the operator's internal frames use these names; a carried column with
    // the same name would resolve ambiguously deep inside the self-join
    val reserved = Set("doc_id", "h", "c", "cb", "cv", "cb2", "cv2",
      "doc_a", "doc_b", "h_a", "h_b", "hamming")
    require(carry.forall(c => !reserved(c)),
      s"hammingPairs carry columns ${carry.filter(reserved).mkString(", ")} " +
        s"collide with the operator's internal names (${reserved.mkString(", ")}) — rename them")
    val chunkBits = totalBits / bands
    val keyBlocks = bands - maxHamming
    require(keyBlocks * chunkBits <= 63,
      s"combination key needs ${keyBlocks}x$chunkBits bits — over the 63-bit Long key")
    val mask = (1L << chunkBits) - 1
    def blockVal(b: Int): Column =
      shiftright(col(hashCol), b * chunkBits).bitwiseAND(lit(mask))
    val combos = (0 until bands).combinations(keyBlocks).toSeq
    val chunkCols = combos.zipWithIndex.map { case (combo, ci) =>
      struct(lit(ci).as("cb"),
        combo.map(blockVal).reduceLeft((acc, v) =>
          shiftleft(acc, chunkBits) + v).as("cv"))
    }
    val chunks = sh.select(col(idCol).as("doc_id") +: col(hashCol).as("h") +:
        explode(array(chunkCols: _*)).as("c") +: carry.map(col): _*)
      .select(col("doc_id") +: col("h") +: col("c.cb").as("cb") +:
        col("c.cv").as("cv") +: carry.map(col): _*)
    val left = chunks.select(col("doc_id").as("doc_a") +: col("h").as("h_a") +:
      col("cb") +: col("cv") +: carry.map(c => col(c).as(s"${c}_a")): _*)
    val right = chunks.select(col("doc_id").as("doc_b") +: col("h").as("h_b") +:
      col("cb").as("cb2") +: col("cv").as("cv2") +:
      carry.map(c => col(c).as(s"${c}_b")): _*)
    left.join(right,
        col("cb") === col("cb2") && col("cv") === col("cv2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a") +: col("doc_b") +:
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
      // filter BEFORE the multi-chunk-collision dedup: far-apart pairs never
      // reach the distinct shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
