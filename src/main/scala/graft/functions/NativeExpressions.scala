package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hot paths — the
  * "custom Expression with doGenCode beats a Scala UDF beats anything else"
  * rung of the extension ladder (SURVEY.md §7.3). Both participate in
  * whole-stage codegen: the generated Java is a tight primitive loop with
  * no lambda dispatch, no per-element boxing and no intermediate arrays,
  * unlike the equivalent `transform`/`aggregate` higher-order-function
  * chains they replace.
  *
  * Both are bit-compatible with their HOF + DuckDB oracle twins (the
  * TextQueries/VectorQueries fold definitions), which the driver's
  * correctness gate re-proves every round.
  */

/** poly_hash(str, base, mod): left fold h = (h*base + byte) % mod over the
  * UTF-8 bytes. Matches the ascii()-codepoint fold for ASCII inputs — the
  * engine's normalizers strip to [a-z0-9 ] first, so inputs are ASCII. */
case class PolyHash(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    var h = 0L
    var i = 0
    val n = s.numBytes()
    while (i < n) {
      h = (h * base + (s.getByte(i) & 0xff)) % mod
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      s"""
         |long $h = 0L;
         |int $n = $c.numBytes();
         |for (int $i = 0; $i < $n; $i++) {
         |  $h = ($h * ${base}L + ($c.getByte($i) & 0xff)) % ${mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)

  override def prettyName: String = "graft_poly_hash"
}

/** dot_product(a, b): sequential left-fold dot product over two double
  * arrays — same IEEE op order as `aggregate(zip_with(a,b,*), 0d, +)` and
  * the DuckDB list_reduce mirror, so results are bit-identical. Array
  * elements must be non-null; lengths are taken from the shorter side. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = acc + x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc = $acc + $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** simhash60(words): the full 60-bit SimHash of a distinct-word array in
  * ONE narrow expression — two polynomial hashes per word (bases 31/131,
  * mods 1e9+7 / 998244353, the TextQueries constants), ±1 votes per bit,
  * bit set iff votes > 0. Replaces an explode → 60-aggregate groupBy
  * (a full shuffle) with a per-row loop inside whole-stage codegen; the
  * DuckDB oracle re-proves bit-equality every round. Array elements must be
  * non-null (normalizer output). */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val votes = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val w = arr.getUTF8String(i)
      var h1 = 0L; var h2 = 0L
      var j = 0
      val nb = w.numBytes()
      while (j < nb) {
        val b = w.getByte(j) & 0xff
        h1 = (h1 * 31L + b) % 1000000007L
        h2 = (h2 * 131L + b) % 998244353L
        j += 1
      }
      var bb = 0
      while (bb < 60) {
        val hb = if (bb < 30) h1 else h2
        votes(bb) += (if (((hb >> (bb % 30)) & 1L) == 1L) 1 else -1)
        bb += 1
      }
      i += 1
    }
    var fp = 0L
    var bb = 0
    while (bb < 60) { if (votes(bb) > 0) fp |= (1L << bb); bb += 1 }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val bb = ctx.freshName("bb")
      val n = ctx.freshName("n")
      val nb = ctx.freshName("nb")
      val w = ctx.freshName("w")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val hb = ctx.freshName("hb")
      val fp = ctx.freshName("fp")
      val byt = ctx.freshName("byt")
      s"""
         |int[] $votes = new int[60];
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  UTF8String $w = $a.getUTF8String($i);
         |  long $h1 = 0L; long $h2 = 0L;
         |  int $nb = $w.numBytes();
         |  for (int $j = 0; $j < $nb; $j++) {
         |    int $byt = $w.getByte($j) & 0xff;
         |    $h1 = ($h1 * 31L + $byt) % 1000000007L;
         |    $h2 = ($h2 * 131L + $byt) % 998244353L;
         |  }
         |  for (int $bb = 0; $bb < 60; $bb++) {
         |    long $hb = $bb < 30 ? $h1 : $h2;
         |    $votes[$bb] += ((($hb >> ($bb % 30)) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $bb = 0; $bb < 60; $bb++) {
         |  if ($votes[$bb] > 0) $fp |= (1L << $bb);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash60"
}

/** minhash(hs, numSigs, sigP): all MinHash signature values of a
  * shingle-hash set in one pass — sig_i = min over h of
  * ((2i+3)·h + (7i+1)) mod sigP, the exact arithmetic of
  * [[graft.ops.NearDup.signatures]]'s explode → groupBy-min shape, which
  * this expression replaces (that shape costs a full shuffle of the
  * exploded (doc, hash) rows; this is a narrow per-row loop in whole-stage
  * codegen). Returns array<long>(numSigs); empty input yields
  * Long.MaxValue sentinels (normalizers never emit empty shingle sets). */
case class MinHashSigs(child: Expression, numSigs: Int, sigP: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val mins = Array.fill(numSigs)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var s = 0
      while (s < numSigs) {
        val v = ((2L * s + 3) * h + (7L * s + 1)) % sigP
        if (v < mins(s)) mins(s) = v
        s += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $mins = new long[$numSigs];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $s = 0; $s < $numSigs; $s++) {
         |    long $v = ((2L * $s + 3) * $h + (7L * $s + 1)) % ${sigP}L;
         |    if ($v < $mins[$s]) $mins[$s] = $v;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}

/** intersect_size(a, b): |A ∩ B| of two distinct-element long arrays
  * WITHOUT materializing the intersection array —
  * `size(array_intersect(a, b))` allocates and copies per pair, which on a
  * candidate-pair frame is the hot loop. Sort-and-merge (two clones, no
  * boxing, no hash table): O(n log n) per pair. Inputs must be sets
  * (distinct elements), which the shingle-hash frames guarantee. */
case class IntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    IntersectSize.count(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectSize.count(" +
        s"$a.toLongArray(), $b.toLongArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectSize =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_intersect_size"
}

object IntersectSize {

  private def ensureSorted(a: Array[Long]): Unit = {
    var i = 1
    while (i < a.length) {
      if (a(i - 1) > a(i)) { java.util.Arrays.sort(a); return }
      i += 1
    }
  }

  /** Shared by interpreted eval and generated code. Sorts copies in place
    * and merges; arrays are per-pair clones already (toLongArray copies).
    * Callers that pre-sort per row (one `sort_array` per document instead
    * of a sort per candidate pair — see NearDup.pairsWithJaccard) hit the
    * O(n) already-sorted check and skip the sort entirely. */
  def count(x: Array[Long], y: Array[Long]): Long = {
    ensureSorted(x)
    ensureSorted(y)
    var i = 0; var j = 0; var c = 0L
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    c
  }
}

/** shingle_hashes(text, k, base, mod): the ENTIRE shingle-hash frontend of
  * the near-dup operators in one narrow expression — lowercase, normalize
  * to [a-z0-9 ] runs, word k-grams, polynomial hash of each space-joined
  * shingle, first-occurrence-distinct — replacing the
  * regex → split → transform(slice+concat) → transform(hash) →
  * array_distinct chain (two regex passes plus three intermediate string
  * arrays per row). Bit-identical by construction: lowercasing is the same
  * UTF8String.toLowerCase `lower()` uses; a token is a maximal [a-z0-9]
  * byte run (every other character — ASCII whitespace, punctuation, or any
  * non-ASCII byte — separates, exactly what the
  * `[^a-z0-9\s]`→space, `\s+`→space, trim, split(' ') chain produces); the
  * per-shingle hash folds (h·base + byte) mod m over the joined bytes with
  * the space byte between words, identical to PolyHash over concat_ws.
  * Fewer than k words hash the whole normalized string (the `[norm]`
  * fallback), including the empty one. NativeExpressionsSpec proves
  * equivalence against the composed chain on adversarial inputs. */
case class ShingleHashes(child: Expression, k: Int, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], k, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($c, $k, ${base}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_shingle_hashes"
}

object ShingleHashes {

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int, base: Long, mod: Long)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.toLowerCase.getBytes
    // token boundaries: maximal [a-z0-9] runs
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < bytes.length) {
      if (isTokenByte(bytes(i))) {
        val st = i
        while (i < bytes.length && isTokenByte(bytes(i))) i += 1
        starts.add(st); ends.add(i)
      } else i += 1
    }
    val n = starts.size()
    def windowHash(from: Int, len: Int): Long = {
      var h = 0L
      var w = from
      while (w < from + len) {
        if (w > from) h = (h * base + ' '.toLong) % mod
        var p = starts.get(w)
        val e = ends.get(w)
        while (p < e) { h = (h * base + (bytes(p) & 0xff)) % mod; p += 1 }
        w += 1
      }
      h
    }
    val out = new java.util.ArrayList[java.lang.Long]()
    val seen = new java.util.HashSet[java.lang.Long]()
    if (n >= k) {
      var w = 0
      while (w <= n - k) {
        val h = windowHash(w, k)
        if (seen.add(h)) out.add(h)
        w += 1
      }
    } else {
      // fewer than k words: hash the whole normalized string (or "" if none)
      out.add(windowHash(0, n))
    }
    val arr = new Array[Long](out.size())
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }
}

/** shingles(text, k): distinct word k-gram STRINGS — the string-valued twin
  * of [[ShingleHashes]] for operators that need the shingles themselves
  * (cross-document equality joins: decontamination, boilerplate discovery,
  * n-gram Jaccard). Same tokenization contract (lowercase, [a-z0-9] runs,
  * space-joined windows, `[norm]` fallback under k words), first-occurrence
  * distinct; replaces the regex → split → transform(slice+concat) →
  * array_distinct chain. */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    Shingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Shingles.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)

  override def prettyName: String = "graft_shingles"
}

object Shingles {

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < bytes.length) {
      if (isTokenByte(bytes(i))) {
        val st = i
        while (i < bytes.length && isTokenByte(bytes(i))) i += 1
        starts.add(st); ends.add(i)
      } else i += 1
    }
    val n = starts.size()
    def window(from: Int, len: Int): UTF8String = {
      var size = 0
      var w = from
      while (w < from + len) { size += ends.get(w) - starts.get(w); w += 1 }
      if (len > 1) size += len - 1
      val out = new Array[Byte](size)
      var p = 0
      w = from
      while (w < from + len) {
        if (w > from) { out(p) = ' '; p += 1 }
        val st = starts.get(w); val e = ends.get(w)
        System.arraycopy(bytes, st, out, p, e - st)
        p += e - st
        w += 1
      }
      UTF8String.fromBytes(out)
    }
    val out = new java.util.ArrayList[UTF8String]()
    val seen = new java.util.HashSet[UTF8String]()
    if (n >= k) {
      var w = 0
      while (w <= n - k) {
        val sh = window(w, k)
        if (seen.add(sh)) out.add(sh)
        w += 1
      }
    } else {
      out.add(window(0, n)) // whole normalized string ("" when no tokens)
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size())))
  }
}

/** words(text): the normalized token list IN ORDER WITH DUPLICATES — the
  * tokenization half of [[Shingles]] for counting consumers (quality
  * signals, repetition, tf-idf, length profiles). Contract matches
  * `split(norm, ' ')` over the regex-normalized string exactly, including
  * the single-empty-string result for token-free input. */
case class WordsOf(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WordsOf.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordsOf.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): WordsOf =
    copy(child = newChild)

  override def prettyName: String = "graft_words"
}

object WordsOf {

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    while (i < bytes.length) {
      if (isTokenByte(bytes(i))) {
        val st = i
        while (i < bytes.length && isTokenByte(bytes(i))) i += 1
        out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, st, i)))
      } else i += 1
    }
    if (out.isEmpty) out.add(UTF8String.EMPTY_UTF8) // split("", " ") == [""]
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size())))
  }
}

/** max_run(sorted): longest run of equal adjacent elements in a SORTED
  * string array — on a sorted word list this is the count of the most
  * frequent word, making the top-word repetition signal a pure narrow map
  * (array_sort + this) instead of an explode → groupBy → max shuffle chain.
  * Empty array yields 0. Inputs must be pre-sorted (array_sort). */
case class MaxRunLength(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n == 0) 0L
    else {
      var best = 1L; var run = 1L
      var prev = arr.getUTF8String(0)
      var i = 1
      while (i < n) {
        val cur = arr.getUTF8String(i)
        if (cur.equals(prev)) { run += 1; if (run > best) best = run }
        else run = 1
        prev = cur
        i += 1
      }
      best
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val run = ctx.freshName("run")
      val prev = ctx.freshName("prev")
      val cur = ctx.freshName("cur")
      s"""
         |int $n = $a.numElements();
         |long $best = 0L;
         |if ($n > 0) {
         |  $best = 1L;
         |  long $run = 1L;
         |  UTF8String $prev = $a.getUTF8String(0);
         |  for (int $i = 1; $i < $n; $i++) {
         |    UTF8String $cur = $a.getUTF8String($i);
         |    if ($cur.equals($prev)) { $run++; if ($run > $best) $best = $run; }
         |    else $run = 1L;
         |    $prev = $cur;
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MaxRunLength =
    copy(child = newChild)

  override def prettyName: String = "graft_max_run"
}

/** nearest_codes(vec, codebook, k, metric): the top-k nearest codebook
  * entries of a double vector in ONE narrow codegen'd loop — the broadcast-
  * codebook assignment step of every IVF / k-means / product-quantization
  * pipeline, replacing the per-row Scala UDF (Seq boxing + encoder
  * round-trip per row) the vector queries used before. The codebook is a
  * driver-computed literal (tiny BY DESIGN — that is what makes coarse
  * quantization work) captured at construction and shipped inside the
  * expression, so assignment stays a pure narrow map.
  *
  * Metrics, bit-identical to the UDFs they replace (and their DuckDB
  * window-rank oracle mirrors):
  *   - `l2`: sequential fold of (v_i − c_i)², ascending, strict `<` — ties
  *     keep the LOWER code index;
  *   - `cosine`: sequential-fold dot products, score =
  *     dot(v,c) / (sqrt(v·v) · sqrt(c·c)) in exactly that IEEE op order,
  *     descending, strict `>` — ties keep the lower index. The per-code
  *     self-dots are precomputed once at construction with the same fold.
  *
  * Returns array<long>(k) of 0-based codebook indices (callers map indices
  * to external ids with element_at over a literal lookup array). */
case class NearestCodes(child: Expression, codebook: Array[Array[Double]],
    k: Int, cosine: Boolean) extends UnaryExpression {

  require(codebook.nonEmpty && k >= 1 && k <= codebook.length,
    s"graft_nearest_codes needs 1 <= k (=$k) <= codebook size (=${codebook.length})")
  require(codebook.forall(_.length == codebook(0).length),
    "graft_nearest_codes: ragged codebook — all rows must share one dimension")
  require(!cosine || codebook.forall(c => NearestCodes.selfDot(c) != 0.0),
    "graft_nearest_codes: cosine metric needs non-zero codebook rows " +
      "(a zero row has no direction and would score NaN against everything)")

  @transient private lazy val cn2: Array[Double] =
    if (cosine) codebook.map(c => NearestCodes.selfDot(c)) else null

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    NearestCodes.topK(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codebook, cn2, k, cosine)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cbRef = ctx.addReferenceObj("codebook", codebook, "double[][]")
      val cn2Ref =
        if (cosine) ctx.addReferenceObj("cn2", cn2, "double[]") else "null"
      s"${ev.value} = graft.functions.NearestCodes.topK(" +
        s"$v, $cbRef, $cn2Ref, $k, $cosine);"
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCodes =
    copy(child = newChild)

  override def prettyName: String = "graft_nearest_codes"
}

object NearestCodes {

  /** Sequential self-dot — the same left fold as graft_dot(c, c). */
  def selfDot(a: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc = acc + a(i) * a(i); i += 1 }
    acc
  }

  /** Shared by interpreted eval and generated code. `cn2` is the
    * precomputed per-code self-dot array (cosine only, else null). */
  def topK(v: org.apache.spark.sql.catalyst.util.ArrayData,
      cb: Array[Array[Double]], cn2: Array[Double],
      k: Int, cosine: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val va = v.toDoubleArray()
    val n = va.length
    // Rows are uniform-length by construction; one check against the input
    // catches a vector/codebook dimension mismatch loudly instead of an
    // ArrayIndexOutOfBounds (short row) or a silent truncated score (long row).
    if (cb(0).length != n) throw new IllegalArgumentException(
      s"graft_nearest_codes: input dimension $n != codebook dimension ${cb(0).length}")
    var n2 = 0.0
    if (cosine) {
      var i = 0
      while (i < n) { n2 = n2 + va(i) * va(i); i += 1 }
      // a zero-norm vector makes every cosine NaN; NaN fails the strict
      // insertion test, so topK would silently return the zero-initialized
      // index array (everything "assigned to code 0"). Fail loudly instead —
      // the engine's degenerate-input policy (the pre-codegen UDF threw too).
      if (n2 == 0.0) throw new IllegalArgumentException(
        "graft_nearest_codes: zero-norm input vector has no cosine direction")
    }
    val bi = new Array[Long](k)
    val bs = new Array[Double](k)
    java.util.Arrays.fill(bs,
      if (cosine) Double.NegativeInfinity else Double.PositiveInfinity)
    var j = 0
    while (j < cb.length) {
      val c = cb(j)
      var acc = 0.0
      var i = 0
      if (cosine) {
        while (i < n) { acc = acc + va(i) * c(i); i += 1 }
        acc = acc / (java.lang.Math.sqrt(n2) * java.lang.Math.sqrt(cn2(j)))
      } else {
        while (i < n) { val d = va(i) - c(i); acc = acc + d * d; i += 1 }
      }
      // strict comparison: equal scores keep the earlier (lower) index
      var p = k
      while (p > 0 && (if (cosine) acc > bs(p - 1) else acc < bs(p - 1))) p -= 1
      if (p < k) {
        var q = k - 1
        while (q > p) { bs(q) = bs(q - 1); bi(q) = bi(q - 1); q -= 1 }
        bs(p) = acc; bi(p) = j
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(bi)
  }
}

/** char_window_hashes(str, L, base, mod): polynomial hash of EVERY length-L
  * byte window of the UTF-8 string — the candidate generator for byte-span
  * exact-substring dedup (Lee et al. 2021 run their suffix-array pass on
  * 50-byte spans; over the engine's [a-z0-9 ]-normalized text bytes ==
  * characters). Computed with the rolling update
  * h_{i+1} = ((h_i − b_i·base^{L−1})·base + b_{i+L}) mod p, so the row
  * costs O(n), NOT O(n·L), and no window substring is ever materialized —
  * the HOF equivalent would build (n−L+1) length-L strings per document.
  * Strings shorter than L yield one whole-string hash (the shingle
  * machinery's short-doc contract, so short exact-dup docs still dedup). */
case class CharWindowHashes(child: Expression, l: Int, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    CharWindowHashes.compute(input.asInstanceOf[UTF8String], l, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharWindowHashes.compute($c, $l, ${base}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): CharWindowHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_char_window_hashes"
}

object CharWindowHashes {
  /** Shared by the interpreted and codegen paths (one definition, two
    * callers — the [[ShingleHashes]] discipline). */
  def compute(s: UTF8String, l: Int, base: Long, mod: Long):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = s.numBytes()
    if (n < l) {
      // whole-string fallback window — same fold as PolyHash
      var h = 0L
      var i = 0
      while (i < n) { h = (h * base + (s.getByte(i) & 0xff)) % mod; i += 1 }
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(h))
    }
    val m = n - l + 1
    val out = new Array[Long](m)
    // base^(L-1) mod p, for rolling off the window's leading byte
    var powL = 1L
    var e = 0
    while (e < l - 1) { powL = (powL * base) % mod; e += 1 }
    var h = 0L
    var i = 0
    while (i < l) { h = (h * base + (s.getByte(i) & 0xff)) % mod; i += 1 }
    out(0) = h
    var w = 1
    while (w < m) {
      val off = ((s.getByte(w - 1) & 0xff) * powL) % mod
      h = ((h - off + mod) % mod * base + (s.getByte(w + l - 1) & 0xff)) % mod
      out(w) = h
      w += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Session registration for the native expressions — callable from SQL and
  * from the DataFrame API via `call_function`. Usable either through
  * [[GraftExtensions]] (spark.sql.extensions=graft.functions.GraftExtensions)
  * or an explicit [[GraftFunctions.register]] on an existing session. */
/** graft_winnow_hashes(norm, k, w, base, p): the winnowing fingerprint
  * set (Schleimer/Wilkerson/Aiken 2003) of a pre-normalized document as
  * ONE narrow codegen map — rolling k-gram hashes (the
  * [[CharWindowHashes]] kernel) and the rightmost-min window selection in
  * the same per-row pass, distinct selected hashes out. The selection is
  * inherently per-document sequential, which made the DataFrame form
  * (posexplode → per-doc window max over a packed key) pay a corpus-sized
  * window SORT for something each row can compute alone — measured 37 s
  * → ~x s at the 100× tier (500 k docs). The DuckDB oracle keeps the
  * relational packed-key window form, so the cross-engine hash match
  * proves the two derivations equal. */
case class WinnowHashes(child: Expression, k: Int, w: Int, base: Long, mod: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WinnowHashes.compute(input.asInstanceOf[UTF8String], k, w, base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowHashes.compute($c, $k, $w, ${base}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): WinnowHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow_hashes"
}

object WinnowHashes {
  /** Shared by interpreted eval and generated code. Rightmost-min-per-
    * window over the rolling hash sequence; full-width windows only (one
    * all-covering window for docs shorter than w hashes). */
  def compute(s: UTF8String, k: Int, w: Int, base: Long, mod: Long):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val hsData = CharWindowHashes.compute(s, k, base, mod)
    val m = hsData.numElements()
    val hs = hsData.toLongArray()
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    val starts = math.max(m - w, 0)
    var i = 0
    while (i <= starts) {
      val end = math.min(i + w, m)
      var minH = hs(i)
      var sel = i
      var j = i + 1
      while (j < end) {
        if (hs(j) <= minH) { minH = hs(j); sel = j } // rightmost on ties
        j += 1
      }
      out.add(hs(sel))
      i += 1
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }
}

/** plane_dot(v, j, dim): sequential-fold dot of a double vector with the
  * deterministic ±1 LCG hyperplane `j` (weight(j,d) = sign bit of
  * ((1103515245·(j·dim+d)+12345) div 65536) mod 2) — identical IEEE op
  * order and weights as folding `graft_dot` over a literal weight array,
  * but the weights are GENERATED in the codegen loop. With 49 planes per
  * row, the literal-array form made Catalyst plans carry 49×dim literal
  * nodes; analysis + codegen of that tree dominated the whole query
  * (measured ~2 s per action at the 10× tier). This node is O(1) plan
  * size. */
case class PlaneDot(child: Expression, plane: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(v.numElements(), dim)
    var acc = 0.0
    var d = 0
    while (d < n) {
      val x = (1103515245L * (plane.toLong * dim + d) + 12345L) / 65536L
      acc = acc + v.getDouble(d) * (if ((x % 2 + 2) % 2 == 1) 1.0 else -1.0)
      d += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("d")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |int $n = java.lang.Math.min($c.numElements(), $dim);
         |for (int $d = 0; $d < $n; $d++) {
         |  long $x = (1103515245L * (${plane.toLong * dim}L + $d) + 12345L) / 65536L;
         |  $acc = $acc + $c.getDouble($d) * ((($x % 2 + 2) % 2 == 1) ? 1.0 : -1.0);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PlaneDot =
    copy(child = newChild)

  override def prettyName: String = "graft_plane_dot"
}

/** plane_bucket(v, base, nbits, dim): LSH sign bucket — bit j of the
  * result is set iff plane_dot(v, base + j, dim) > 0, for j < nbits.
  * Exactly `Σ_j CASE WHEN plane_dot > 0 THEN 2^j END` but one O(1)-plan
  * node instead of nbits CASE branches over literal weight arrays. */
case class PlaneBucket(child: Expression, base: Int, nbits: Int, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = math.min(v.numElements(), dim)
    var bkt = 0L
    var j = 0
    while (j < nbits) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val x = (1103515245L * ((base + j).toLong * dim + d) + 12345L) / 65536L
        acc = acc + v.getDouble(d) * (if ((x % 2 + 2) % 2 == 1) 1.0 else -1.0)
        d += 1
      }
      if (acc > 0) bkt |= 1L << j
      j += 1
    }
    bkt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val d = ctx.freshName("d")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val x = ctx.freshName("x")
      val acc = ctx.freshName("acc")
      val bkt = ctx.freshName("bkt")
      s"""
         |long $bkt = 0L;
         |int $n = java.lang.Math.min($c.numElements(), $dim);
         |for (int $j = 0; $j < $nbits; $j++) {
         |  double $acc = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    long $x = (1103515245L * (($base + $j) * ${dim.toLong}L + $d) + 12345L) / 65536L;
         |    $acc = $acc + $c.getDouble($d) * ((($x % 2 + 2) % 2 == 1) ? 1.0 : -1.0);
         |  }
         |  if ($acc > 0) $bkt |= 1L << $j;
         |}
         |${ev.value} = $bkt;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PlaneBucket =
    copy(child = newChild)

  override def prettyName: String = "graft_plane_bucket"
}

/** graft_phrases(norm, stopCsv, maxLen): maximal stopword-free word runs
  * of the pre-normalized text, runs longer than maxLen dropped — the RAKE
  * candidate extraction as ONE narrow codegen map. The relational
  * gaps-and-islands form (posexplode → per-doc window row_number →
  * groupBy(doc, run) collect_list) computes the same thing through three
  * shuffles of the exploded token table; at the 100× tier those shuffles
  * were ~80% of text_keyphrase's 80 s. The DuckDB oracle keeps the
  * relational form — different derivation, same answer, which is the
  * point of the cross-engine check. */
case class PhrasesOf(child: Expression, stopCsv: String, maxLen: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    PhrasesOf.compute(input.asInstanceOf[UTF8String], stopCsv, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val csvRef = ctx.addReferenceObj("stopCsv", stopCsv, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PhrasesOf.compute($c, $csvRef, $maxLen);")
  }

  override protected def withNewChildInternal(newChild: Expression): PhrasesOf =
    copy(child = newChild)

  override def prettyName: String = "graft_phrases"
}

object PhrasesOf {

  private val stopCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashSet[String]]()

  private def stopsOf(csv: String): java.util.HashSet[String] =
    stopCache.computeIfAbsent(csv, { s: String =>
      val set = new java.util.HashSet[String]()
      s.split(",").foreach(w => if (w.nonEmpty) set.add(w))
      set
    })

  /** Shared by interpreted eval and generated code. Input must already be
    * normalized ([a-z0-9 ], single spaces) — the [[NearDup.normFused]]
    * contract every text operator here shares. */
  def compute(s: UTF8String, stopCsv: String, maxLen: Int):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    val stops = stopsOf(stopCsv)
    val str = s.toString
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    val n = str.length
    var runStart = -1 // char offset where the current run began
    var runLen = 0 // words in the current run
    var runEnd = -1 // char offset one past the run's last word
    def flush(): Unit = {
      if (runLen >= 1 && runLen <= maxLen)
        out.add(UTF8String.fromString(str.substring(runStart, runEnd)))
      runStart = -1; runLen = 0; runEnd = -1
    }
    while (i < n) {
      // next word [i, j)
      var j = i
      while (j < n && str.charAt(j) != ' ') j += 1
      if (j > i) {
        val w = str.substring(i, j)
        if (stops.contains(w)) flush()
        else {
          if (runStart < 0) runStart = i
          runLen += 1; runEnd = j
        }
      }
      i = j + 1
    }
    flush() // trailing run
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      out.toArray(new Array[UTF8String](out.size())))
  }
}

/** quality_signals(text, stopCsv): the four integer document-quality
  * signals of [[graft.ops.Quality.withSignals]] in ONE byte pass —
  * struct(n_words, stop_cnt, n_punct, n_chars_t) — replacing two
  * tokenize-with-array-materialization passes (`size(graft_words)`,
  * `size(filter(graft_words, isin(stop...)))`) plus a `regexp_replace`
  * length-diff per row. Bit-identical by construction:
  *   - n_words counts maximal [a-z0-9] runs of the lowercased bytes, with
  *     the token-free input counting 1 (WordsOf's `split("", " ") == [""]`
  *     contract);
  *   - stop_cnt counts tokens equal to a stopword ("" is never one);
  *   - n_punct counts [.,;:!?] BYTES of the raw text — ASCII bytes never
  *     occur inside a multi-byte UTF-8 sequence, so the byte count equals
  *     the `length(text) - length(regexp_replace(text, "[.,;:!?]", ""))`
  *     character count;
  *   - n_chars_t = numChars, exactly `length(text)`.
  * QualitySignalsSpec pins all four against the composed legacy chain on
  * adversarial inputs; every quality-gated oracle re-proves it end-to-end. */
case class QualitySignals(child: Expression, stopCsv: String)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("stop_cnt", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("n_chars_t", LongType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any =
    QualitySignals.compute(input.asInstanceOf[UTF8String], stopCsv)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val csvRef = ctx.addReferenceObj("stopCsv", stopCsv, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.QualitySignals.compute($c, $csvRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): QualitySignals =
    copy(child = newChild)

  override def prettyName: String = "graft_quality_signals"
}

object QualitySignals {

  private val stopCache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.HashSet[UTF8String]]()

  private def stopsOf(csv: String): java.util.HashSet[UTF8String] =
    stopCache.computeIfAbsent(csv, { s: String =>
      val set = new java.util.HashSet[UTF8String]()
      s.split(",").foreach(w => if (w.nonEmpty) set.add(UTF8String.fromString(w)))
      set
    })

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** Shared by interpreted eval and generated code. */
  def compute(s: UTF8String, stopCsv: String):
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val stops = stopsOf(stopCsv)
    val bytes = s.toLowerCase.getBytes
    var nWords = 0L
    var stopCnt = 0L
    var i = 0
    while (i < bytes.length) {
      if (isTokenByte(bytes(i))) {
        val st = i
        while (i < bytes.length && isTokenByte(bytes(i))) i += 1
        nWords += 1
        // fromBytes(array, offset, len) wraps without copying
        if (stops.contains(UTF8String.fromBytes(bytes, st, i - st))) stopCnt += 1
      } else i += 1
    }
    if (nWords == 0L) nWords = 1L // split("", " ") == [""] — one empty token
    // punct counts RAW bytes: the class is pure ASCII and ASCII bytes never
    // appear as continuation bytes of a multi-byte UTF-8 character
    var punct = 0L
    var j = 0
    val nb = s.numBytes()
    while (j < nb) {
      val b = s.getByte(j)
      if (b == '.' || b == ',' || b == ';' || b == ':' || b == '!' || b == '?')
        punct += 1
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, stopCnt, punct, s.numChars().toLong))
  }
}

object GraftFunctions {

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"graft_poly_hash $what must be an integer literal, got $other")
  }

  // type coercion happens in the builder (AbstractDataType/ExpectsInputTypes
  // are private[sql] in Spark 4, so the expressions can't declare inputTypes;
  // a Cast to the exact type is inserted instead and simplified away by
  // SimplifyCasts when already correct)
  import org.apache.spark.sql.catalyst.expressions.Cast

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_poly_hash(str, base, mod)")
        PolyHash(Cast(args.head, StringType),
          longLit(args(1), "base"), longLit(args(2), "mod"))
      }),
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b)")
        DotProduct(Cast(args.head, ArrayType(DoubleType)),
          Cast(args(1), ArrayType(DoubleType)))
      }),
    (FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash60(words)")
        SimHash60(Cast(args.head, ArrayType(StringType)))
      }),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "graft_minhash"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_minhash(hashes, numSigs, sigP)")
        MinHashSigs(Cast(args.head, ArrayType(LongType)),
          longLit(args(1), "numSigs").toInt, longLit(args(2), "sigP"))
      }),
    (FunctionIdentifier("graft_intersect_size"),
      new ExpressionInfo(classOf[IntersectSize].getName, "graft_intersect_size"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_intersect_size(a, b)")
        IntersectSize(Cast(args.head, ArrayType(LongType)),
          Cast(args(1), ArrayType(LongType)))
      }),
    (FunctionIdentifier("graft_max_run"),
      new ExpressionInfo(classOf[MaxRunLength].getName, "graft_max_run"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_max_run(sorted_array)")
        MaxRunLength(Cast(args.head, ArrayType(StringType)))
      }),
    (FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_shingle_hashes(text, k, base, mod)")
        ShingleHashes(Cast(args.head, StringType),
          longLit(args(1), "k").toInt, longLit(args(2), "base"), longLit(args(3), "mod"))
      }),
    (FunctionIdentifier("graft_char_window_hashes"),
      new ExpressionInfo(classOf[CharWindowHashes].getName, "graft_char_window_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_char_window_hashes(text, L, base, mod)")
        val l = longLit(args(1), "L").toInt
        require(l >= 1, s"graft_char_window_hashes: L must be >= 1, got $l")
        CharWindowHashes(Cast(args.head, StringType),
          l, longLit(args(2), "base"), longLit(args(3), "mod"))
      }),
    (FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(text, k)")
        Shingles(Cast(args.head, StringType), longLit(args(1), "k").toInt)
      }),
    (FunctionIdentifier("graft_words"),
      new ExpressionInfo(classOf[WordsOf].getName, "graft_words"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_words(text)")
        WordsOf(Cast(args.head, StringType))
      }),
    (FunctionIdentifier("graft_winnow_hashes"),
      new ExpressionInfo(classOf[WinnowHashes].getName, "graft_winnow_hashes"),
      (args: Seq[Expression]) => {
        require(args.length == 5, "graft_winnow_hashes(norm, k, w, base, p)")
        WinnowHashes(Cast(args.head, StringType),
          longLit(args(1), "k").toInt, longLit(args(2), "w").toInt,
          longLit(args(3), "base"), longLit(args(4), "p"))
      }),
    (FunctionIdentifier("graft_quality_signals"),
      new ExpressionInfo(classOf[QualitySignals].getName, "graft_quality_signals"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_quality_signals(text, stopCsv)")
        val csv = args(1) match {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_quality_signals: stopCsv must be a string literal, got $other")
        }
        QualitySignals(Cast(args.head, StringType), csv)
      }),
    (FunctionIdentifier("graft_phrases"),
      new ExpressionInfo(classOf[PhrasesOf].getName, "graft_phrases"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_phrases(norm, stopCsv, maxLen)")
        val csv = args(1) match {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_phrases: stopCsv must be a string literal, got $other")
        }
        PhrasesOf(Cast(args.head, StringType), csv,
          longLit(args(2), "maxLen").toInt)
      }),
    (FunctionIdentifier("graft_plane_dot"),
      new ExpressionInfo(classOf[PlaneDot].getName, "graft_plane_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_plane_dot(v, plane, dim)")
        PlaneDot(Cast(args.head, ArrayType(DoubleType)),
          longLit(args(1), "plane").toInt, longLit(args(2), "dim").toInt)
      }),
    (FunctionIdentifier("graft_plane_bucket"),
      new ExpressionInfo(classOf[PlaneBucket].getName, "graft_plane_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_plane_bucket(v, base, nbits, dim)")
        val nbits = longLit(args(2), "nbits").toInt
        require(nbits >= 0 && nbits <= 63,
          s"graft_plane_bucket: nbits must be in [0, 63], got $nbits")
        PlaneBucket(Cast(args.head, ArrayType(DoubleType)),
          longLit(args(1), "base").toInt, nbits, longLit(args(3), "dim").toInt)
      }),
    (FunctionIdentifier("graft_nearest_codes"),
      new ExpressionInfo(classOf[NearestCodes].getName, "graft_nearest_codes"),
      (args: Seq[Expression]) => {
        require(args.length == 4, "graft_nearest_codes(vec, codebook, k, metric)")
        require(args(1).foldable,
          "graft_nearest_codes codebook must be a literal (array<array<double>>)")
        val ad = Cast(args(1), ArrayType(ArrayType(DoubleType))).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cb = Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
        val metric = args(3) match {
          case Literal(s: UTF8String, StringType) => s.toString
          case other => throw new IllegalArgumentException(
            s"graft_nearest_codes metric must be a string literal, got $other")
        }
        require(metric == "l2" || metric == "cosine",
          s"graft_nearest_codes metric must be 'l2' or 'cosine', got '$metric'")
        NearestCodes(Cast(args.head, ArrayType(DoubleType)), cb,
          longLit(args(2), "k").toInt, metric == "cosine")
      }),
  )

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** spark.sql.extensions entry point (SparkSessionExtensions injection —
  * the idiomatic deployment hook for engine extensions): the native
  * functions, the planner rule [[graft.runner.SmallSortExchange]], and the
  * optimizer rule [[graft.agg.PercentileRewrite]], which runs Spark's exact
  * `percentile` (also behind `median` and `percentile_cont`) on the
  * primitive-buffer kernel [[graft.agg.ExactPercentile]] with bit-identical
  * results when the percentage is foldable, the frequency is the default 1
  * and the input is Byte/Short/Int/Long/Float/Double; decimal and interval
  * inputs, frequency columns, `percentile_disc` and streaming plans keep
  * Spark's aggregate. `SparkRunner`, `Bench` and `Verify` install it via
  * `withExtensions`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(ext.injectFunction)
    ext.injectQueryStagePrepRule(_ => graft.runner.SmallSortExchange)
    ext.injectOptimizerRule(_ => graft.agg.PercentileRewrite)
  }
}
