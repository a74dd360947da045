package graft.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE_EXPRESSION
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Spark's exact `percentile` over a primitive buffer, with bit-identical
  * results.
  *
  * Spark's `Percentile` keeps one `OpenHashMap[AnyRef, Long]` per group:
  * every input is boxed on the way in, the shuffle carries one unsafe row
  * per distinct value, and the final merge sorts boxed tuples. This kernel
  * keeps a [[ExactPercentile.Buffer]] instead: a `long[]` append window that
  * is sorted and run-length compacted into sorted (value, count) runs
  * whenever it outgrows them. Memory stays O(distinct), as with Spark's
  * map; `merge` is a linear run merge; the shuffle form is the runs, delta-
  * and varint-encoded. Integral inputs are their own keys. Floating inputs
  * use an order-preserving long key (the IEEE bits with the magnitude
  * flipped for negatives), which orders -0.0 before 0.0 and the one
  * canonical NaN last, as SQL does.
  *
  * `eval` reproduces `PercentileBase.getPercentile`: `position = (n-1)*p`
  * over the cumulative counts, the keys at floor and ceil of it found by
  * binary search, the same key-equality shortcut and the same interpolation
  * expression, so every result is the double Spark computes. The one input
  * where Spark's own answer is not determined is a group holding both -0.0
  * and 0.0: its SQL ordering ties them and the tie falls in hash order,
  * while this kernel always puts -0.0 first.
  *
  * [[PercentileRewrite]] substitutes it for `Percentile` in eligible plans;
  * `prettyName` keeps "percentile" in EXPLAIN so the path taken shows.
  */
case class ExactPercentile(
    child: Expression,
    percentageExpression: Expression,
    reverse: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ExactPercentile.Buffer] with BinaryLike[Expression] {

  import ExactPercentile._

  override def left: Expression = child
  override def right: Expression = percentageExpression
  override def prettyName: String = "graft_percentile"
  override def nullable: Boolean = true

  override lazy val dataType: DataType = percentageExpression.dataType match {
    case _: ArrayType => ArrayType(DoubleType, containsNull = false)
    case _ => DoubleType
  }

  @transient private lazy val floating = child.dataType match {
    case FloatType | DoubleType => true
    case _ => false
  }

  @transient private lazy val percentages: Array[Double] = percentageExpression.eval() match {
    case p: Double => Array(p)
    case a: ArrayData => a.toDoubleArray()
  }

  override def createAggregationBuffer(): Buffer = new Buffer

  override def update(buffer: Buffer, input: InternalRow): Buffer = {
    child.eval(input) match {
      case null =>
      case v: Long => buffer.add(v)
      case v: Int => buffer.add(v.toLong)
      case v: Double => buffer.add(orderKey(v))
      case v: Float => buffer.add(orderKey(v.toDouble))
      case v: Short => buffer.add(v.toLong)
      case v: Byte => buffer.add(v.toLong)
    }
    buffer
  }

  override def merge(buffer: Buffer, other: Buffer): Buffer = {
    buffer.mergeFrom(other)
    buffer
  }

  override def eval(buffer: Buffer): Any = {
    buffer.compact()
    val n = buffer.keys.length
    if (n == 0 || percentages.isEmpty) return null
    val keys = if (reverse) buffer.keys.reverse else buffer.keys
    val counts = if (reverse) buffer.counts.reverse else buffer.counts
    val cumulative = new Array[Long](n)
    var total = 0L
    var i = 0
    while (i < n) {
      total += counts(i)
      cumulative(i) = total
      i += 1
    }
    val maxPosition = total - 1
    val results = percentages.map(p => percentile(keys, cumulative, maxPosition * p))
    if (dataType.isInstanceOf[ArrayType]) new GenericArrayData(results) else results(0)
  }

  /** `PercentileBase.getPercentile`, on primitive keys. */
  private def percentile(keys: Array[Long], cumulative: Array[Long], position: Double): Double = {
    val lower = position.floor.toLong
    val higher = position.ceil.toLong
    val lowerIndex = indexOfCount(cumulative, lower + 1)
    val lowerValue = toDouble(keys(lowerIndex))
    if (higher == lower) return lowerValue
    val higherIndex = indexOfCount(cumulative, higher + 1)
    val higherValue = toDouble(keys(higherIndex))
    // Spark compares the two boxed keys: equal for the same key, and for
    // -0.0 against 0.0; distinct integral keys never compare equal even
    // when their doubles do
    if (higherIndex == lowerIndex || (floating && higherValue == lowerValue)) lowerValue
    else (higher - position) * lowerValue + (position - lower) * higherValue
  }

  private def toDouble(key: Long): Double = if (floating) fromOrderKey(key) else key.toDouble

  override def serialize(buffer: Buffer): Array[Byte] = buffer.toBytes

  override def deserialize(bytes: Array[Byte]): Buffer = Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ExactPercentile =
    copy(inputAggBufferOffset = offset)

  override def stringArgs: Iterator[Any] =
    Iterator(child, percentageExpression) ++ (if (reverse) Iterator(reverse) else Iterator.empty)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExactPercentile =
    copy(child = newLeft, percentageExpression = newRight)
}

object ExactPercentile {

  /** Appended keys are sorted into the runs once the window holds this
    * many and at least as many as there are runs. */
  private val MinWindow = 1024

  private val FormatTag: Byte = 1

  /** `PercentileBase.binarySearchCount`: index of the first cumulative
    * count reaching `count`. */
  private def indexOfCount(cumulative: Array[Long], count: Long): Int = {
    val ix = java.util.Arrays.binarySearch(cumulative, count)
    if (ix < 0) -(ix + 1) else ix
  }

  /** Order-preserving long key of a double: the IEEE bits, with the 63
    * magnitude bits flipped for negatives so signed order is numeric
    * order. NaN is canonicalized and sorts last. */
  private def orderKey(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    bits ^ ((bits >> 63) & Long.MaxValue)
  }

  private def fromOrderKey(key: Long): Double =
    java.lang.Double.longBitsToDouble(key ^ ((key >> 63) & Long.MaxValue))

  /** Sorted distinct keys with their counts, plus an unsorted window of
    * keys appended once each. */
  final class Buffer {
    private[agg] var keys: Array[Long] = Array.emptyLongArray
    private[agg] var counts: Array[Long] = Array.emptyLongArray
    private var window: Array[Long] = Array.emptyLongArray
    private var windowLength = 0

    def add(key: Long): Unit = {
      if (windowLength == window.length) {
        if (windowLength >= math.max(keys.length, MinWindow)) compact()
        else window = java.util.Arrays.copyOf(window, math.max(8, 2 * window.length))
      }
      window(windowLength) = key
      windowLength += 1
    }

    /** Sort the window and merge it into the runs. */
    def compact(): Unit = if (windowLength > 0) {
      val w = window
      java.util.Arrays.sort(w, 0, windowLength)
      val c = new Array[Long](windowLength)
      var distinct = 0
      var i = 0
      while (i < windowLength) {
        val k = w(i)
        var j = i + 1
        while (j < windowLength && w(j) == k) j += 1
        w(distinct) = k
        c(distinct) = j - i
        distinct += 1
        i = j
      }
      windowLength = 0
      mergeRuns(w, c, distinct)
    }

    def mergeFrom(other: Buffer): Unit = {
      other.compact()
      compact()
      mergeRuns(other.keys, other.counts, other.keys.length)
    }

    /** Merge the first `n` runs of (`k`, `c`) into this buffer's runs. */
    private def mergeRuns(k: Array[Long], c: Array[Long], n: Int): Unit =
      if (n > 0) {
        val a = keys
        val ac = counts
        val an = a.length
        var outK = new Array[Long](an + n)
        var outC = new Array[Long](an + n)
        var i = 0
        var j = 0
        var o = 0
        while (i < an && j < n) {
          val x = a(i)
          val y = k(j)
          if (x < y) { outK(o) = x; outC(o) = ac(i); i += 1 }
          else if (y < x) { outK(o) = y; outC(o) = c(j); j += 1 }
          else { outK(o) = x; outC(o) = ac(i) + c(j); i += 1; j += 1 }
          o += 1
        }
        System.arraycopy(a, i, outK, o, an - i)
        System.arraycopy(ac, i, outC, o, an - i)
        o += an - i
        System.arraycopy(k, j, outK, o, n - j)
        System.arraycopy(c, j, outC, o, n - j)
        o += n - j
        if (o < outK.length) {
          outK = java.util.Arrays.copyOf(outK, o)
          outC = java.util.Arrays.copyOf(outC, o)
        }
        keys = outK
        counts = outC
      }

    /** Longs held (runs and window capacity); for memory checks. */
    private[agg] def footprint: Int = 2 * keys.length + window.length

    /** Format tag, run count, then per run the key (zigzag for the first,
      * the unsigned gap to the previous key after it) and the count, all
      * as varints. */
    def toBytes: Array[Byte] = {
      compact()
      val n = keys.length
      val out = new Array[Byte](6 + 20 * n)
      out(0) = FormatTag
      var p = putVarLong(out, 1, n)
      var i = 0
      while (i < n) {
        val k = keys(i)
        p = putVarLong(out, p, if (i == 0) (k << 1) ^ (k >> 63) else k - keys(i - 1))
        p = putVarLong(out, p, counts(i))
        i += 1
      }
      java.util.Arrays.copyOf(out, p)
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      require(bytes.length > 0 && bytes(0) == FormatTag,
        "graft_percentile: not a serialized percentile buffer")
      val in = new VarLongReader(bytes, 1)
      val n = in.next().toInt
      val keys = new Array[Long](n)
      val counts = new Array[Long](n)
      var i = 0
      while (i < n) {
        val d = in.next()
        keys(i) = if (i == 0) (d >>> 1) ^ -(d & 1) else keys(i - 1) + d
        counts(i) = in.next()
        require(counts(i) > 0 && (i == 0 || keys(i) > keys(i - 1)),
          "graft_percentile: corrupt percentile buffer")
        i += 1
      }
      require(in.pos == bytes.length, "graft_percentile: trailing bytes in percentile buffer")
      val b = new Buffer
      b.keys = keys
      b.counts = counts
      b
    }
  }

  private def putVarLong(out: Array[Byte], at: Int, value: Long): Int = {
    var v = value
    var p = at
    while ((v & ~0x7FL) != 0) {
      out(p) = ((v & 0x7F) | 0x80).toByte
      v >>>= 7
      p += 1
    }
    out(p) = v.toByte
    p + 1
  }

  private final class VarLongReader(bytes: Array[Byte], var pos: Int) {
    def next(): Long = {
      var v = 0L
      var shift = 0
      var b = 0
      while ({ b = bytes(pos); pos += 1; v |= (b & 0x7FL) << shift; shift += 7; b < 0 }) ()
      v
    }
  }
}

/** Replaces Spark's exact `Percentile` with [[ExactPercentile]] wherever
  * the results are bit-identical: a foldable percentage, the default
  * frequency `Literal(1L)` and a Byte, Short, Int, Long, Float or Double
  * input, ascending or descending. `percentile`, `median` and
  * `percentile_cont` (which Spark rewrites to `Percentile` before this rule
  * runs) take the native path with no query edit. Decimal and ANSI
  * interval inputs, a frequency column and `percentile_disc` keep Spark's
  * aggregate, as do streaming plans, whose aggregation buffers persist in
  * checkpointed state in Spark's format. The rule is pruned on the
  * aggregate-expression tree pattern, so plans without aggregates cost one
  * bit test. Injected by [[graft.functions.GraftExtensions]]; to run Spark's
  * own aggregate instead, list `graft.agg.PercentileRewrite` in
  * `spark.sql.optimizer.excludedRules`. */
object PercentileRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(AGGREGATE_EXPRESSION) || plan.isStreaming) plan
    else plan.transformAllExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
      case ae @ AggregateExpression(p: Percentile, _, _, _, _) if eligible(p) =>
        ae.copy(aggregateFunction = ExactPercentile(p.child, p.percentageExpression, p.reverse))
    }

  private def eligible(p: Percentile): Boolean =
    p.percentageExpression.foldable &&
      p.frequencyExpression == Literal(1L) &&
      (p.child.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
        case _ => false
      })
}
