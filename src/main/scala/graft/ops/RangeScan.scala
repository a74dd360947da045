package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Hot-key-proof per-key ordered scan — the straggler remedy for window
  * analytics that `Window.partitionBy(key)` cannot provide.
  *
  * A per-key window function hash-partitions EVERY row of a key onto one
  * task; a key holding 20% of the data makes that task the stage (measured:
  * 2.7× on `ev_scd2` at the skewed 100× tier, SCALE.md round 16), and
  * neither AQE nor join-salting can split a window partition without
  * changing its semantics. This operator computes the two scan primitives
  * per-key analytics actually need —
  *
  *   - [[runNumbers]]: the `lag`-change-detection + running-count pass
  *     (`sum(brk) OVER (PARTITION BY key ORDER BY ord ROWS UNBOUNDED
  *     PRECEDING)` where `brk = value != lag(value)`), i.e. SCD2 run ids;
  *
  * — with RANGE partitioning on (key, order): a hot key's rows spread
  * CONTIGUOUSLY over many partitions, each task scans only its slice, and
  * the cross-partition seam is repaired with a driver-side boundary
  * exchange of ONE summary row per partition (P rows total — bounded by
  * parallelism, not data; the same distributed-prefix discipline as
  * [[Packing]]'s sequence packer). Output values are identical to the
  * window formulation (spec-proven, and `ev_scd2_spread` shares
  * `ev_scd2`'s DuckDB oracle); only the partitioning differs.
  *
  * Correctness of the seam: rows are sorted by (key, order...) within each
  * range partition, and range partitions are themselves ordered, so each
  * key occupies one contiguous global span. Within a partition the scan is
  * exact for every key segment that STARTS inside the partition; only the
  * first segment (a key possibly continuing from the previous partition)
  * needs repair, parameterized by two numbers per partition computed on
  * the driver from the per-partition summaries: `carryIn` (the key's true
  * break count before this partition) and `adj` (1 iff the provisional
  * first-row break was wrong because the previous partition ended with the
  * same key AND value). Empty partitions pass the chain through unchanged.
  *
  * Determinism: run numbers are content-determined — the range bounds
  * chosen by Spark's sampler affect WHERE rows land, never the emitted
  * values. Two-pass consistency is stronger than a window query needs:
  * pass 1 computes the seam corrections from the sorted stream and pass 2
  * applies them to a RE-EXECUTED sort, so the two sorts must agree row-for-
  * row, not merely both satisfy the ORDER BY. [[runNumbers]] therefore
  * sorts by (key, orderCols, all remaining orderable columns) — a total
  * order under which tying rows are identical, making both executions
  * emit the same stream regardless of shuffle-fetch order. Rows that still
  * compare equal (full duplicates, or ties distinguished only by a non-
  * orderable column such as a map) are interchangeable for the value-change
  * scan, so the result is unaffected. Prefer a unique tie-breaking order
  * column (e.g. an event id) anyway — it pins the row order itself, as the
  * bucketed form does.
  */
object RangeScan {

  private final case class Summ(pid: Int, empty: Boolean,
      firstKey: Any, firstVal: Any, lastKey: Any, lastVal: Any,
      breaksFirstSeg: Long, breaksLastSeg: Long)

  /** Shared hot-key/bucket-geometry detection for the bucketed scans.
    *
    * Hot keys: above HALF a fair share of a b-way scan — ≤ 2b of them by
    * pigeonhole, so the collect is bounded by parallelism, not data (the
    * skew audit's salt_rec rule, at half threshold for sampling margin).
    * The bound holds for the exact threshold tot/(2b): every key at or
    * above it is among the top 2b sampled keys and is caught. The applied
    * threshold is floored, max(tot/(2b), 1), but only the top 2b keys are
    * collected, so when more than 2b keys reach the floored threshold
    * (tot=99, 2b=10: 11 keys of count 9, exact threshold 9.9) the ties
    * past the 2b-th are left out. They sit below the exact fair share, and
    * leaving one out only changes where its rows land.
    * Detection runs on a 1% SAMPLE (the RangePartitioner discipline): a
    * key near 1/b of the data is unmissable there, and a key small enough
    * to slip under the sampled threshold was never a straggler. The same
    * pass supplies approximate ts bounds — bucket ids only need to be
    * MONOTONE in ts per key (trunc is monotone), so clipped bounds merely
    * shift/extend the id range, never break a seam. Callers that already
    * know the hot set (the skew audit's top rows, a spec) pass `hotKeys`
    * and skip the sample; correctness holds for ANY hot set — it is
    * purely a partitioning hint. Returns (hot keys, ts origin, bucket
    * width). */
  private def detectHot(df: DataFrame, keyCol: String, tsCol: String,
      b: Int, hotKeys: Seq[Any]): (Array[Any], Long, Long) =
    if (hotKeys != null) {
      // cast bounds to long so any numeric order column works (Int,
      // Timestamp→seconds), not just LongType
      val r = df.agg(min(col(tsCol).cast("long")),
        max(col(tsCol).cast("long"))).head()
      if (r.isNullAt(0)) (Array.empty[Any], 0L, 1L)
      else (hotKeys.toArray, r.getLong(0),
        math.max(1L, (r.getLong(1) - r.getLong(0)) / b + 1))
    } else {
      // ONE job, no persist (round 22; this used to be persist + a totals
      // job + a filter/collect job — two scheduler round-trips per spread
      // operator execution): the top-2b sampled keys by count (every key
      // at or above a fair share is among them up to floor-threshold ties;
      // the hot set is a pure partitioning hint, so a tie slipping out
      // changes WHERE rows land, never the emitted values) union'd with
      // the grand-total row, collected together and resolved driver-side.
      val smp = df.sample(withReplacement = false, 0.01, seed = 42L)
        .groupBy(col(keyCol).as("__k"))
        .agg(count(lit(1)).as("__c"), min(col(tsCol).cast("long")).as("__mn"),
          max(col(tsCol).cast("long")).as("__mx"))
      // deterministic top selection: ties on __c break on the stringified
      // key (works for any cast-to-string key type; the hot SET is a hint,
      // but a pinned selection keeps plans reproducible run to run)
      val top = smp.orderBy(col("__c").desc, col("__k").cast("string"))
        .limit(2 * b)
        .select(lit(1).as("__t"), col("__k"), col("__c"), col("__mn"), col("__mx"))
      val tot = smp
        .agg(sum("__c").as("__c"), min("__mn").as("__mn"), max("__mx").as("__mx"))
        .select(lit(0).as("__t"),
          lit(null).cast(df.schema(keyCol).dataType).as("__k"),
          col("__c"), col("__mn"), col("__mx"))
      val rows = top.unionByName(tot).collect()
      val totRow = rows.find(_.getInt(0) == 0).get
      if (totRow.isNullAt(2)) (Array.empty[Any], 0L, 1L)
      else {
        val totC = totRow.getLong(2)
        val mn0 = totRow.getLong(3)
        val thr = math.max(totC / (2L * b), 1L)
        val keys: Array[Any] = rows
          .filter(r => r.getInt(0) == 1 && r.getLong(2) >= thr)
          .map(_.get(1))
        (keys, mn0, math.max(1L, (totRow.getLong(4) - mn0) / b + 1))
      }
    }

  /** Append `run_no` — the 1-based per-key count of value-changes up to and
    * including each row, ordered by `orderCols` — computed skew-spread.
    * Equivalent to:
    * {{{
    *   brk   = value != lag(value) over (partition by key order by ord)
    *   run_no = sum(brk) over (partition by key order by ord rows unbounded preceding)
    * }}}
    * `partitions` defaults to `spark.sql.shuffle.partitions`. */
  def runNumbers(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    require(!df.columns.contains("run_no"),
      "RangeScan.runNumbers adds 'run_no' — rename the existing column")
    val p = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sortCols = (keyCol +: orderCols).map(col)
    // total-order tie-break: append every remaining ORDERABLE column so the
    // re-executed pass-2 sort emits the identical stream as pass 1 (ties
    // under the full sort are identical rows — fetch-order-proof)
    val named = (keyCol +: orderCols).toSet
    val tieCols = df.schema.fields
      .filter(f => !named.contains(f.name) &&
        org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name))
    val ranged = df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols ++ tieCols: _*)
    val schema = ranged.schema
    val ki = schema.fieldIndex(keyCol)
    val vi = schema.fieldIndex(valCol)
    // ONE RDD instance for both passes: the second job then reuses the
    // range exchange's map output instead of re-shuffling the input
    val baseRdd = ranged.rdd

    // ---- pass 1: one summary row per partition (P rows to the driver) ----
    val summs: Array[Summ] = baseRdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.single(Summ(pid, empty = true,
        null, null, null, null, 0L, 0L))
      else {
        val first = it.next()
        val firstKey = first.get(ki)
        val firstVal = first.get(vi)
        var segKey = firstKey
        var prevVal = firstVal
        var segBreaks = 1L // provisional: first row of a segment is a break
        var breaksFirstSeg = -1L
        var prevKey = firstKey
        while (it.hasNext) {
          val r = it.next()
          val k = r.get(ki)
          val v = r.get(vi)
          if (k != prevKey) {
            if (segKey == firstKey && breaksFirstSeg < 0) breaksFirstSeg = segBreaks
            segKey = k
            segBreaks = 1L
          } else if (v == null || v != prevVal) segBreaks += 1 // null always breaks (SQL === semantics)
          prevKey = k
          prevVal = v
        }
        if (breaksFirstSeg < 0) breaksFirstSeg = segBreaks // single-key partition
        Iterator.single(Summ(pid, empty = false,
          firstKey, firstVal, prevKey, prevVal, breaksFirstSeg, segBreaks))
      }
    }.collect().sortBy(_.pid)

    // ---- driver: chain the boundary corrections partition-to-partition ----
    // carryIn(p): true break count of firstKey(p) strictly before p;
    // adj(p): 1 iff p's provisional first-row break double-counts (previous
    // non-empty partition ended with same key AND same value)
    val carryIn = new Array[Long](summs.length)
    val adj = new Array[Long](summs.length)
    var openKey: Any = null
    var openVal: Any = null
    var openBreaks = 0L
    var haveOpen = false
    summs.foreach { s =>
      if (!s.empty) {
        if (haveOpen && openKey == s.firstKey) {
          carryIn(s.pid) = openBreaks
          if (openVal != null && openVal == s.firstVal) adj(s.pid) = 1L
        }
        val trueFirstSeg = carryIn(s.pid) + s.breaksFirstSeg - adj(s.pid)
        openBreaks =
          if (s.firstKey == s.lastKey) trueFirstSeg else s.breaksLastSeg
        openKey = s.lastKey
        openVal = s.lastVal
        haveOpen = true
      } // empty partition: chain passes through untouched
    }

    // ---- pass 2: narrow rescan emitting exact run numbers ----
    val bCarry = spark.sparkContext.broadcast((carryIn, adj))
    val outSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("run_no", LongType, nullable = false))
    val rdd2 = baseRdd.mapPartitionsWithIndex { (pid, it) =>
      val (ci, ad) = bCarry.value
      var prevKey: Any = null
      var prevVal: Any = null
      var first = true
      var firstKey: Any = null
      var run = 0L
      it.map { r =>
        val k = r.get(ki)
        val v = r.get(vi)
        if (first) {
          firstKey = k
          run = 1L + ci(pid) - ad(pid)
          first = false
        } else if (k != prevKey) {
          run = 1L
        } else if (v == null || v != prevVal) {
          run += 1L // null always breaks (SQL === semantics)
        }
        prevKey = k
        prevVal = v
        Row.fromSeq(r.toSeq :+ run)
      }
    }
    spark.createDataFrame(rdd2, outSchema)
  }

  /** The all-codegen ADAPTIVE spread scan: same `run_no` contract as
    * [[runNumbers]], built from DataFrame ops only — for keys ordered by a
    * NUMERIC column (the common event-time case).
    *
    * Only keys ABOVE a fair share of the data (cnt ≥ total/buckets — at
    * most `buckets` of them by pigeonhole, a bounded collect) are cut into
    * `buckets` fixed-width time spans; everything else keeps bucket 0, so
    * on a healthy key distribution the big pass IS the ordinary per-key
    * window (zero overhead, identical plan shape). For the hot keys the
    * expensive scan runs over the fine (key, bucket) partitions (hot key →
    * `buckets` tasks instead of one straggler), a second SMALL window pass
    * over just the hot keys' rows builds the per-(hot key, bucket) seam
    * summary, the cross-bucket offsets chain on that ≤ hot×buckets-row
    * frame, and they BROADCAST-join back — no second full shuffle, no
    * full-frame recompute or persist.
    *
    * Prefer this over [[runNumbers]] when the order column is numeric;
    * the RDD form remains for arbitrarily-typed order columns and as the
    * template for non-SQL per-key state machines. Measured via
    * `ev_scd2_spread` vs the window `ev_scd2` (SCALE.md r16, 10 M-event
    * tiers): one key at 20% → 3.37 s vs 2.50 s; at 50% → 5.42 s vs
    * 3.24 s (1.7×, growing with skew); uniform → 1.57 s vs 1.58 s
    * (fast-path parity). */
  def runNumbersBucketed(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, buckets: Int = 0,
      hotKeys: Seq[Any] = null): DataFrame =
    segmentNumbersBucketed(df, keyCol, tsCol, tieCol, Seq(valCol),
      (prev, cur) => prev.getField(valCol) === cur.getField(valCol),
      buckets, hotKeys)

  /** The generalized form of [[runNumbersBucketed]]: segment numbering
    * under ANY "same-segment" predicate over consecutive rows of a key —
    * `same(prev, cur)` receives two structs with fields (tsCol, tieCol,
    * payloadCols...) and returns whether `cur` CONTINUES `prev`'s segment
    * (three-valued SQL truth: only a true verdict joins the rows, so a
    * null payload starts a new segment — the window formulation's `===`
    * semantics). Instantiations:
    *   - SCD2 runs: `same = prev.val === cur.val`;
    *   - gap sessions: `same = cur.ts - prev.ts < gap` (the
    *     gaps-and-islands sessionization, `ev_session_spread`);
    * any predicate over the payload struct works — the seam repair only
    * ever evaluates it on (last row of bucket b−1, first row of bucket b),
    * which are adjacent rows of the key by construction. */
  def segmentNumbersBucketed(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, payloadCols: Seq[String],
      same: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      buckets: Int = 0, hotKeys: Seq[Any] = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    require(!df.columns.contains("run_no"),
      "RangeScan.segmentNumbersBucketed adds 'run_no' — rename the existing column")
    val rowStruct = struct((tsCol +: tieCol +: payloadCols).map(col): _*)
    val b = if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions").toInt

    val (hot: Array[Any], mn: Long, w: Long) =
      detectHot(df, keyCol, tsCol, b, hotKeys)
    if (hot.isEmpty) {
      // healthy distribution: exactly the window formulation
      val w1 = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
      val wR = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return df
        .withColumn("__brk",
          when(same(lag(rowStruct, 1).over(w1), rowStruct), lit(0L))
            .otherwise(lit(1L)))
        .withColumn("run_no", sum("__brk").over(wR))
        .drop("__brk")
    }
    val isHot = col(keyCol).isin(hot: _*)
    val bucket = when(isHot,
        (col(tsCol).cast("long") - mn).divide(w).cast("long"))
      .otherwise(lit(0L))
    val withB = df.withColumn("__b", bucket)

    def scan(in: DataFrame): DataFrame = {
      val wIn = Window.partitionBy(keyCol, "__b").orderBy(tsCol, tieCol)
      val wRun = wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      in.withColumn("__brk",
          when(same(lag(rowStruct, 1).over(wIn), rowStruct), lit(0L))
            .otherwise(lit(1L)))
        .withColumn("__wrun", sum("__brk").over(wRun))
    }

    // big pass: every row, hot keys spread over their buckets
    val scanned = scan(withB)
    // small pass: hot rows only — builds the seam summary without
    // recomputing (or persisting) the big frame. min/max of the row
    // struct = the bucket's first/last row (lexicographic, ts leads)
    val summ = scan(withB.filter(isHot))
      .groupBy(col(keyCol), col("__b"))
      .agg(min(rowStruct).as("__fs"), max(rowStruct).as("__ls"),
        max("__wrun").as("__pb"))
    // chain the seam on the tiny summary: ≤ hot × buckets rows
    val wS = Window.partitionBy(keyCol).orderBy("__b")
    val wC = wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = summ
      .withColumn("__adj",
        when(same(lag(col("__ls"), 1).over(wS), col("__fs")), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("__tb", col("__pb") - col("__adj"))
      .withColumn("__off", sum("__tb").over(wC) - col("__tb") - col("__adj"))
      .filter(col("__off") =!= 0L) // bucket-0 and unshifted rows need no fix
      .select(col(keyCol).as("__ok"), col("__b").as("__ob"), col("__off"))
    scanned.join(broadcast(offsets),
        col(keyCol) === col("__ok") && col("__b") === col("__ob"), "left")
      .withColumn("run_no", col("__wrun") + coalesce(col("__off"), lit(0L)))
      .drop("__b", "__brk", "__wrun", "__ok", "__ob", "__off")
  }

  /** Hot-key-proof `lead(ts)` — appends `outCol` = the NEXT row's `tsCol`
    * per key (null on the key's last row), the per-row successor pointer
    * TWAP / interarrival / resampling shapes need. Same adaptive geometry
    * as [[segmentNumbersBucketed]]: only detected hot keys bucket by time;
    * the lead runs within (key, bucket), and each bucket's LAST row (whose
    * within-bucket lead is null) is patched from the NEXT NON-EMPTY
    * bucket's first-row ts via a ≤ hot×buckets-row broadcast — sparse
    * bucket ids (a hot key with time gaps) are handled by patching the
    * PREVIOUS EXISTING bucket, not b−1 arithmetically. With no hot keys:
    * exactly the plain window lead. Only the bucket's true LAST row is
    * patched — a mid-bucket null lead (null tsCol on the successor row)
    * stays null, as the window form leaves it. `tsCol` must be non-null on
    * HOT keys' rows (a null would get a null bucket id, breaking the
    * contiguous-bucket ordering); cold keys tolerate nulls. Any numeric
    * order column works (cast to long for the bucket geometry). */
  def nextTsBucketed(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, outCol: String, buckets: Int = 0,
      hotKeys: Seq[Any] = null): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    require(!df.columns.contains(outCol),
      s"RangeScan.nextTsBucketed adds '$outCol' — rename the existing column")
    val b = if (buckets > 0) buckets
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val (hot: Array[Any], mn: Long, w: Long) =
      detectHot(df, keyCol, tsCol, b, hotKeys)
    if (hot.isEmpty) {
      val w1 = Window.partitionBy(keyCol).orderBy(tsCol, tieCol)
      return df.withColumn(outCol, lead(col(tsCol), 1).over(w1))
    }
    val isHot = col(keyCol).isin(hot: _*)
    val withB = df.withColumn("__b",
      when(isHot, (col(tsCol).cast("long") - mn).divide(w).cast("long"))
        .otherwise(lit(0L)))
    val wIn = Window.partitionBy(keyCol, "__b").orderBy(tsCol, tieCol)
    // __last flags the bucket's true last row (no successor), so the seam
    // patch below never rewrites a mid-bucket null lead caused by a null
    // tsCol on the successor row — those stay null, as the window form does
    val led = withB
      .withColumn(outCol, lead(col(tsCol), 1).over(wIn))
      .withColumn("__last", lead(lit(1), 1).over(wIn).isNull)
    // per-(hot key, bucket) first-row ts, re-targeted at the PREVIOUS
    // existing bucket of the same key — patches that bucket's last row
    val wS = Window.partitionBy(keyCol).orderBy("__b")
    val patches = withB.filter(isHot)
      .groupBy(col(keyCol), col("__b"))
      .agg(min(col(tsCol)).as("__first_ts"))
      .withColumn("__tb", lag(col("__b"), 1).over(wS))
      .filter(col("__tb").isNotNull)
      .select(col(keyCol).as("__pk"), col("__tb").as("__pb"),
        col("__first_ts"))
    led.join(broadcast(patches),
        col(keyCol) === col("__pk") && col("__b") === col("__pb"), "left")
      .withColumn(outCol,
        when(col("__last"), coalesce(col(outCol), col("__first_ts")))
          .otherwise(col(outCol)))
      .drop("__b", "__last", "__pk", "__pb", "__first_ts")
  }
}
