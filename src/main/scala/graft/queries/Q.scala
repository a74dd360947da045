package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the oracle-checked query surface.
  *
  * Every query here is hash-compared against a DuckDB oracle by the driver, so
  * all floating-point outputs must be *bit-deterministic* across engines. The
  * strategy:
  *   - money-like doubles are aggregated as exact integer cents
  *     (`round(x*100)::long`), summed exactly as longs, and only converted back
  *     to double in a final, identically-shaped expression on both sides;
  *   - variance/stddev are computed from exact integer power sums;
  *   - order-dependent folds (EMA, dot products) use a sequential left fold
  *     (`aggregate` in Spark, `list_reduce` in DuckDB) over an explicitly
  *     sorted list so the IEEE op sequence is identical in both engines.
  *
  * DuckDB-parity notes the oracle SQL must respect:
  *   - integer sums: DuckDB `sum(BIGINT)` returns HUGEINT — always
  *     `CAST(sum(x) AS BIGINT)`;
  *   - `events.ts`'s parquet logical type has varied across driver testdata
  *     generations (TIMESTAMP(NANOS), TIMESTAMP_MICROS NTZ). [[events]]
  *     adapts on the read dtype and always exposes the same µs view DuckDB
  *     sees, so the oracle SQL is layout-independent;
  *   - epoch seconds: Spark `unix_timestamp` floors; DuckDB must use
  *     `CAST(floor(epoch(ts)) AS BIGINT)` (plain `::BIGINT` of the fractional
  *     epoch would round).
  */
object Q {
  type QueryFn = (SparkSession, String) => DataFrame

  /** All driver tables, for oracle FROM-clause parity. */
  val tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Table `name` of tier `dir`, read through the per-tier table catalog:
    * its schema is [[graft.util.Memo.metadata]] (`table_schema`), inferred
    * once per key — [[tableKey]] plus every `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` value set in the session, which change
    * the inferred types — so a build after the first runs no schema-
    * inference job. Each call still returns a fresh relation with fresh
    * attribute ids, so two reads of one table self-join cleanly. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, name, tableKey(dir, name))

  /** Table spread across all cores — but only when the scan is actually
    * under-parallel. The driver test tables are single row-group parquet
    * files, so the scan (and every narrow op after it) would otherwise run
    * on ONE core; for compute-heavy per-row work (hashing, regex, vector
    * folds) an explicit round-robin repartition buys full parallelism at
    * the cost of one small exchange. At production scale inputs arrive as
    * many files/row-groups and the scan already has >= cores splits — there
    * the repartition is GATED OFF so no full-data exchange is inserted. */
  def tPar(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = tableKey(dir, name)
    val df = read(spark, dir, name, key)
    val target = spark.sparkContext.defaultParallelism
    // Physical scan split count, measured once per table fingerprint: the
    // split sizing reads the parallelism and the `spark.sql.files.*` values.
    val scanParts = graft.util.Memo.metadata("table_splits",
        (key, target, sessionConf(spark, "spark.sql.files.", "spark.sql.leafNodeDefaultParallelism"))) {
      df.rdd.getNumPartitions
    }
    if (scanParts < target) df.repartition(target) else df
  }

  private def read(spark: SparkSession, dir: String, name: String, key: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // idempotent, cheap
    val path = s"$dir/$name.parquet"
    val schema = graft.util.Memo.metadata("table_schema",
        (key, sessionConf(spark, "spark.sql.parquet.", "spark.sql.legacy.parquet."))) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The session's explicitly set conf values under `prefixes`, sorted. */
  private def sessionConf(spark: SparkSession, prefixes: String*): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) => prefixes.exists(k.startsWith) }.sorted

  /** events table with DuckDB-equivalent timestamp semantics:
    * `ts_us` — epoch micros (long), identical to DuckDB's TIMESTAMP view of
    *           the column; `ts` — TimestampType(µs) derived from ts_us (UTC
    *           session).
    *
    * Schema-ADAPTIVE on the physical layout of `ts`, because the driver has
    * regenerated the testdata with different parquet logical types across
    * rounds:
    *   - TIMESTAMP(NANOS): Spark (with `nanosAsLong`) reads a nanos long →
    *     truncating-divide (`div` truncates toward zero, matching DuckDB's
    *     toward-zero ns→µs conversion; driver testdata is strictly
    *     post-epoch so floor-vs-truncate never differs here);
    *   - TIMESTAMP_MICROS/MILLIS NTZ: read as TIMESTAMP_NTZ → cast to
    *     TimestampType under the UTC session zone (bit-identical instant),
    *     then `unix_micros`;
    *   - TIMESTAMP_MICROS/MILLIS (UTC-adjusted): TimestampType →
    *     `unix_micros` directly.
    *
    * Both conf sets below mutate session state (idempotent; every graft
    * entry point wants exactly these values — UTC makes the NTZ cast an
    * exact instant, nanosAsLong makes a NANOS file readable at all).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      // a long-typed ts is assumed NANOS (the only INT64 layout the driver
      // has generated; plain-INT64-micros would need no divide — a
      // magnitude check in EventsLayoutSpec pins this assumption)
      case org.apache.spark.sql.types.LongType =>
        expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp")) // UTC session → exact
      case _ =>
        unix_micros(col("ts"))
    }
    raw
      .withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** Exact integer cents of a 2-decimal money double. Round is half-away-from-
    * zero on an identical IEEE product in both Spark and DuckDB; 2-decimal
    * inputs never land on a .5 boundary so the engines agree bit-for-bit. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer percent (0..100) of a 2-decimal rate double (0.00-1.00). */
  def pct(c: Column): Column = round(c * 100).cast("long")

  /** Cents sum (long) back to dollars: long->double is exact below 2^53
    * (~$90T per group; fine at bench scale — beyond that switch the column to
    * DECIMAL) and the single division is the same IEEE op in both engines. */
  def money(sumCents: Column): Column = sumCents.cast("double") / lit(100.0)

  /** As [[money]] for 1e-4-dollar units (cents × percent). */
  def money4(sumC4: Column): Column = sumC4.cast("double") / lit(10000.0)

  /** As [[money]] for 1e-6-dollar units (cents × pct × pct). */
  def money6(sumC6: Column): Column = sumC6.cast("double") / lit(1000000.0)

  /** Exact mean: long sum over long count, one IEEE division. */
  def meanOf(sum: Column, cnt: Column): Column =
    sum.cast("double") / cnt.cast("double")

  /** Epoch seconds of a (µs) timestamp column. Spark unix_timestamp floors;
    * mirror in DuckDB with CAST(floor(epoch(ts)) AS BIGINT). */
  def epochS(c: Column): Column = unix_timestamp(c).cast("long")

  /** Memoized per-tier table row count: one metadata-cheap job per JVM per
    * data fingerprint, for count scalars that parameterize a query plan
    * (gate levels, idf N literals). */
  def tableCount(spark: SparkSession, dir: String, name: String): Long =
    graft.util.Memo.scalar("row_count", tableKey(dir, name)) {
      t(spark, dir, name).count()
    }

  /** Cache key for [[graft.util.Memo]] artifacts over a tier's table: dir
    * plus a cheap file fingerprint (names + sizes + mtimes of the parquet
    * file set), so data regenerated AT THE SAME PATH within one JVM
    * invalidates the memo instead of silently serving stale results.
    * Non-local paths fall back to the dir string (single-materialization
    * assumption applies). */
  def tableKey(dir: String, name: String): String = {
    val f = new java.io.File(s"$dir/$name.parquet")
    def sig(x: java.io.File) = s"${x.getName}:${x.length}:${x.lastModified}"
    // listFiles() returns null (not empty) for an unreadable or
    // concurrently-deleted dir — fall back to the plain dir|name key, as
    // documented for non-local paths, instead of NPEing
    val fp =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).map(sig).mkString(",")
      else if (f.isFile) sig(f)
      else ""
    s"$dir|$name|$fp"
  }
}
