package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

/** The one size gate for every two-path operator: a small input runs on a
  * driver-local path, a large one on the distributed plan.
  *
  * Why the driver paths exist: an iterative operator pays a fixed
  * scheduling cost per distributed round (Drizzle, SOSP 2017), so over a
  * few thousand rows the round-trips, not the arithmetic, are the whole
  * runtime. Above the gate only the distributed plan scales. Each operator
  * keeps its own gate constant and the measured reason for it; this module
  * owns how the decision is made.
  *
  * Entry points:
  *  - [[apply]]: gate and fetch in ONE job. `limit(maxRows + 1).collect()`
  *    is an incremental executeTake: at most `maxRows` rows back means the
  *    whole input arrived, and those rows go to `local`. Otherwise the
  *    probe's rows (bounded by `maxRows + 1`) are dropped and `distributed`
  *    runs. No count pass and no persist on the small path.
  *  - [[broadcastIfAtMost]]: hint a join side for broadcast when an exact
  *    count says it fits.
  *  - [[driverFrame]]: the one-partition frame a local path returns.
  *  - [[forceDistributed]]: a scope in which every gate takes its
  *    above-gate path without probing or counting. Specs and tools use it
  *    to run both paths on small inputs.
  *
  * Gates run where plans are built, on the caller's thread, so the scope is
  * thread-local (the [[graft.util.CacheBin.withScope]] discipline).
  */
object LocalOrDistributed {

  private val forcedScope = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** True inside [[forceDistributed]] on this thread. */
  def forced: Boolean = forcedScope.get()

  /** Run `body` with every gate on this thread forced to its distributed
    * path; the enclosing setting is restored afterwards, also on failure. */
  def forceDistributed[T](body: => T): T = {
    val outer = forcedScope.get()
    forcedScope.set(true)
    try body
    finally forcedScope.set(outer)
  }

  /** `local(rows)` when `df` has at most `maxRows` rows, else `distributed`. */
  def apply[T](df: DataFrame, maxRows: Int)(local: Array[Row] => T)(
      distributed: => T): T = {
    require(maxRows >= 1 && maxRows < Int.MaxValue,
      s"maxRows=$maxRows must lie in [1, Int.MaxValue): the probe takes maxRows + 1 rows")
    if (forced) distributed
    else {
      val took = df.limit(maxRows + 1).collect()
      if (took.length <= maxRows) local(took) else distributed
    }
  }

  /** `broadcast(df)` when `df.count() <= maxRows`, else `df`. The count is
    * a job over `df`: callers persist it first when the join reads it too. */
  def broadcastIfAtMost(df: DataFrame, maxRows: Long): DataFrame =
    if (!forced && df.count() <= maxRows) broadcast(df) else df

  /** `rows` as a one-partition frame: a local path's result. */
  def driverFrame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
}
