package graft.queries

import graft.ops.TopK
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Second batch of relational coverage: CUBE grouping sets, ordered string
  * aggregation, array aggregation, exact percentiles. */
object CoreQueries2 {

  /** CUBE over region×nation (all four grouping sets). SQL-expressed like
    * rollupAcctBal (Dataset.cube trips the same ambiguity check). */
  def cubeAcctBal(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("rkey"), col("n_name").as("nkey"),
        cents(col("c_acctbal")).as("bal"))
      .createOrReplaceTempView("graft_cust_geo_cube")
    s.sql(
      """SELECT rkey AS r_name, nkey AS n_name, count(*) AS cnt, sum(bal) AS bal_c
        |FROM graft_cust_geo_cube GROUP BY CUBE(rkey, nkey)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  val cubeAcctBalSql: String =
    """SELECT r_name, n_name, count(*) cnt,
      |       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) bal_c
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Ordered string aggregation of the distinct priorities per status. */
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .groupBy("o_orderstatus")
      .agg(array_join(sort_array(collect_set(col("o_orderpriority"))), ",").as("priorities"),
        count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  val stringAggSql: String =
    """WITH d AS (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders),
      |a AS (SELECT o_orderstatus,
      |             string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) priorities
      |      FROM d GROUP BY 1),
      |c AS (SELECT o_orderstatus, count(*) cnt FROM orders GROUP BY 1)
      |SELECT a.o_orderstatus, a.priorities, c.cnt
      |FROM a JOIN c ON a.o_orderstatus = c.o_orderstatus
      |ORDER BY a.o_orderstatus""".stripMargin

  /** Array aggregation: sorted distinct status set per customer. The array is
    * computed natively (sort_array(collect_set)); the gate-facing column is
    * its canonical joined form plus the array size — raw array columns are
    * not hashable/sortable by the driver's pandas-based comparer. */
  def arrayAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sort_array(collect_set(col("o_orderstatus"))).as("statuses_arr"),
        count(lit(1)).as("n_orders"))
      .select(col("o_custkey"),
        array_join(col("statuses_arr"), ",").as("statuses"),
        size(col("statuses_arr")).cast("long").as("n_statuses"),
        col("n_orders"))
      .orderBy("o_custkey")

  val arrayAggSql: String =
    """WITH d AS (SELECT DISTINCT o_custkey, o_orderstatus FROM orders),
      |a AS (SELECT o_custkey,
      |             array_to_string(list(o_orderstatus ORDER BY o_orderstatus), ',') statuses,
      |             count(*) n_statuses
      |      FROM d GROUP BY 1),
      |c AS (SELECT o_custkey, count(*) n_orders FROM orders GROUP BY 1)
      |SELECT a.o_custkey, a.statuses, a.n_statuses, c.n_orders
      |FROM a JOIN c ON a.o_custkey = c.o_custkey
      |ORDER BY a.o_custkey""".stripMargin

  /** Exact interpolated percentiles over integer cents (Spark `percentile`
    * vs DuckDB `quantile_cont` — both interpolate on the sorted values).
    * Both percentiles come from one `percentile` buffer (one set of
    * sorted value-count runs per group to build, shuffle and merge, not
    * two; [[graft.agg.ExactPercentile]]); the interpolation over the same
    * counts is unchanged. */
  def medianPrices(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(c, array(0.5, 0.9))").as("pc"),
        count(lit(1)).as("cnt"))
      .select(col("l_returnflag"), col("pc")(0).as("median_c"),
        col("pc")(1).as("p90_c"), col("cnt"))
      .orderBy("l_returnflag")

  val medianPricesSql: String =
    """SELECT l_returnflag,
      |       quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.5) median_c,
      |       quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.9) p90_c,
      |       count(*) cnt
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** Left-outer join with null-preserving aggregation: order counts per
    * customer including customers with no orders. */
  def leftJoinOrderCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(
        count(col("o_orderkey")).as("n_orders"), // count skips nulls -> 0 for orderless
        coalesce(sum(cents(col("o_totalprice"))), lit(0L)).as("spend_c"))
      .orderBy("c_custkey")

  val leftJoinOrderCountsSql: String =
    """SELECT c_custkey, c_mktsegment,
      |       count(o_orderkey) n_orders,
      |       CAST(coalesce(sum(CAST(round(o_totalprice*100) AS BIGINT)), 0) AS BIGINT) spend_c
      |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** Percentage-of-base aggregate (reference Percentage.scala:33-45: each
    * element contributes value/base*100; the group result is the summed
    * percentage). Expressed deterministically for the oracle: exact integer
    * cents summed per group and in total, then ONE identical float
    * expression on both sides — sum(v)/base*100 ≡ the reference's
    * sum(v/base*100) semantics. The order-dependent per-row Aggregator
    * (agg/Aggregates.PercentageAggregator) is golden-tested in specs. */
  def percentageOfBase(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
    val byFlag = li.groupBy("l_returnflag").agg(sum("c").as("flag_c"))
    val total = li.agg(sum("c").as("total_c"))
    byFlag.crossJoin(broadcast(total))
      .select(col("l_returnflag"), col("flag_c"),
        (col("flag_c").cast("double") * lit(100.0) / col("total_c").cast("double"))
          .as("pct_of_total"))
      .orderBy("l_returnflag")
  }

  val percentageOfBaseSql: String =
    """WITH li AS (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) c FROM lineitem),
      |f AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) flag_c FROM li GROUP BY 1),
      |t AS (SELECT CAST(sum(c) AS BIGINT) total_c FROM li)
      |SELECT l_returnflag, flag_c,
      |       CAST(flag_c AS DOUBLE) * 100.0 / CAST(total_c AS DOUBLE) pct_of_total
      |FROM f, t ORDER BY l_returnflag""".stripMargin

  /** Pivot: order counts per priority pivoted on status (explicit pivot
    * values → deterministic columns; the engine-native §2.6 extension).
    * Exact-cents revenue pivoted alongside via conditional aggregation. */
  def pivotStatus(s: SparkSession, dir: String): DataFrame = {
    val statuses = Seq("F", "O", "P")
    val base = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"))
    val cnts = statuses.map(st =>
      sum(when(col("o_orderstatus") === st, 1L).otherwise(0L)).as(s"cnt_$st"))
    val revs = statuses.map(st =>
      sum(when(col("o_orderstatus") === st, col("price_c")).otherwise(0L)).as(s"rev_c_$st"))
    base.groupBy("o_orderpriority")
      .agg(cnts.head, (cnts.tail ++ revs): _*)
      .orderBy("o_orderpriority")
  }

  val pivotStatusSql: String =
    """SELECT o_orderpriority,
      |       CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) cnt_F,
      |       CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) cnt_O,
      |       CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) cnt_P,
      |       CAST(sum(CASE WHEN o_orderstatus='F' THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT) rev_c_F,
      |       CAST(sum(CASE WHEN o_orderstatus='O' THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT) rev_c_O,
      |       CAST(sum(CASE WHEN o_orderstatus='P' THEN CAST(round(o_totalprice*100) AS BIGINT) ELSE 0 END) AS BIGINT) rev_c_P
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Exact median WITHOUT buffering raw values — the scale path beside
    * `core_median_prices` (whose `percentile` keeps every distinct value
    * of a group in one buffer, merged on one task: fine at bench scale, a
    * per-group sort of the full data's distinct values at 100 TB). Here
    * the shuffle carries one (group, distinct-cents) partial count per
    * map side — value-histogram selection: running cumulative
    * over the ordered distinct values locates the lower/upper middle
    * elements exactly. `median_twice_c = lo+hi` keeps even-count medians
    * in exact integer cents (verified == 2·DuckDB-median). */
  def scalableMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), cents(col("l_extendedprice")).as("val_c"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("l_returnflag").orderBy("val_c")
    val wn = Window.partitionBy("l_returnflag")
    v.withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(wn))
      .groupBy("l_returnflag")
      .agg(min("n").as("n_rows"),
        min(when(col("cum") >= expr("(n+1) div 2"), col("val_c"))).as("lo_c"),
        min(when(col("cum") >= expr("(n+2) div 2"), col("val_c"))).as("hi_c"))
      .withColumn("median_twice_c", col("lo_c") + col("hi_c"))
      .orderBy("l_returnflag")
  }

  val scalableMedianSql: String =
    """WITH v AS (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) val_c,
      |                  count(*)::BIGINT c FROM lineitem GROUP BY 1,2),
      |o AS (SELECT l_returnflag, val_c, c,
      |             CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY val_c) AS BIGINT) cum,
      |             CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) n
      |      FROM v)
      |SELECT l_returnflag, CAST(min(n) AS BIGINT) n_rows,
      |       min(CASE WHEN cum >= (n+1)//2 THEN val_c END) lo_c,
      |       min(CASE WHEN cum >= (n+2)//2 THEN val_c END) hi_c,
      |       min(CASE WHEN cum >= (n+1)//2 THEN val_c END)
      |         + min(CASE WHEN cum >= (n+2)//2 THEN val_c END) median_twice_c
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  /** Distribution-analytic window functions (§2.6 breadth): ntile /
    * percent_rank / cume_dist / first_value / nth_value over the running
    * frame, one window pass per customer. percent_rank and cume_dist are
    * exact rationals through one IEEE division — engine-identical. */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        first_value(col("o_orderkey")).over(w).as("first_ok"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowFuncsSql: String =
    """SELECT o_custkey, o_orderkey,
      |       ntile(4) OVER w AS quartile,
      |       percent_rank() OVER w AS pct_rank,
      |       cume_dist() OVER w AS cume,
      |       first_value(o_orderkey) OVER w AS first_ok,
      |       nth_value(o_orderkey, 2) OVER w AS second_ok
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** [[scalableMedian]]'s machinery generalized to the exact LOWER
    * quantile at several ranks in one pass: k-th smallest with
    * k = ceil(q·n), still one (group, distinct-cents) shuffle + one
    * running cumulative — three quantiles cost the same as one. */
  def scalableQuantiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), cents(col("l_extendedprice")).as("val_c"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("l_returnflag").orderBy("val_c")
    val wn = Window.partitionBy("l_returnflag")
    def kth(pctNum: Int): Column = // k = ceil(n*pct/100), lower quantile
      min(when(col("cum") >= expr(s"(n * $pctNum + 99) div 100"),
        col("val_c")))
    v.withColumn("cum", sum("c").over(wc))
      .withColumn("n", sum("c").over(wn))
      .groupBy("l_returnflag")
      .agg(min("n").as("n_rows"), kth(50).as("p50_c"), kth(90).as("p90_c"),
        kth(99).as("p99_c"))
      .orderBy("l_returnflag")
  }

  val scalableQuantilesSql: String =
    """WITH v AS (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) val_c,
      |                  count(*)::BIGINT c FROM lineitem GROUP BY 1,2),
      |o AS (SELECT l_returnflag, val_c, c,
      |             CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY val_c) AS BIGINT) cum,
      |             CAST(sum(c) OVER (PARTITION BY l_returnflag) AS BIGINT) n
      |      FROM v)
      |SELECT l_returnflag, CAST(min(n) AS BIGINT) n_rows,
      |       min(CASE WHEN cum >= (n*50+99)//100 THEN val_c END) p50_c,
      |       min(CASE WHEN cum >= (n*90+99)//100 THEN val_c END) p90_c,
      |       min(CASE WHEN cum >= (n*99+99)//100 THEN val_c END) p99_c
      |FROM o GROUP BY 1 ORDER BY 1""".stripMargin

  /** Correlated-subquery surface: two correlated SCALAR subqueries (the
    * above-average predicate in cross-multiplied exact integers — no float
    * average) plus EXISTS and NOT EXISTS, written as SQL text so Catalyst's
    * decorrelation (RewriteCorrelatedScalarSubquery → aggregate+join,
    * EXISTS → semi join, NOT EXISTS → anti join) is what executes. The
    * DuckDB oracle is the same SQL verbatim. */
  def subqueries(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("graft_cust_sq")
    t(s, dir, "orders").createOrReplaceTempView("graft_ord_sq")
    s.sql(
      """SELECT c1.c_custkey, CAST(round(c1.c_acctbal*100) AS BIGINT) bal_c
        |FROM graft_cust_sq c1
        |WHERE CAST(round(c1.c_acctbal*100) AS BIGINT)
        |      * (SELECT count(*) FROM graft_cust_sq c2
        |         WHERE c2.c_nationkey = c1.c_nationkey)
        |    > (SELECT sum(CAST(round(c3.c_acctbal*100) AS BIGINT))
        |       FROM graft_cust_sq c3 WHERE c3.c_nationkey = c1.c_nationkey)
        |  AND EXISTS (SELECT 1 FROM graft_ord_sq o
        |              WHERE o.o_custkey = c1.c_custkey
        |                AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM graft_ord_sq o2
        |                  WHERE o2.o_custkey = c1.c_custkey
        |                    AND o2.o_orderstatus = 'P')
        |ORDER BY c1.c_custkey""".stripMargin)
  }

  val subqueriesSql: String =
    """SELECT c1.c_custkey, CAST(round(c1.c_acctbal*100) AS BIGINT) bal_c
      |FROM customer c1
      |WHERE CAST(round(c1.c_acctbal*100) AS BIGINT)
      |      * (SELECT count(*) FROM customer c2
      |         WHERE c2.c_nationkey = c1.c_nationkey)
      |    > (SELECT CAST(sum(CAST(round(c3.c_acctbal*100) AS BIGINT)) AS BIGINT)
      |       FROM customer c3 WHERE c3.c_nationkey = c1.c_nationkey)
      |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c1.c_custkey
      |              AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c1.c_custkey
      |                  AND o2.o_orderstatus = 'P')
      |ORDER BY c1.c_custkey""".stripMargin

  /** Explicit GROUPING SETS (the general form ROLLUP/CUBE specialize —
    * both already covered; this pins the mixed-set surface): status-only,
    * priority-only, and the full cross, in one Expand pass. */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_ord_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) cnt,
        |       sum(CAST(round(o_totalprice*100) AS BIGINT)) price_c
        |FROM graft_ord_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |                        (o_orderstatus, o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT cnt,
      |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) price_c
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
      |                        (o_orderstatus, o_orderpriority))
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  /** Per-group top-N (the QUALIFY shape): each customer's two priciest
    * orders via a deterministic row_number filter — at scale Catalyst
    * turns the rank-≤-N predicate into a per-partition top-N sort
    * (WindowGroupLimit), never a full per-group sort. */
  def topPerGroup(s: SparkSession, dir: String): DataFrame = {
    val pc = cents(col("o_totalprice"))
    TopK.perGroup(t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), pc.as("price_c")),
      "o_custkey", Seq(col("price_c").desc, col("o_orderkey")), 2, "rnk")
      .orderBy("o_custkey", "rnk")
  }

  val topPerGroupSql: String =
    """SELECT o_custkey, o_orderkey, price_c, rnk FROM (
      |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) price_c,
      |         CAST(row_number() OVER (PARTITION BY o_custkey
      |              ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC,
      |                       o_orderkey) AS BIGINT) rnk
      |  FROM orders)
      |WHERE rnk <= 2 ORDER BY o_custkey, rnk""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "core_top_per_group" -> (topPerGroup _),
    "core_grouping_sets" -> (groupingSets _),
    "core_subqueries" -> (subqueries _),
    "core_scalable_quantiles" -> (scalableQuantiles _),
    "core_window_funcs" -> (windowFuncs _),
    "core_scalable_median" -> (scalableMedian _),
    "core_pivot_status" -> (pivotStatus _),
    "core_cube_acctbal" -> (cubeAcctBal _),
    "core_string_agg" -> (stringAgg _),
    "core_array_agg" -> (arrayAgg _),
    "core_median_prices" -> (medianPrices _),
    "core_left_join_counts" -> (leftJoinOrderCounts _),
    "agg_percentage" -> (percentageOfBase _),
  )

  val oracle: Map[String, String] = Map(
    "core_top_per_group" -> topPerGroupSql,
    "core_grouping_sets" -> groupingSetsSql,
    "core_subqueries" -> subqueriesSql,
    "core_scalable_quantiles" -> scalableQuantilesSql,
    "core_window_funcs" -> windowFuncsSql,
    "core_scalable_median" -> scalableMedianSql,
    "core_pivot_status" -> pivotStatusSql,
    "core_cube_acctbal" -> cubeAcctBalSql,
    "core_string_agg" -> stringAggSql,
    "core_array_agg" -> arrayAggSql,
    "core_median_prices" -> medianPricesSql,
    "core_left_join_counts" -> leftJoinOrderCountsSql,
    "agg_percentage" -> percentageOfBaseSql,
  )
}
