package graft.queries

import graft.ops.TopK
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Relational core: aggregates, filters, joins (broadcast/shuffle/semi/anti),
  * set ops, window functions, rollup, scalar functions — the Spark-native
  * superset of the reference's per-event transforms (flinkrunner delegates
  * these to raw DataStream code; see SURVEY.md §2.3/§2.6).
  *
  * Aggregate semantics mirror the reference's aggregate family
  * (reference: model/aggregate/Aggregate.scala:140-162 and the 14 concrete
  * aggregates at model/aggregate/AggregateType.scala:11-24): Count, Sum, Min,
  * Max, Mean, Range, Variance/StdDev appear here as single-pass grouped
  * aggregations; the order-dependent EMA family lives in EventQueries.
  */
object CoreQueries {

  /** TPC-H Q1-shaped pricing summary — Count/Sum/Mean over money columns
    * (reference aggregates: Count.scala:7-29, Sum.scala:7-25, Mean.scala:7-26). */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(expr("l_shipdate <= TIMESTAMP_NTZ '2000-12-01 00:00:00'"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("c"),
        pct(col("l_discount")).as("d"),
        pct(col("l_tax")).as("x"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sum_qty"),
        count(lit(1)).as("cnt"),
        sum(col("c")).as("base_c"),
        sum(col("c") * (lit(100L) - col("d"))).as("disc_c4"),
        sum(col("c") * (lit(100L) - col("d")) * (lit(100L) + col("x"))).as("charge_c6"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"), col("cnt"),
        money(col("base_c")).as("sum_base"),
        money4(col("disc_c4")).as("sum_disc"),
        money6(col("charge_c6")).as("sum_charge"),
        meanOf(col("sum_qty"), col("cnt")).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val pricingSummarySql: String =
    """WITH b AS (
      |  SELECT l_returnflag, l_linestatus,
      |         CAST(l_quantity AS BIGINT) qty,
      |         CAST(round(l_extendedprice*100) AS BIGINT) c,
      |         CAST(round(l_discount*100) AS BIGINT) d,
      |         CAST(round(l_tax*100) AS BIGINT) x
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00')
      |SELECT l_returnflag, l_linestatus,
      |       CAST(sum(qty) AS BIGINT) sum_qty,
      |       count(*) cnt,
      |       CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)/CAST(100 AS DOUBLE) sum_base,
      |       CAST(CAST(sum(c*(100-d)) AS BIGINT) AS DOUBLE)/CAST(10000 AS DOUBLE) sum_disc,
      |       CAST(CAST(sum(c*(100-d)*(100+x)) AS BIGINT) AS DOUBLE)/CAST(1000000 AS DOUBLE) sum_charge,
      |       CAST(CAST(sum(qty) AS BIGINT) AS DOUBLE)/CAST(count(*) AS DOUBLE) avg_qty
      |FROM b GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Min/Max/Range per group (reference: Min.scala, Max.scala, Range.scala:7-31
    * — Range as dependent {Min,Max}, collapsed here into one projection). */
  def minMaxRange(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("l_returnflag")
      .agg(min("c").as("min_c"), max("c").as("max_c"),
        min("qty").as("min_qty"), max("qty").as("max_qty"))
      .select(col("l_returnflag"),
        money(col("min_c")).as("min_price"), money(col("max_c")).as("max_price"),
        money(col("max_c") - col("min_c")).as("range_price"),
        col("min_qty"), col("max_qty"))
      .orderBy("l_returnflag")

  val minMaxRangeSql: String =
    """WITH b AS (SELECT l_returnflag, CAST(round(l_extendedprice*100) AS BIGINT) c,
      |                  CAST(l_quantity AS BIGINT) qty FROM lineitem)
      |SELECT l_returnflag,
      |       CAST(min(c) AS DOUBLE)/CAST(100 AS DOUBLE) min_price,
      |       CAST(max(c) AS DOUBLE)/CAST(100 AS DOUBLE) max_price,
      |       CAST(max(c)-min(c) AS DOUBLE)/CAST(100 AS DOUBLE) range_price,
      |       min(qty) min_qty, max(qty) max_qty
      |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Population variance / stddev from exact integer power sums (reference:
    * SumOfSquaredDeviations.scala:26-35 Welford, Variance.scala,
    * StandardDeviation.scala — collapsed to one single-pass projection). */
  def varianceStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("q").as("s"), sum(col("q") * col("q")).as("ss"))
      .select(col("l_returnflag"), col("n"),
        meanOf(col("s"), col("n")).as("mean_qty"),
        ((col("n") * col("ss") - col("s") * col("s")).cast("double") /
          (col("n") * col("n")).cast("double")).as("var_qty"),
        sqrt((col("n") * col("ss") - col("s") * col("s")).cast("double") /
          (col("n") * col("n")).cast("double")).as("stddev_qty"))
      .orderBy("l_returnflag")

  val varianceStatsSql: String =
    """WITH b AS (SELECT l_returnflag, count(*) n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) s,
      |                  CAST(sum(CAST(l_quantity AS BIGINT)*CAST(l_quantity AS BIGINT)) AS BIGINT) ss
      |           FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |       CAST(s AS DOUBLE)/CAST(n AS DOUBLE) mean_qty,
      |       CAST(n*ss - s*s AS DOUBLE)/CAST(n*n AS DOUBLE) var_qty,
      |       sqrt(CAST(n*ss - s*s AS DOUBLE)/CAST(n*n AS DOUBLE)) stddev_qty
      |FROM b ORDER BY l_returnflag""".stripMargin

  /** Top-k revenue orders: shuffle agg + join + sort/limit. */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))).as("rc4"))
      .groupBy("l_orderkey").agg(sum("rc4").as("revenue_c4"))
    rev.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"), money4(col("revenue_c4")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val topOrdersSql: String =
    """WITH rev AS (
      |  SELECT l_orderkey,
      |         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) revenue_c4
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') o_date, o_orderpriority,
      |       CAST(revenue_c4 AS DOUBLE)/CAST(10000 AS DOUBLE) revenue
      |FROM rev JOIN orders ON l_orderkey = o_orderkey
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin

  /** Star-schema enrichment through broadcast dims: lineitem ⋈ supplier ⋈
    * nation ⋈ region (the batch analog of the reference's broadcast-state
    * pattern, StreamJob.scala:249-263). */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))).as("rc4"))
    li.join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum("rc4").as("rc4"), count(lit(1)).as("cnt"))
      .select(col("r_name"), col("n_name"), money4(col("rc4")).as("revenue"), col("cnt"))
      .orderBy("r_name", "n_name")
  }

  val regionRevenueSql: String =
    """SELECT r_name, n_name,
      |       CAST(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS DOUBLE)/CAST(10000 AS DOUBLE) revenue,
      |       count(*) cnt
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join: customers having a big order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_custkey"))
    t(s, dir, "customer")
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no open ('O') orders. */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
    t(s, dir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), cents(col("c_acctbal")).as("acctbal_c"))
      .orderBy("c_custkey")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, CAST(round(c_acctbal*100) AS BIGINT) acctbal_c
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  /** UNION / INTERSECT / EXCEPT (distinct semantics) in one row — computed
    * in a single pass with one full-outer join instead of three separate
    * set-op jobs (the counts are equivalent; at scale this is one shuffle
    * instead of three). */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("k")).distinct()
      .withColumn("in_a", lit(1))
    val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k2")).distinct()
      .withColumn("in_b", lit(1))
    rich.join(open, col("k") === col("k2"), "full_outer")
      .agg(
        count(lit(1)).as("union_cnt"),
        sum(when(col("in_a").isNotNull && col("in_b").isNotNull, 1L).otherwise(0L)).as("intersect_cnt"),
        sum(when(col("in_a").isNotNull && col("in_b").isNull, 1L).otherwise(0L)).as("except_cnt"))
  }

  val setOpsSql: String =
    """SELECT
      |  (SELECT count(*) FROM (SELECT c_custkey k FROM customer WHERE c_acctbal > 5000
      |                         UNION SELECT o_custkey FROM orders WHERE o_orderstatus='O')) union_cnt,
      |  (SELECT count(*) FROM (SELECT c_custkey k FROM customer WHERE c_acctbal > 5000
      |                         INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')) intersect_cnt,
      |  (SELECT count(*) FROM (SELECT c_custkey k FROM customer WHERE c_acctbal > 5000
      |                         EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')) except_cnt""".stripMargin

  /** Ranking window function: top-3 orders per customer. */
  def rankPerCustomer(s: SparkSession, dir: String): DataFrame = {
    TopK.perGroup(t(s, dir, "orders"), "o_custkey",
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3, "rn")
      .select(col("o_custkey"), col("rn"), col("o_orderkey"),
        cents(col("o_totalprice")).as("price_c"))
      .orderBy("o_custkey", "rn")
  }

  val rankPerCustomerSql: String =
    """SELECT o_custkey, rn, o_orderkey, price_c FROM (
      |  SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) price_c,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Analytic lag: per-customer order-price delta over order-date sequence. */
  def lagDelta(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_c"))
      .withColumn("delta_c", col("price_c") - lag("price_c", 1).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("price_c"), col("delta_c"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val lagDeltaSql: String =
    """SELECT o_custkey, o_orderkey, price_c,
      |       price_c - lag(price_c, 1) OVER (PARTITION BY o_custkey
      |                                       ORDER BY o_orderdate, o_orderkey) delta_c
      |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
      |             CAST(round(o_totalprice*100) AS BIGINT) price_c FROM orders)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** ROLLUP grouping-sets over the region→nation hierarchy. Expressed in SQL:
    * Dataset.rollup on post-join attrs trips Spark 4.1's ambiguous-self-join
    * check even with fresh aliases. */
  def rollupAcctBal(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("rkey"), col("n_name").as("nkey"),
        cents(col("c_acctbal")).as("bal"))
      .createOrReplaceTempView("graft_cust_geo")
    s.sql(
      """SELECT rkey AS r_name, nkey AS n_name, count(*) AS cnt, sum(bal) AS bal_c
        |FROM graft_cust_geo GROUP BY ROLLUP(rkey, nkey)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  val rollupAcctBalSql: String =
    """SELECT r_name, n_name, count(*) cnt,
      |       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) bal_c
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Exact distinct cardinalities per group. */
  def distinctCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("parts"),
        countDistinct(col("l_suppkey")).as("supps"),
        countDistinct(col("l_orderkey")).as("orders"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  val distinctCountsSql: String =
    """SELECT l_returnflag, count(DISTINCT l_partkey) parts,
      |       count(DISTINCT l_suppkey) supps, count(DISTINCT l_orderkey) orders,
      |       count(*) cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Scalar-function surface: string/date/conditional expressions
    * (the reference's per-event transforms are arbitrary Scala —
    * SURVEY.md §2.7; here exercised as codegen'd column expressions). */
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_u"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        concat_ws("/", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        lpad(col("o_orderkey").cast("string"), 10, "0").as("key_pad"),
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        when(col("o_totalprice") >= 300000, "big")
          .when(col("o_totalprice") >= 100000, "mid")
          .otherwise("small").as("size_bucket"))
      .orderBy("o_orderkey")

  val scalarFuncsSql: String =
    """SELECT o_orderkey,
      |       upper(o_orderpriority) prio_u,
      |       substring(o_orderpriority, 1, 1) prio_code,
      |       CAST(length(o_orderpriority) AS BIGINT) prio_len,
      |       concat_ws('/', o_orderstatus, o_orderpriority) tag,
      |       lpad(CAST(o_orderkey AS VARCHAR), 10, '0') key_pad,
      |       CAST(year(o_orderdate) AS BIGINT) yr,
      |       CAST(month(o_orderdate) AS BIGINT) mo,
      |       CAST(quarter(o_orderdate) AS BIGINT) qtr,
      |       CASE WHEN o_totalprice >= 300000 THEN 'big'
      |            WHEN o_totalprice >= 100000 THEN 'mid'
      |            ELSE 'small' END size_bucket
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** TPC-H Q6-shaped selective aggregate (predicate + column pruning must
    * reach the parquet scan — see GraftPlanSpec). */
  def selectiveRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(expr("l_shipdate >= TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP_NTZ '1998-01-01 00:00:00'") &&
        pct(col("l_discount")).between(5, 7) && col("l_quantity") < 24)
      .agg(
        sum(cents(col("l_extendedprice")) * pct(col("l_discount"))).as("rev_c4"),
        count(lit(1)).as("cnt"))
      .select(money4(col("rev_c4")).as("revenue"), col("cnt"))

  val selectiveRevenueSql: String =
    """SELECT CAST(CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)*CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS DOUBLE)/CAST(10000 AS DOUBLE) revenue,
      |       count(*) cnt
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7 AND l_quantity < 24""".stripMargin

  /** Join + conditional aggregation: promo revenue share per brand. */
  def brandPromoShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount")))).as("rc4"))
    li.join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sum(when(col("p_type") === "PROMO", col("rc4")).otherwise(0L)).as("promo_c4"),
        sum(col("rc4")).as("total_c4"),
        count(lit(1)).as("cnt"))
      .select(col("p_brand"), col("promo_c4"), col("total_c4"), col("cnt"),
        (col("promo_c4").cast("double") / col("total_c4").cast("double")).as("promo_share"))
      .orderBy("p_brand")
  }

  val brandPromoShareSql: String =
    """WITH b AS (
      |  SELECT p_brand, p_type,
      |         CAST(round(l_extendedprice*100) AS BIGINT)*(100-CAST(round(l_discount*100) AS BIGINT)) rc4
      |  FROM lineitem JOIN part ON l_partkey = p_partkey)
      |SELECT p_brand,
      |       CAST(sum(CASE WHEN p_type='PROMO' THEN rc4 ELSE 0 END) AS BIGINT) promo_c4,
      |       CAST(sum(rc4) AS BIGINT) total_c4,
      |       count(*) cnt,
      |       CAST(CAST(sum(CASE WHEN p_type='PROMO' THEN rc4 ELSE 0 END) AS BIGINT) AS DOUBLE)
      |         / CAST(CAST(sum(rc4) AS BIGINT) AS DOUBLE) promo_share
      |FROM b GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Aggregate + HAVING + dimension join: high-value customers. */
  def bigSpenders(s: SparkSession, dir: String): DataFrame = {
    val tot = t(s, dir, "orders")
      .select(col("o_custkey"), cents(col("o_totalprice")).as("price_c"))
      .groupBy("o_custkey")
      .agg(sum("price_c").as("spend_c"), count(lit(1)).as("n_orders"))
      .filter(col("spend_c") > 350000000L) // > $3.5M
    tot.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("spend_c"), col("n_orders"))
      .orderBy("c_custkey")
  }

  val bigSpendersSql: String =
    """WITH tot AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) spend_c,
      |         count(*) n_orders
      |  FROM orders GROUP BY o_custkey HAVING CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) > 350000000)
      |SELECT c_custkey, c_name, spend_c, n_orders
      |FROM tot JOIN customer ON o_custkey = c_custkey ORDER BY c_custkey""".stripMargin

  /** TPC-H Q8-shaped market share: per (customer region, order year), each
    * supplier nation's share of discounted revenue. Six-way join: the two
    * fact joins (lineitem⋈orders, orders⋈customer) are left to AQE —
    * genuinely big on both sides at scale, so forcing a broadcast would be
    * wrong; the geography dims (nation×2, region) ARE forced broadcast.
    * Share arithmetic: exact 1e-4-dollar integers up to one final
    * engine-identical division per row. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
      (cents(col("l_extendedprice")) * (lit(100L) - pct(col("l_discount"))))
        .as("rev_c4"))
    val nationS = t(s, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val rev = li
      .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nationS), col("s_nationkey") === col("sn_key"))
      .select(col("r_name").as("region"), col("yr"), col("supp_nation"),
        col("rev_c4"))
    val g = rev.groupBy("region", "yr", "supp_nation")
      .agg(sum("rev_c4").as("nat_c4"))
    // regional total as a window sum over the already-aggregated g (tiny:
    // regions × years × nations) — the groupBy-then-join-back form
    // re-evaluated the whole 6-way rev join for BOTH branches (14 scans in
    // the r20 plan); the window reads g once and costs one exchange of the
    // aggregate rows. Same exact integer sum, same share division.
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy("region", "yr")
    g.withColumn("tot_c4", sum("nat_c4").over(wTot))
      .select(col("region"), col("yr"), col("supp_nation"), col("nat_c4"),
        (col("nat_c4").cast("double") / col("tot_c4").cast("double"))
          .as("mkt_share"))
      .orderBy("region", "yr", "supp_nation")
  }

  val marketShareSql: String =
    """WITH rev AS (
      |  SELECT r.r_name region, year(o.o_orderdate)::BIGINT yr, sn.n_name supp_nation,
      |         CAST(round(l.l_extendedprice*100) AS BIGINT)
      |           * (100 - CAST(round(l.l_discount*100) AS BIGINT)) rev_c4
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      |  JOIN region r ON cn.n_regionkey = r.r_regionkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
      |g AS (SELECT region, yr, supp_nation, CAST(sum(rev_c4) AS BIGINT) nat_c4
      |      FROM rev GROUP BY 1,2,3),
      |t AS (SELECT region, yr, CAST(sum(nat_c4) AS BIGINT) tot_c4 FROM g GROUP BY 1,2)
      |SELECT g.region, g.yr, g.supp_nation, g.nat_c4,
      |       CAST(g.nat_c4 AS DOUBLE) / CAST(t.tot_c4 AS DOUBLE) mkt_share
      |FROM g JOIN t ON g.region = t.region AND g.yr = t.yr
      |ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q17-shaped correlated aggregate: revenue from order lines whose
    * quantity is below 1/5 of that part's average quantity, for one brand.
    * The per-part average is computed ONLY over the brand-filtered lines
    * (partkey determines brand, so restricting before the aggregate is
    * semantics-preserving — the classic decorrelation + pushdown): the
    * brand dim broadcasts, and the self-correlation becomes one keyed agg
    * joined back on the partkey partitioning it was built on. Exact
    * integer predicate: qty_c·5·n < sum_qty_c (no float average). */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val brandParts = broadcast(
      t(s, dir, "part").filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey")))
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), cents(col("l_quantity")).as("qc"),
        cents(col("l_extendedprice")).as("pc"))
      .join(brandParts, col("l_partkey") === col("p_partkey"))
    val pa = li.groupBy(col("l_partkey").as("pk"))
      .agg(count(lit(1)).as("n"), sum("qc").as("sq"))
    li.join(pa, col("l_partkey") === col("pk"))
      .filter(col("qc") * lit(5L) * col("n") < col("sq"))
      .agg(sum("pc").as("rev_c"), count(lit(1)).as("n_lines"))
  }

  val smallQtyRevenueSql: String =
    """WITH pa AS (SELECT l_partkey pk, count(*)::BIGINT n,
      |                   CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) sq
      |            FROM lineitem GROUP BY 1)
      |SELECT CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) rev_c,
      |       count(*)::BIGINT n_lines
      |FROM lineitem l JOIN pa ON l.l_partkey = pa.pk
      |JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_brand = 'Brand#1'
      |  AND CAST(round(l_quantity*100) AS BIGINT) * 5 * n < sq""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "core_small_qty_revenue" -> (smallQtyRevenue _),
    "core_market_share" -> (marketShare _),
    "core_pricing_summary" -> (pricingSummary _),
    "core_minmax_range" -> (minMaxRange _),
    "core_variance" -> (varianceStats _),
    "core_top_orders" -> (topOrders _),
    "core_region_revenue" -> (regionRevenue _),
    "core_semi_join" -> (semiJoin _),
    "core_anti_join" -> (antiJoin _),
    "core_set_ops" -> (setOps _),
    "core_rank_per_customer" -> (rankPerCustomer _),
    "core_lag_delta" -> (lagDelta _),
    "core_rollup_acctbal" -> (rollupAcctBal _),
    "core_distinct_counts" -> (distinctCounts _),
    "core_scalar_funcs" -> (scalarFuncs _),
    "core_selective_revenue" -> (selectiveRevenue _),
    "core_brand_promo_share" -> (brandPromoShare _),
    "core_big_spenders" -> (bigSpenders _),
  )

  val oracle: Map[String, String] = Map(
    "core_small_qty_revenue" -> smallQtyRevenueSql,
    "core_market_share" -> marketShareSql,
    "core_pricing_summary" -> pricingSummarySql,
    "core_minmax_range" -> minMaxRangeSql,
    "core_variance" -> varianceStatsSql,
    "core_top_orders" -> topOrdersSql,
    "core_region_revenue" -> regionRevenueSql,
    "core_semi_join" -> semiJoinSql,
    "core_anti_join" -> antiJoinSql,
    "core_set_ops" -> setOpsSql,
    "core_rank_per_customer" -> rankPerCustomerSql,
    "core_lag_delta" -> lagDeltaSql,
    "core_rollup_acctbal" -> rollupAcctBalSql,
    "core_distinct_counts" -> distinctCountsSql,
    "core_scalar_funcs" -> scalarFuncsSql,
    "core_selective_revenue" -> selectiveRevenueSql,
    "core_brand_promo_share" -> brandPromoShareSql,
    "core_big_spenders" -> bigSpendersSql,
  )
}
