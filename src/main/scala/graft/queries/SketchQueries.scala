package graft.queries

import graft.agg.SketchAggregators.{CmsAggregator, HeavyHittersAggregator, HllAggregator}
import graft.algorithm.CountMinSketch
import graft.model.GraftEvent
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Sketch/approximate operators at the query surface. CMS and HLL are
  * FULLY oracle-checked — their portable integer hash families are rebuilt
  * verbatim in DuckDB SQL, estimates hash-match including collisions. The
  * remaining three (SBF, SpaceSaving, percentile_approx) are engine-local
  * by construction (order-dependent decay/eviction, Spark-internal
  * KLL-style summary) → rows-only beside their exact twins
  * (`ev_dedup_exact`, `text_boilerplate`, `core_median_prices`), with unit
  * specs bounding the sketch error.
  */
object SketchQueries {

  /** Typed adapter for the events table (the GraftEvent view of driver
    * data — exercises the engine's typed API over real parquet). */
  final case class EventRow(
      event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, value: Double) extends GraftEvent {
    override def $id: String = event_id.toString
    override def $key: String = user_id.toString
    override def $timestamp: Long = ts_us / 1000L
    override def $dedupeId: String = s"$user_id:$event_type:${math.round(value * 100)}"
  }

  private def typedEvents(s: SparkSession, dir: String) = {
    implicit val enc: Encoder[EventRow] = Encoders.product[EventRow]
    events(s, dir)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventRow]
  }

  /** Distinct users per event type: exact beside the ported HyperLogLog
    * Aggregator — one pass each, mergeable partials. FULLY oracle-checked
    * since round 16: the HLL hash is a portable two-lane family (polynomial
    * mod 2^32 + fmix32, algorithm/HyperLogLog.scala) and the estimator's
    * register sum is exact-integer, so the DuckDB oracle rebuilds the
    * identical 4096-register array and estimate in SQL — including every
    * hash collision. (Spark's builtin approx_count_distinct HLL++ remains
    * the production default; its engine-internal estimate is covered by
    * spec, not oracle.) */
  def hllUsers(s: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[EventRow] = Encoders.product[EventRow]
    import s.implicits._
    val hll = new HllAggregator[EventRow](_.user_id.toString, b = 12)
    val ported = typedEvents(s, dir)
      .groupByKey(_.event_type)
      .agg(hll.toColumn.name("hll_est"))
      .toDF("event_type", "hll_est")
    val exact = events(s, dir).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(ported, "event_type").orderBy("event_type")
  }

  /** DuckDB mirror of [[hllUsers]]: rebuilds the b=12 HLL verbatim — the
    * two fmix32(poly) lanes (HUGEINT intermediates for the 32x32 products),
    * the 62-bit combine, idx/rank split (w=50), register-wise max, and the
    * exact-integer register sum in units of 2^-51 — then the identical
    * float estimator op-for-op. */
  val hllUsersSql: String =
    """WITH u AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) s FROM events),
      |ph AS (SELECT event_type,
      |  list_reduce(list_prepend(17::BIGINT, list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)), (a, x) -> (a * 31 + x) % 4294967296) h1,
      |  list_reduce(list_prepend(19::BIGINT, list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)), (a, x) -> (a * 37 + x) % 4294967296) h2
      |  FROM u),
      |f1 AS (SELECT event_type, xor(h1, h1 >> 16) a1, xor(h2, h2 >> 16) a2 FROM ph),
      |f2 AS (SELECT event_type, CAST((a1::HUGEINT * 2246822507) % 4294967296 AS BIGINT) b1,
      |               CAST((a2::HUGEINT * 2246822507) % 4294967296 AS BIGINT) b2 FROM f1),
      |f3 AS (SELECT event_type, xor(b1, b1 >> 13) c1, xor(b2, b2 >> 13) c2 FROM f2),
      |f4 AS (SELECT event_type, CAST((c1::HUGEINT * 3266489909) % 4294967296 AS BIGINT) d1,
      |               CAST((c2::HUGEINT * 3266489909) % 4294967296 AS BIGINT) d2 FROM f3),
      |f5 AS (SELECT event_type, xor(d1, d1 >> 16) e1, xor(d2, d2 >> 16) e2 FROM f4),
      |hx AS (SELECT event_type, (e1 & 2147483647) * 2147483648 + (e2 & 2147483647) x FROM f5),
      |rk AS (SELECT event_type, x >> 50 idx,
      |         CASE WHEN x & 1125899906842623 = 0 THEN 51
      |              ELSE 51 - length(bin(x & 1125899906842623)) END rnk FROM hx),
      |regs AS (SELECT event_type, idx, max(rnk) mx FROM rk GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*) present,
      |         sum(1::BIGINT << (51 - mx)) psum FROM regs GROUP BY 1),
      |es AS (SELECT event_type, 4096 - present zeros,
      |         psum + (4096 - present)::HUGEINT * 2251799813685248 sumscaled FROM st),
      |rw AS (SELECT event_type, zeros,
      |         0.7213 / (1 + 1.079 / 4096) * 4096 * 4096 /
      |           (sumscaled::DOUBLE / 2251799813685248) r FROM es),
      |he AS (SELECT event_type,
      |         CAST(round(CASE WHEN r <= 2.5 * 4096 AND zeros > 0
      |                         THEN 4096 * ln(4096.0 / zeros)
      |                         WHEN r > 4294967296.0 / 30
      |                         THEN -4294967296.0 * ln(1 - r / 4294967296.0)
      |                         ELSE r END) AS BIGINT) hll_est FROM rw),
      |ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT exact_users
      |       FROM events GROUP BY 1)
      |SELECT ex.event_type, exact_users, hll_est
      |FROM ex JOIN he USING (event_type) ORDER BY event_type""".stripMargin

  /** Bounded-memory SBF dedup over the typed stream — approximate twin of
    * `ev_dedup_exact` (reference SBFDeduplicationFilter semantics). */
  def sbfDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[EventRow] = Encoders.product[EventRow]
    Dedup.sbfBatch(typedEvents(s, dir), numCells = 1 << 20)
      .toDF()
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id")
  }

  /** Approximate top-20 word-trigrams by document frequency via the
    * SpaceSaving summary (256 counters per partial — fixed memory no matter
    * how large the trigram vocabulary grows) — the bounded-memory twin of
    * the exact `text_boilerplate` groupBy. At 100 TB the exact top-k needs a
    * full vocabulary-sized shuffle; the sketch ships 256 counters per
    * partition and merges algebraically. Counts are upper bounds with a
    * per-item recorded error ≤ N/capacity (order-dependent like every
    * counter sketch → rows-only beside the exact twin). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val hh = new HeavyHittersAggregator[String](identity, capacity = 256,
      topN = 20)
    val shingles = tPar(s, dir, "documents")
      .select(explode(call_function("graft_shingles", col("text"), lit(3)))
        .as("sh"))
      .as[String]
    shingles.select(hh.toColumn).toDF("hh")
      .select(posexplode(col("hh")).as(Seq("i", "h")))
      .select((col("i") + 1).cast("long").as("rank"),
        col("h.item").as("shingle"),
        col("h.count").as("est_df"),
        col("h.error").as("max_err"))
  }

  /** Bounded-memory quantiles beside the exact computation — the fourth
    * classic sketch family (distinct=HLL, membership=SBF, frequency=
    * SpaceSaving, rank=this): Spark's percentile_approx keeps an
    * accuracy-bounded summary per group (state independent of group size;
    * error ≤ 1/accuracy of the rank) where exact percentile keeps every
    * distinct value as O(distinct) sorted (value, count) runs
    * ([[graft.agg.ExactPercentile]]). At 100 TB the exact form is a
    * per-group sort of the full data's distinct values; the sketch is the
    * shape that survives. The exact pair comes from one buffer per group.
    * Approximate values are engine-local → rows-only beside the exact twin
    * `core_median_prices`. */
  def quantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, array(0.5, 0.9))").as("exact"),
      expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("approx_p50"),
      expr("percentile_approx(l_extendedprice, 0.9, 1000)").as("approx_p90"),
      count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("exact")(0).as("exact_p50"),
        col("approx_p50"), col("exact")(1).as("exact_p90"), col("approx_p90"),
        col("n_rows"))
      .orderBy("l_returnflag")

  /** Count-Min frequency estimates per user beside the exact counts — and,
    * uniquely among the sketches, FULLY oracle-checked: the CMS hash family
    * is integer-affine mod a prime (algorithm/CountMinSketch.scala), so the
    * DuckDB oracle rebuilds the identical sketch in SQL and the estimates
    * hash-match including their deterministic collision overcounts.
    *
    * Scale shape: the sketch build is one aggregate whose partials are a
    * constant 3×256 longs per partition; the collected table (6 KB —
    * bounded by design, not by data) probes back in as a broadcast literal
    * array, so per-row estimation is codegen'd `least(element_at..)` with
    * no second shuffle beyond the exact-count groupBy it rides. */
  def cmsUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val depth = 3
    val width = 256
    val cms = new CmsAggregator[Long](identity, depth, width)
    val sketch: Array[Long] = events(s, dir)
      .select(col("user_id")).as[Long]
      .select(cms.toColumn).head()
    val skLit = typedlit(sketch.toSeq)
    val estRows = (0 until depth).map { i =>
      // same residue algebra as CountMinSketch.bucket (user_id >= 0 here)
      val bkt = (col("user_id") % lit(CountMinSketch.P)
        * lit(CountMinSketch.A(i)) + lit(CountMinSketch.B(i))) %
        lit(CountMinSketch.P) % lit(width.toLong)
      element_at(skLit, (lit(i.toLong * width) + bkt).cast("int") + 1)
    }
    events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("ex_cnt"))
      .withColumn("est_cnt", least(estRows: _*))
      .withColumn("overcount", col("est_cnt") - col("ex_cnt"))
      .select("user_id", "est_cnt", "ex_cnt", "overcount")
      .orderBy("user_id")
  }

  val cmsUsersSql: String =
    """WITH p AS (SELECT * FROM (VALUES (0, 40503, 12345), (1, 30011, 54321),
      |                                 (2, 22695, 7919)) h(i,a,b)),
      |cell AS (SELECT i, ((user_id % 65521)*a + b) % 65521 % 256 AS bkt,
      |                count(*)::BIGINT cnt
      |         FROM events, p GROUP BY 1, 2),
      |est AS (SELECT e.user_id, min(cnt) est
      |        FROM (SELECT DISTINCT user_id FROM events) e
      |        CROSS JOIN p
      |        JOIN cell ON cell.i = p.i
      |                 AND cell.bkt = ((e.user_id % 65521)*p.a + p.b) % 65521 % 256
      |        GROUP BY 1),
      |ex AS (SELECT user_id, count(*)::BIGINT ex_cnt FROM events GROUP BY 1)
      |SELECT ex.user_id, CAST(est AS BIGINT) est_cnt, ex_cnt,
      |       CAST(est - ex_cnt AS BIGINT) overcount
      |FROM ex JOIN est ON ex.user_id = est.user_id ORDER BY 1""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    "sk_hll_users" -> (hllUsers _),
    "sk_sbf_dedup" -> (sbfDedup _),
    "sk_heavy_hitters" -> (heavyHitters _),
    "sk_quantiles" -> (quantiles _),
    "sk_cms_users" -> (cmsUsers _),
  )

  /** Rows-only (see object doc) except CMS and HLL, whose portable hash
    * families the oracle reproduces exactly. */
  val oracle: Map[String, String] = Map(
    "sk_cms_users" -> cmsUsersSql,
    "sk_hll_users" -> hllUsersSql,
  )
}
