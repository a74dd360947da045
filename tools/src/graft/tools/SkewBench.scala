package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: skewed-join rehearsal (round-16, VERDICT r15 #5). On the
  * skewgen tier (one user ~20% of events) this measures the user_id
  * shuffle join of the skewed fact stream against a mid-size per-user
  * dimension, four ways:
  *
  *   1. plain shuffle join, AQE OFF — the straggler baseline: the hot
  *      key's entire share lands on one reducer;
  *   2. salted join (graft.ops.SaltedJoin, salt from the audit's
  *      salt_rec), AQE OFF — the declarative remedy;
  *   3. plain shuffle join, AQE ON — Spark's runtime skew split;
  *   4. salted join, AQE ON — both (what production runs).
  *
  * Also prints the skew audit's top row (the salt_rec the operator uses)
  * and asserts the salted result row count equals the plain one (the
  * identity contract). Broadcast joins are disabled for the measured
  * joins — at 100 TB the dimension side is past broadcast size; the whole
  * point is the shuffle-join straggler.
  *
  * Usage: SkewBench [tier-dir] [reps]
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/sf_skew")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = graft.queries.Q.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    // mid-size per-user dimension (too big to broadcast at real scale):
    // one row per user with a few attributes
    val dim = ev.groupBy("user_id")
      .agg(count(lit(1)).as("u_events"), avg("value").as("u_avg"))
      .persist()
    dim.count()

    val audit = graft.ops.SaltedJoin.recommendSalt(ev, "user_id",
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    println(s"[skew-bench] audit salt_rec=$audit on $dir")

    def time(label: String, aqe: Boolean)(f: => DataFrame): Long = {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // aggregate AFTER the join so the joined hot partition is really
        // processed, not just counted at the exchange
        val n = f.groupBy("event_type")
          .agg(sum(col("value") * col("u_events")).as("s"))
          .collect().map(_.getString(0)).length
        require(n > 0)
        (System.nanoTime() - t0) / 1000000L
      }
      val best = times.min
      println(f"[skew-bench] $label%-28s min-of-$reps ${best}%6d ms  (all: ${times.mkString(",")})")
      best
    }

    val plainOff = time("plain join, AQE off", aqe = false) {
      ev.join(dim, "user_id")
    }
    val saltOff = time(s"salted($audit) join, AQE off", aqe = false) {
      graft.ops.SaltedJoin.inner(ev, dim, "user_id", salt = audit)
    }
    val plainOn = time("plain join, AQE on", aqe = true) {
      ev.join(dim, "user_id")
    }
    val saltOn = time(s"salted($audit) join, AQE on", aqe = true) {
      graft.ops.SaltedJoin.inner(ev, dim, "user_id", salt = audit)
    }

    // identity contract: salting changes partitioning, never the result
    spark.conf.set("spark.sql.adaptive.enabled", true)
    val a = ev.join(dim, "user_id").count()
    val b = graft.ops.SaltedJoin.inner(ev, dim, "user_id", audit).count()
    assert(a == b, s"salted join changed row count: plain=$a salted=$b")
    println(s"[skew-bench] identity ok ($a rows); " +
      s"plainOff=$plainOff saltOff=$saltOff plainOn=$plainOn saltOn=$saltOn ms")
    spark.stop()
  }
}
