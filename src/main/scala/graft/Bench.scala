package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times the query surface on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","queries","sf"} for the
  * driver. `graft.Bench [query ...]` times only the named queries; with no
  * names it times every query but SKIP and also prints a short summary line.
  *
  * The timed action is a `noop` write ([[materialize]]), the one perfbench
  * times: every output column is computed, where `count()` would let
  * Catalyst prune columns (`core_median_prices` lost its percentile).
  * Quadratic small-data oracles (brute-force pair scans that exist only to
  * validate the LSH paths) are excluded via SKIP — the scale path for those
  * semantics (minhash/LSH-bucketed variants) IS timed.
  *
  * **One child JVM per chunk.** Per-query numbers inside one long-lived
  * bench JVM carry ~0.5-1 s of accumulated heap/GC state on
  * allocation-heavy queries (BASELINE.md round-7 case study) — every pass
  * pays it, so min-of-N cannot remove it. So the parent forks one child
  * JVM per ≤CHUNK-query slice of each query family (core_, text_, vec_,
  * ...), started with the parent's own JVM arguments and class path; each
  * child warms up, times its own slice with interleaved min-of-RUNS
  * passes and prints one JSON line; the parent merges. A chunk that fails
  * fails the run: its queries are named on stderr and the exit is
  * non-zero.
  */
object Bench {

  /** Brute-force O(n²) pair-scan oracles; their scale-path counterparts
    * (text_minhash_pairs, vec_ann_lsh) are benchmarked instead. Also the
    * recall self-check, a composite that re-runs five queries (ann_topk,
    * ann_ivf, ann_ivfpq, ann_sq, ann_hamming) that are each already timed
    * individually. text_ssjoin's Spark side IS the scale path
    * (prefix-filtered), but its ORACLE is deliberately the independent
    * brute-force scan (that independence is the losslessness proof), which
    * at sf0.1 costs DuckDB minutes — keeping it out of the timed set avoids
    * an artificial 100×-win entry. */
  private val SKIP = Set("text_ngram_jaccard", "text_simhash_pairs",
    "vec_cosine_pairs", "vec_ann_recall", "text_ssjoin")

  /** The `memoized` field: queries that read a per-tier artifact of
    * [[graft.util.Memo]] (a hit or a build) in any of their executions,
    * as the registry's read scope recorded them. It keeps cross-engine
    * totals interpretable: a DuckDB oracle retrains these artifacts every
    * run, the Spark side builds them once per JVM, and the build is paid
    * inside the same chunk's warm-up pass. */
  private def memoizedJson(names: Iterable[String]): String =
    names.toSeq.sorted.map("\"" + _ + "\"").mkString("\"memoized\":[", ",", "],")

  /** The JSON line of a run or a chunk: per-query times and their total. */
  private def benchLine(times: Seq[(String, Double)], calibJson: String,
      memoized: Iterable[String], sfDir: String): String = {
    val qs = times.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${num(times.map(_._2).sum)},"unit":"sec","runs":$RUNS,"agg":"min",$calibJson${memoizedJson(memoized)}"queries":$qs,"sf":"$sfDir"}"""
  }

  /** Run one query execution in its own [[graft.util.CacheBin]] scope;
    * true when it read a [[graft.util.Memo]] artifact. */
  private[graft] def readsArtifacts(execution: => Unit): Boolean =
    graft.util.Memo.reading(graft.util.CacheBin.withScope(execution))._2.nonEmpty

  private def benchedQueries: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(SKIP)

  private def groupOf(name: String): String = name.takeWhile(_ != '_')

  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Fixed HOST-CALIBRATION probe (round 18, VERDICT r17 #1): a pinned,
    * data-blind Spark job — `bit_xor(xxhash64(id))` over a 2-billion-row
    * Range in 32 fixed splits; whole-stage codegen, no I/O, no data
    * dependence, the only exchange a single-row partial-agg merge — timed
    * warm min-of-2 FIRST in every bench JVM (~1.4 s/child incl. warm-up).
    * Why: Spark-second numbers on this shared host drift with
    * JVM-workload throughput between rounds — r17's apparent 1.4×
    * "regression" was proven pure host drift (the r16 binary re-benched
    * at r17 speeds back-to-back while DuckDB reproduced its r16 total to
    * the second). The probe makes every bench line self-calibrating:
    * cross-round comparisons multiply raw times by (calib_ref/calib_run)
    * per BASELINE.md's "Host-drift normalization" rule. The merged line
    * reports the MEDIAN across child JVMs (robust to a steal burst
    * landing on one chunk) plus min/max as the burst spread. */
  private val CALIB_ROWS = 2000000000L
  private def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.expr
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, CALIB_ROWS, 1L, 32)
        .select(expr("bit_xor(xxhash64(id))")).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // codegen + JIT warm
    math.min(once(), once())
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Timed passes per query; each query reports its minimum. */
  private val RUNS = 3

  /** The timed action: a `noop` write, which computes every output column
    * (perfbench times the same action). */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // child protocol: an explicit comma-separated query list
    sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some(chunk) => runChunk(sfDir, chunk.split(',').toSeq) // one JSON line
      case None => if (!runAll(sfDir, args.toSeq)) sys.exit(1)
    }
  }

  /** Task slots: `SPARK_GRAFT_CPUS` when it is a positive integer, else
    * every core — the value goes into the JSON and a file name unquoted. */
  private[graft] def cpusFrom(env: Option[String]): Int =
    env.flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  private lazy val benchCpus: Int = cpusFrom(sys.env.get("SPARK_GRAFT_CPUS"))

  /** The r13 verdict found the driver's captured bench line TRUNCATED mid-
    * tail (~15 per-query numbers lost from the auditable set). The full
    * line is therefore also written to BENCH_FULL.json in the working
    * directory — same content, file-backed, immune to any pipe/log
    * truncation downstream. The r21 verdict then found THAT file clobbered
    * by the driver's subsequent 8-core scaling run, losing the round's
    * 32-core record — so the line is additionally written to a per-core-
    * count file, BENCH_FULL_c<cpus>.json, which a run at a different cpu
    * setting can never overwrite (VERDICT r21 #1). Best-effort: bench
    * numbers must never fail because the cwd is read-only. */
  private def writeFullLine(json: String): Unit = {
    def put(name: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(name), json + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $name: ${e.getMessage}") }
    put("BENCH_FULL.json") // legacy name, kept for existing tooling
    put(s"BENCH_FULL_c$benchCpus.json")
  }

  /** What the summary line reports, taken from the run's own values. */
  private[graft] final case class Summary(total: Double, calib: Option[Double],
      nQueries: Int, cpus: Int)

  /** The driver captures only a ~2 KB tail of bench output; the full line
    * (~4.8 KB at 159 queries) never survives it whole, so the driver's
    * round-over-round PERF comparison parsed null for two straight rounds
    * (VERDICT r21 #1). Print a second, guaranteed-short summary line AFTER
    * the full line: total + calib + a pointer to the per-cpus full file.
    * Deliberately NO "queries" key — a parser that takes this line gets an
    * honest total rather than an empty per-query map it could misread as
    * every query having been dropped. Whole-surface runs only; a chunk
    * child must print exactly one line for parseChunkLine. */
  private[graft] def summaryLine(s: Summary): String = {
    val calib = s.calib.fold("")(c => s""""calib":${num(c)},""")
    s"""{"metric":"total","value":${num(s.total)},"unit":"sec",$calib"cpus":${s.cpus},"n_queries":${s.nQueries},"mode":"summary","full":"BENCH_FULL_c${s.cpus}.json"}"""
  }

  /** Max queries per child JVM. The round-8 measurement: a 24-query group
    * in one JVM re-creates the accumulated-heap-state inflation on its own
    * heavies (text_simhash_lsh 2.05 s in-group vs 1.17 s isolated), so
    * family groups are further split into chunks of at most this many —
    * small enough that no query runs after dozens of others, large enough
    * that JVM startup stays ~15% of bench wall-clock. */
  private val CHUNK = 6

  /** A child's result: per-query times, its calibration-probe time and
    * the queries it saw read a memoized artifact. */
  private[graft] final case class Chunk(times: Seq[(String, Double)],
      calib: Option[Double], memoized: Seq[String])

  /** Run one chunk of queries in a child JVM and parse its line. The child
    * gets the parent's JVM arguments (heap, `--add-opens`, system
    * properties) and class path. */
  private def runGroup(g: Seq[String]): Option[Chunk] = try {
    import scala.jdk.CollectionConverters._
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_QUERIES", g.mkString(","))
    // child stderr (Spark logging) flows straight through — buffering it
    // behind an unread pipe while we block on stdout could deadlock
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = proc.waitFor()
    if (code != 0) {
      System.err.println(s"[bench] chunk ${g.mkString(",")}: child exited $code")
      None
    } else out.linesIterator.find(_.startsWith("{\"metric\""))
      .flatMap(parseChunkLine(_, g))
  } catch { case e: Throwable =>
    System.err.println(s"[bench] chunk ${g.mkString(",")} failed: ${e.getMessage}"); None
  }

  /** Parse a child's JSON line into per-query times, plus the child's
    * calibration time and `memoized` list when present (absence never
    * fails the chunk: both are bookkeeping, not bench results). A
    * truncated/malformed line, a query the child dropped (bench failure)
    * or a memoized name outside the chunk must fail the WHOLE chunk loudly
    * (None → the run fails), never merge partially. */
  private[graft] def parseChunkLine(line: String, g: Seq[String]): Option[Chunk] = {
    val start = line.indexOf("\"queries\":{")
    val end = line.lastIndexOf("},\"sf\"")
    if (start < 0 || end < 0 || end <= start) {
      System.err.println(s"[bench] chunk ${g.mkString(",")}: malformed child line")
      return None
    }
    val body = line.substring(start + "\"queries\":{".length, end)
    val parsed = """"([a-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    val calib = """"calib":([0-9.]+)""".r.findFirstMatchIn(line.take(start))
      .map(_.group(1).toDouble)
    val memoized = """"memoized":\[([^\]]*)\]""".r.findFirstMatchIn(line.take(start))
      .toSeq.flatMap(m => """"([a-z0-9_]+)"""".r.findAllMatchIn(m.group(1)).map(_.group(1)))
    // key SET equality alone would accept a duplicated key (last-wins on
    // toMap); require exact multiplicity too
    if (parsed.size == g.size && parsed.map(_._1).toSet == g.toSet &&
        memoized.forall(g.contains))
      Some(Chunk(parsed, calib, memoized))
    else {
      System.err.println(s"[bench] chunk ${g.mkString(",")}: child returned " +
        s"${parsed.size}/${g.size} queries, memoized ${memoized.mkString(",")} " +
        "- treating chunk as failed")
      None
    }
  }

  /** Time `names` (every benched query when empty), one child JVM per
    * chunk, and print the merged line; false when a name is unknown or a
    * chunk failed. Only a whole-surface run writes the BENCH_FULL files and
    * the summary line, so timing a few queries never overwrites them. */
  private def runAll(sfDir: String, names: Seq[String]): Boolean = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[bench] unknown queries: ${unknown.mkString(", ")}")
      return false
    }
    val selected = if (names.isEmpty) benchedQueries else names.distinct
    // family groups keep a query's JVM context stable across rounds;
    // groups larger than CHUNK split in sorted order
    val chunks = selected.groupBy(groupOf).toSeq.sortBy(_._1)
      .flatMap { case (_, qs) => qs.sorted.grouped(CHUNK) }
    val parts = chunks.map { g =>
      val r = runGroup(g)
      r.foreach(c => System.err.println(
        s"[bench] chunk ${g.head}..${g.last}: ${c.times.size} queries done" +
          c.calib.fold("")(v => f", calib $v%.3f s")))
      g -> r
    }
    val failed = parts.collect { case (g, None) => g }.flatten
    if (failed.nonEmpty) {
      System.err.println(s"[bench] failed, not timed: ${failed.mkString(",")}")
      return false
    }
    val done = parts.flatMap(_._2)
    val merged = done.flatMap(_.times).toMap
    val calibs = done.flatMap(_.calib)
    val times = selected.sorted.map(q => q -> merged(q))
    // calib: per-child host-speed probe — median is the round's number
    // (normalize cross-round comparisons with it), min/max the spread
    val calibJson =
      if (calibs.isEmpty) ""
      else s""""calib":${num(median(calibs))},"calib_min":${num(calibs.min)},"calib_max":${num(calibs.max)},"""
    val line = benchLine(times, calibJson, done.flatMap(_.memoized), sfDir)
    println(line)
    if (names.isEmpty) {
      writeFullLine(line)
      println(summaryLine(Summary(times.map(_._2).sum,
        Option.when(calibs.nonEmpty)(median(calibs)), times.size, benchCpus)))
    }
    true
  }

  /** A child: time one chunk of queries and print its JSON line. */
  private def runChunk(sfDir: String, names: Seq[String]): Unit = {
    val spark = graft.runner.SparkRunner.builder()
      .master(s"local[$benchCpus]")
      .config("spark.sql.shuffle.partitions", benchCpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // host-speed probe FIRST (pinned job, before any data is touched) so
    // every bench JVM's line is self-calibrating against host drift
    val calib = try Some(calibrate(spark)) catch { case e: Throwable =>
      System.err.println(s"[bench] calibration probe failed: ${e.getMessage}"); None }

    // a query that read an artifact in any execution is `memoized`
    val memoized = scala.collection.mutable.Set.empty[String]
    def execute(name: String): Unit =
      if (readsArtifacts(materialize(SparkEntry.queries(name)(spark, sfDir))))
        memoized += name
    // JVM/codegen/JIT warm-up, untimed: each query of the chunk runs once
    // (scan paths, HOF lambdas and native expressions of that slice)
    names.foreach(q => try execute(q) catch { case _: Throwable => })

    // Each query is executed once per PASS (fresh plan each time) and
    // reports the per-query MINIMUM across passes — steady-state engine
    // time. Rationale: this host is a shared VM with transient CPU-steal
    // bursts (observed 2-4× inflation of identical runs minutes apart).
    // Passes are INTERLEAVED — the full query list runs once, then again —
    // so the repeats of any one query are separated by a whole pass: a
    // burst that inflates query X in pass 1 has usually passed by the time
    // X runs in pass 2, whereas back-to-back repeats both land inside the
    // same burst. A genuinely slow plan stays slow in every pass.
    val best = scala.collection.mutable.LinkedHashMap[String, Double](
      names.map(_ -> Double.MaxValue): _*)
    // alternate pass direction: accumulated JVM state grows with the number
    // of executions BEFORE a query, so a fixed order systematically
    // penalizes the last queries of a chunk — boustrophedon passes give
    // every query at least one early-position sample for the min
    for (pass <- 1 to RUNS; name <- if (pass % 2 == 0) names.reverse else names) {
      val t0 = System.nanoTime()
      // a failed execution must NOT record its time-to-exception as a bench
      // time — only successful passes compete for the min, so a query that
      // throws in every pass keeps the MaxValue sentinel and gets omitted
      val ok =
        try { execute(name); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val t = (System.nanoTime() - t0) / 1e9
      if (ok && t < best(name)) best(name) = t
    }
    // a query that failed in EVERY pass still holds MaxValue — omit it
    // (never format a sentinel into the JSON as a "time"); the parent's
    // completeness check then fails the chunk loudly
    val (failed, results) = best.toSeq.partition(_._2 == Double.MaxValue)
    failed.foreach { case (k, _) =>
      System.err.println(s"[bench] $k failed in every pass - omitted") }
    println(benchLine(results, calib.fold("")(c => s""""calib":${num(c)},"""),
      results.map(_._1).filter(memoized), sfDir))
    spark.stop()
  }
}
