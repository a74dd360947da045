package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the query surface on SPARK_GRAFT_SF_DIR and prints
  * ONE JSON line {"metric","value","unit","queries","sf"} for the driver.
  *
  * All queries run fully materialized (count() forces sorts/limits too).
  * Quadratic small-data oracles (brute-force pair scans that exist only to
  * validate the LSH paths) are excluded via SKIP — the scale path for those
  * semantics (minhash/LSH-bucketed variants) IS timed.
  *
  * **Fork-per-chunk mode (default since round 8).** The round-7 root cause
  * analysis (BASELINE.md case study) showed per-query numbers inside one
  * long-lived bench JVM carry ~0.5-1 s of accumulated heap/GC state on
  * allocation-heavy queries — every pass pays it, so min-of-N cannot
  * remove it, and numbers stop being comparable across rounds whose bench
  * query COUNTS differ. The fix: the parent process forks one child JVM
  * per ≤CHUNK-query slice of each query family (core_, text_, vec_, ...);
  * each child warms up, times ITS OWN small slice with interleaved
  * min-of-N passes, and prints the same JSON line; the parent merges.
  * Heap state no longer accumulates across dozens of queries, so numbers
  * approximate the isolated fresh-JVM truth (tools/TimeQueries). Opt out
  * (the old single-JVM behavior) with SPARK_GRAFT_BENCH_FORK=0; any child
  * failure also falls back to single-JVM so the driver always gets its
  * one JSON line.
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

  /** Run one query execution in its own [[graft.util.CacheBin]] scope;
    * true when it read a [[graft.util.Memo]] artifact. */
  private[graft] def readsArtifacts(execution: => Unit): Boolean =
    graft.util.Memo.reading(graft.util.CacheBin.withScope(execution))._2.nonEmpty

  private def orderedQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => SKIP(q._1))

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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // child protocol: an explicit comma-separated query list
    val chunk = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map(_.split(',').toSet)
    val fork = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") == "1"
    if (chunk.isDefined) runInProcess(sfDir, chunk) // child: one chunk, one JSON line
    else if (fork) {
      forked(sfDir) match {
        case Some((json, summary)) =>
          println(json); writeFullLine(json); println(summaryLine(summary))
        case None =>
          System.err.println("[bench] fork-per-group failed; single-JVM fallback")
          runInProcess(sfDir, None)
      }
    } else runInProcess(sfDir, None)
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
    * every query having been dropped. Parent/whole-surface mode only; a
    * chunk child must print exactly one line for parseChunkLine. */
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

  /** Run one chunk of queries in a child JVM and parse its line. */
  private def runGroup(g: Seq[String], cp: String): Option[Chunk] = try {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    val heap = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAP", "8g") // 8g beats 32g on this box (BASELINE.md)
    val cmd = (javaBin +: addOpens) ++ Seq(s"-Xmx$heap",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-Dlog4j2.configurationFile=conf/log4j2.properties",
      "-cp", cp, "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_QUERIES", g.mkString(","))
    // child stderr (Spark logging) flows straight through — buffering it
    // behind an unread pipe while we block on stdout could deadlock
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    if (proc.waitFor() != 0) None
    else out.linesIterator.find(_.startsWith("{\"metric\""))
      .flatMap(parseChunkLine(_, g))
  } catch { case e: Throwable =>
    System.err.println(s"[bench] chunk ${g.mkString(",")} failed: ${e.getMessage}"); None
  }

  /** Parse a child's JSON line into per-query times, plus the child's
    * calibration time and `memoized` list when present (absence never
    * fails the chunk: both are bookkeeping, not bench results). A
    * truncated/malformed line, a query the child dropped (bench failure)
    * or a memoized name outside the chunk must fail the WHOLE chunk loudly
    * (None → parent falls back), never merge partially. */
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

  private def forked(sfDir: String): Option[(String, Summary)] = {
    val cpOpt = try {
      val classesDir = new java.io.File(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
      if (new java.io.File("/opt/spark/jars").isDirectory)
        Some(s"$classesDir:/opt/spark/jars/*")
      else None
    } catch { case _: Throwable => None }
    cpOpt.flatMap { cp =>
      // family groups keep a query's JVM context stable across rounds;
      // groups larger than CHUNK split in sorted order
      val chunks = orderedQueries.map(_._1).groupBy(groupOf).toSeq.sortBy(_._1)
        .flatMap { case (_, names) => names.sorted.grouped(CHUNK) }
      val parts = chunks.map { g =>
        val r = runGroup(g, cp)
        r.foreach(c => System.err.println(
          s"[bench] chunk ${g.head}..${g.last}: ${c.times.size} queries done" +
            c.calib.fold("")(v => f", calib $v%.3f s")))
        r
      }
      val expected = orderedQueries.map(_._1)
      val merged = parts.flatten.flatMap(_.times).toMap
      val calibs = parts.flatten.flatMap(_.calib)
      val memoized = parts.flatten.flatMap(_.memoized)
      if (parts.exists(_.isEmpty) || expected.exists(q => !merged.contains(q))) None
      else {
        val total = expected.map(merged).sum
        val qs = expected.map(k => "\"" + k + "\":" + num(merged(k))).mkString("{", ",", "}")
        val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
        // calib: per-child host-speed probe — median is the round's number
        // (normalize cross-round comparisons with it), min/max the spread
        val calibJson =
          if (calibs.isEmpty) ""
          else s""""calib":${num(median(calibs))},"calib_min":${num(calibs.min)},"calib_max":${num(calibs.max)},"""
        val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$runs,"agg":"min",${calibJson}${memoizedJson(memoized)}"mode":"fork-per-group","queries":$qs,"sf":"$sfDir"}"""
        Some((line, Summary(total, Option.when(calibs.nonEmpty)(median(calibs)),
          expected.size, benchCpus)))
      }
    }
  }

  /** Single-JVM bench over all queries (chunk = None) or a child's slice
    * (chunk = Some(names)). Prints the JSON line itself. */
  private def runInProcess(sfDir: String, chunk: Option[Set[String]]): Unit = {
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

    val ordered = chunk match {
      case Some(names) => orderedQueries.filter(q => names(q._1))
      case None => orderedQueries
    }

    // JVM/codegen/JIT warm-up, untimed. Whole-surface mode warms one query
    // per table family; a chunk child warms by running ITS OWN queries once
    // (scan paths, HOF lambdas and native expressions of that slice).
    val warm: Seq[String] = chunk match {
      case Some(_) => ordered.map(_._1)
      case None => Seq("core_pricing_summary", "ev_session_windows",
        "join_interval_pairs", "text_minhash_pairs", "vec_ann_lsh",
        "text_simhash", "text_dup_clusters", "sk_heavy_hitters")
    }
    // a query that read an artifact in any execution is `memoized`
    val memoized = scala.collection.mutable.Set.empty[String]
    def execute(name: String)(body: => Unit): Unit =
      if (readsArtifacts(body)) memoized += name
    warm.foreach { q =>
      try execute(q) { SparkEntry.queries(q)(spark, sfDir).count() }
      catch { case _: Throwable => }
    }

    // Each query is executed once per PASS (fresh plan each time) and
    // reports the per-query MINIMUM across passes — steady-state engine
    // time. Rationale: this host is a shared VM with transient CPU-steal
    // bursts (observed 2-4× inflation of identical runs minutes apart).
    // Passes are INTERLEAVED — the full query list runs once, then again —
    // so the repeats of any one query are separated by a whole pass: a
    // burst that inflates query X in pass 1 has usually passed by the time
    // X runs in pass 2, whereas back-to-back repeats both land inside the
    // same burst. A genuinely slow plan stays slow in every pass.
    val RUNS = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(RUNS >= 1, s"SPARK_GRAFT_BENCH_RUNS=$RUNS — need at least one pass")
    val best = scala.collection.mutable.LinkedHashMap[String, Double](
      ordered.map(_._1 -> Double.MaxValue): _*)
    // alternate pass direction: accumulated JVM state grows with the number
    // of executions BEFORE a query, so a fixed order systematically
    // penalizes the last queries of a chunk — boustrophedon passes give
    // every query at least one early-position sample for the min
    for (pass <- 1 to RUNS;
         (name, fn) <- if (pass % 2 == 0) ordered.reverse else ordered) {
      val t0 = System.nanoTime()
      // a failed execution must NOT record its time-to-exception as a bench
      // time — only successful passes compete for the min, so a query that
      // throws in every pass keeps the MaxValue sentinel and gets omitted
      val ok =
        try { execute(name) { fn(spark, sfDir).count() }; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val t = (System.nanoTime() - t0) / 1e9
      if (ok && t < best(name)) best(name) = t
    }
    // a query that failed in EVERY pass still holds MaxValue — omit it
    // (never format a sentinel into the JSON as a "time"); in child mode
    // the parent's completeness check then fails the chunk loudly
    val (failed, results) = best.toSeq.partition(_._2 == Double.MaxValue)
    failed.foreach { case (k, _) =>
      System.err.println(s"[bench] $k failed in every pass - omitted") }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val calibJson = calib.fold("")(c => s""""calib":${num(c)},""")
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$RUNS,"agg":"min",$calibJson${memoizedJson(results.map(_._1).filter(memoized))}"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    if (chunk.isEmpty) { // whole-surface mode only, not per-chunk children
      writeFullLine(line)
      println(summaryLine(Summary(total, calib, results.size, benchCpus)))
    }
    spark.stop()
  }
}
