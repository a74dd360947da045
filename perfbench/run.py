#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: seeded closed-loop workloads, timed
with every output column materialized, checked against the DuckDB oracle.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload batch --seed 1 --seconds 8 --trace 0

The program is built from `src/main/scala` with the Scala compiler bundled
in the Spark distribution, the inputs are generated from the seed, and the
last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Build outputs, generated tiers and run records stay under
`.bench_build/perfbench` in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA_VERSION = "2.13.17"
# Wall-clock allowance for everything after build and data generation.
RUN_BUDGET_S = 165
KEEP_SEEDS = 4


# Each workload: the tier it reads, the tables its queries read (set-up opens
# them), and the queries one closed-loop pass runs, in order (None: the
# streaming replay).
WORKLOADS = {
    "batch": {
        "tier": "x3", "tables": ["lineitem", "events", "documents", "embeddings"],
        # short star-schema and event queries, then text and vector kernels
        "queries": ["core_median_prices", "ev_session_windows",
                    "text_pii_redact", "text_minhash_pairs", "vec_sq8"],
    },
    "stream_replay": {"tier": "sf", "tables": ["events"], "queries": None},
}
# Batch forms of the streaming twins: the twins' sink output is checked in
# their shape, against their oracles.
STREAM_BATCH_FORMS = ["ev_funnel", "ev_rfm", "ev_scd2"]
STREAM_FILES = 3

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s",
    "latency_p50_ms": "ms", "retained_heap_mb": "MB",
}


T0 = time.perf_counter()
deadline = T0 + RUN_BUDGET_S


def remaining():
    return max(1.0, deadline - time.perf_counter())


def log(msg):
    print(f"perfbench: {time.perf_counter() - T0:7.2f} s  {msg}", file=sys.stderr)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    try:
        return subprocess.run(cmd, timeout=timeout, check=True, **kw)
    except subprocess.CalledProcessError as e:
        fail(f"{' '.join(cmd[:3])} ... exited with {e.returncode}")
    except subprocess.TimeoutExpired:
        fail(f"{' '.join(cmd[:3])} ... timed out after {timeout} s")


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ build

def scalac(spark_jars_dir, sources, classpath, dst):
    jars = [os.path.join(spark_jars_dir, f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
         "-d", tmp, "@" + argfile], timeout=800,
        stdout=subprocess.DEVNULL, stderr=sys.stderr)
    os.remove(argfile)
    os.replace(tmp, dst)


def spark_jars():
    """The Spark jars the engine is built against: the `unmanagedBase` that
    build.sbt declares, else $SPARK_HOME/jars."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    fail("Spark jars not found: neither build.sbt's unmanagedBase nor $SPARK_HOME/jars")


def build():
    """Compile the engine and the harness; reuse classes whose sources match."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no src/main/scala here: run from the root of a checkout")
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    prog_key = tree_hash([main_src])
    prog = os.path.join(WORK, "classes", "program-" + prog_key)
    if not os.path.isdir(prog):
        srcs = sorted(os.path.join(d, f) for d, _, fs in os.walk(main_src)
                      for f in fs if f.endswith((".scala", ".java")))
        scalac(jars, srcs, spark_cp, prog)
    hsrc = os.path.join(HERE, "src")
    harness = os.path.join(WORK, "classes", f"harness-{tree_hash([hsrc])}-{prog_key}")
    if not os.path.isdir(harness):
        srcs = sorted(os.path.join(d, f) for d, _, fs in os.walk(hsrc)
                      for f in fs if f.endswith(".scala"))
        scalac(jars, srcs, f"{prog}:{spark_cp}", harness)
    return f"{harness}:{prog}:{spark_cp}"


# ------------------------------------------------------------------- data

def python(script, *args):
    # scalegen.py seeds from hash(table name): pin the hash seed so the same
    # workload seed always yields the same tier
    env = dict(os.environ, PYTHONHASHSEED="0")
    run([sys.executable, script, *map(str, args)], timeout=300, env=env,
        stdout=subprocess.DEVNULL, stderr=sys.stderr)


def write_stream_parts(tier, dst, n):
    """Split the tier's events into n event-time-ordered files whose mtimes
    increase with event time, so the file source replays them in order."""
    import duckdb
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE ev AS SELECT event_id, epoch_us(ts) AS ts_us,
        user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM '{tier}/events.parquet'""")
    ts = [r[0] for r in con.sql("SELECT ts_us FROM ev ORDER BY ts_us").fetchall()]
    cuts = [ts[i * len(ts) // n] for i in range(1, n)]
    for i in range(n):
        lo = f"ts_us >= {cuts[i - 1]}" if i > 0 else "true"
        hi = f"ts_us < {cuts[i]}" if i < n - 1 else "true"
        path = os.path.join(tmp, f"part-{i:05d}.parquet")
        con.sql(f"COPY (SELECT * FROM ev WHERE {lo} AND {hi} ORDER BY ts_us, event_id) "
                f"TO '{path}' (FORMAT PARQUET)")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    con.close()
    os.replace(tmp, dst)


def tier_fingerprint(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, path).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_data(seed, tier_kind):
    """base (fixed) -> tools/perturb.py with the seed -> tools/scalegen.py 3x.
    Untimed; every step is skipped when its output already exists."""
    perturb = os.path.join(ROOT, "tools", "perturb.py")
    scalegen = os.path.join(ROOT, "tools", "scalegen.py")
    for tool in (perturb, scalegen):
        if not os.path.isfile(tool):
            fail(f"missing {os.path.relpath(tool, ROOT)}")
    data = os.path.join(WORK, "data")
    gen = os.path.join(HERE, "gen_base.py")
    # tiers are keyed on the generators, so an edited generator regenerates
    key = tree_hash([gen, perturb, scalegen])
    base = os.path.join(data, "base-" + key)
    if not os.path.isdir(base):
        python(gen, base + ".tmp")
        os.replace(base + ".tmp", base)
    seed_dir = os.path.join(data, f"seed-{seed}-{key}")
    sf = os.path.join(seed_dir, "sf")
    if not os.path.isdir(sf):
        python(perturb, base, sf + ".tmp", seed)
        os.replace(sf + ".tmp", sf)
    os.utime(seed_dir)
    if tier_kind == "x3":
        tier = os.path.join(seed_dir, "x3")
        if not os.path.isdir(tier):
            python(scalegen, sf, tier + ".tmp", 3)
            os.replace(tier + ".tmp", tier)
    else:
        tier = sf
    stream = os.path.join(seed_dir, f"stream-{STREAM_FILES}")
    if tier_kind == "sf" and not os.path.isdir(stream):
        write_stream_parts(sf, stream, STREAM_FILES)
    # bounded cache: drop the least recently used seed tiers
    seeds = sorted((os.path.join(data, d) for d in os.listdir(data)
                    if d.startswith("seed-")), key=os.path.getmtime)
    for old in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    return tier, stream


# -------------------------------------------------------------------- jvm

def engine_cpus():
    """Task slots of the engine: half the cores this process may use. The
    rest are left to the threads a Spark JVM runs beside its tasks (the
    driver, JIT compilers, garbage collector, state-store maintenance), so
    that the timings do not measure the OS scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def java_cmd(cp, trace):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(WORK, 'tmp')}",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'tmp', 'warehouse')}",
            f"-Dlog4j2.configurationFile={os.path.join(ROOT, 'conf', 'log4j2.properties')}"]
    if trace:
        cmd += ["-Dspark.extraListeners=perfbench.SchedulerTrace",
                "-Dspark.sql.queryExecutionListeners=perfbench.PlanTrace",
                "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTrace"]
    return cmd + ["-cp", cp, "perfbench.Harness"]


def harness(cp, role, tier, tables, out, *extra, trace=False):
    """Run one harness JVM; return (seconds from launch to READY, record)."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cpus = engine_cpus()
    cmd = java_cmd(cp, trace) + [role, tier, ",".join(tables), str(cpus), out,
                                 *map(str, extra)]
    with open(os.path.join(out, "jvm.log"), "w") as jvm_log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=jvm_log, text=True)
        watchdog = threading.Timer(remaining(), proc.kill)
        watchdog.start()
        setup = None
        try:
            for line in proc.stdout:
                if line.strip() == "READY" and setup is None:
                    setup = time.perf_counter() - t0
            code = proc.wait()
        finally:
            watchdog.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or setup is None:
        fail(f"harness {role} failed (exit {code}); see {os.path.join(out, 'jvm.log')}")
    with open(os.path.join(out, f"{role}.json")) as f:
        return setup, json.load(f)


# ---------------------------------------------------------------- metrics

def percentile(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


def end_to_end(setups, rec):
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": rec["cold_pass_s"],
        "warm_pass_s": statistics.median(rec["warm_pass_s"]),
        "latency_p50_ms": statistics.median(latencies(rec)),
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def latencies(rec):
    if "batch_ms" in rec:
        return rec["batch_ms"]
    return [e["s"] * 1000.0 for e in rec["executions"]
            if e["pass"] >= rec["first_warm"] and e["ok"]]


def oracle_check(rows_dir, tier, queries):
    """tools/parity.py on the check pass's rows; returns {query: ok}."""
    parity = os.path.join(ROOT, "tools", "parity.py")
    if not os.path.isfile(parity):
        fail("missing tools/parity.py")
    try:
        r = subprocess.run([sys.executable, parity, rows_dir, tier],
                           capture_output=True, text=True, timeout=remaining())
    except subprocess.TimeoutExpired:
        fail("the oracle comparison timed out")
    # parity prints "ok   <name> (n rows)" per match; anything else fails
    status = {q: False for q in queries}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] == "ok" and parts[1] in status:
            status[parts[1]] = True
    return status, r.stdout


def calibration():
    """Host context: a fixed single-core hashing probe and the load average."""
    blob = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(40):
        h.update(blob)
    return time.perf_counter() - t0, os.getloadavg()


def cpu_ticks():
    """Host-wide CPU time, busy, idle and stolen by the hypervisor, from
    /proc/stat; None where that is not available."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "idle": v[3] + v[4], "steal": v[7]}


def steal_share(t0, t1):
    """Share of the host's CPU time that the hypervisor gave to others."""
    if not t0 or not t1:
        return None
    d = {k: t1[k] - t0[k] for k in t0}
    total = sum(d.values())
    return d["steal"] / total if total else None


def main():
    global deadline
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    cp = build()
    log("build ready")
    tier, stream = prepare_data(a.seed, w["tier"])
    log("data ready")
    deadline = time.perf_counter() + RUN_BUDGET_S
    queries = w["queries"]
    timed_arg = ",".join(queries) if queries else "stream:" + stream
    checked = queries if queries else STREAM_BATCH_FORMS
    out = os.path.join(WORK, "runs", a.workload)
    calib_s, load = calibration()
    ticks = cpu_ticks()

    # Set-up is sampled twice, by a bare JVM and by the timed JVM, which
    # also writes the rows the oracle checks. A traced run reports no
    # set-up time, only the tracing overhead, and samples it once.
    setups = []
    if not a.trace:
        setups.append(harness(cp, "setup", tier, w["tables"], os.path.join(out, "setup"))[0])
        log("bare set-up done")
    s, rec = harness(cp, "run", tier, w["tables"], os.path.join(out, "run"),
                     a.seconds, timed_arg, ",".join(checked))
    setups.append(s)
    log("timed run done")
    steal = steal_share(ticks, cpu_ticks())
    oracle, parity_log = oracle_check(os.path.join(out, "run", "rows"), tier, checked)
    log("oracle compared")
    metrics = end_to_end(setups, rec)

    if a.trace:
        s, trec = harness(cp, "run", tier, w["tables"], os.path.join(out, "trace"),
                          a.seconds, timed_arg, ",".join(checked), trace=True)
        traced = end_to_end([s], trec)
        per_layer = layers.derive(os.path.join(out, "trace", "spans.jsonl"),
                                  engine_cpus(), trec["first_warm"])
        for k in ("setup_s", "cold_pass_s", "warm_pass_s", "latency_p50_ms"):
            per_layer[f"trace.overhead.{k}"] = traced[k] - metrics[k]

    # correctness: every timed execution succeeded, every checked output
    # matched its oracle (or, for the streaming twins, its batch form)
    executions = rec["executions"]
    attempted = len(executions) + len(checked)
    failed = sum(1 for e in executions if not e["ok"])
    failed += sum(1 for q in checked if not oracle[q])
    errors = dict(rec["errors"])
    for q in checked:
        if not oracle[q]:
            errors.setdefault(q, "oracle mismatch")
    if errors:
        print(json.dumps({"errors": errors}), file=sys.stderr)
        print(parity_log, file=sys.stderr)

    record = {
        "workload": a.workload, "seed": a.seed, "tier": os.path.relpath(tier, ROOT),
        "tier_fingerprint": tier_fingerprint(tier), "seconds": a.seconds,
        "trace": a.trace, "host": {"calib_s": calib_s, "loadavg": load,
                                   "steal_share": steal,
                                   "cpus": len(os.sched_getaffinity(0)),
                                   "engine_cpus": engine_cpus()},
        "setup_samples_s": setups, "measured_s": rec["measured_s"],
        "warmup_passes_s": rec["warmup_pass_s"],
        "warm_passes_s": rec["warm_pass_s"],
        "latency_samples_ms": latencies(rec),
        "latency_p90_ms": percentile(latencies(rec), 0.9),
        "peak_rss_mb": rec["peak_rss_mb"],
        "failed_ratio": failed / attempted,
        "per_query_warm_median_s": per_query_medians(rec),
    }
    if "replay_rows" in rec:
        record["stream_rows_per_s"] = rec["replay_rows"] / metrics["warm_pass_s"]
    shown = dict(metrics, **per_layer) if a.trace else metrics
    lines = [{"workload": a.workload, "seed": a.seed, "metric": k, "value": v,
              "unit": END_TO_END_UNITS.get(k) or layers.unit(k)} for k, v in shown.items()]
    # the record: run context first, then one object per metric
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.jsonl")
    with open(path, "w") as f:
        for obj in [record] + lines:
            f.write(json.dumps(obj) + "\n")
    for ln in lines:
        print(json.dumps(ln))

    shown = per_layer if a.trace else metrics
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {ln["metric"]: {"value": ln["value"], "unit": ln["unit"]}
                    for ln in lines if ln["metric"] in shown}}))


def per_query_medians(rec):
    by = {}
    for e in rec["executions"]:
        if e["pass"] >= rec["first_warm"] and e["ok"] and e["s"] > 0:
            by.setdefault(e["query"], []).append(e["s"])
    return {q: statistics.median(v) for q, v in sorted(by.items())}


if __name__ == "__main__":
    main()
