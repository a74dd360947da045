"""Per-layer metrics from the spans a traced harness run writes.

Every span has a kind, a parent, a start and an end (epoch ms) and counters.
Spans whose parent is unknown (SQL executions, micro-batches, planning
phases of executions that ran under another id) are attached to the
innermost benchmark or micro-batch span that contains them in time. Each
metric is summed over the warm passes and divided by their number, so it
reads "per warm pass". A layer's self time is its span's duration minus the
part of that interval its child spans cover.
"""
import json

# metric -> unit; the order is the order of the per-layer report
UNITS = {
    "queries.build_ms": "ms", "queries.eager_jobs": "count",
    "plan.analysis_ms": "ms", "plan.optimizer_ms": "ms", "plan.physical_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_ms": "ms", "sched.core_idle_ratio": "ratio",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "driver.gap_ms": "ms", "driver.result_bytes": "bytes",
    "memo.cached_bytes": "bytes",
    "scan.bytes": "bytes", "scan.rows": "count", "sink.bytes": "bytes",
    "stream.plan_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "state.rows": "count",
    "state.memory_bytes": "bytes", "state.commit_ms": "ms", "state.update_ms": "ms",
}
SELF_KINDS = ["query", "build", "action", "replay", "batch", "sql", "job", "stage"]
UNITS.update({f"self.{k}_ms": "ms" for k in SELF_KINDS})
UNITS.update({
    "trace.overhead.setup_s": "s", "trace.overhead.cold_pass_s": "s",
    "trace.overhead.warm_pass_s": "s", "trace.overhead.latency_p50_ms": "ms",
})
# spans that may adopt an orphan by time containment, innermost first
CONTAINERS = ("batch", "build", "action", "replay", "query")


def unit(metric):
    return UNITS[metric]


def covered(interval, children):
    """Length of the part of `interval` covered by the union of `children`."""
    lo, hi = interval
    segs = sorted((max(lo, a), min(hi, b)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def load(path):
    with open(path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    by_id = {s["id"]: s for s in spans}
    holders = sorted((s for s in spans if s["kind"] in CONTAINERS),
                     key=lambda s: s["end_ms"] - s["start_ms"])
    for s in spans:
        if s["parent"] in by_id or s["kind"] == "pass":
            continue
        # listener times are whole milliseconds: allow 1 ms either side
        s["parent"] = next(
            (h["id"] for h in holders if h is not s
             and h["start_ms"] - 1 <= s["start_ms"] and s["end_ms"] <= h["end_ms"] + 1), None)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return spans, by_id, children


def derive(path, cores, first_warm):
    spans, by_id, children = load(path)

    def pass_of(s):
        while s is not None and s["kind"] != "pass":
            s = by_id.get(s["parent"])
        return s

    def under(s, kind):
        while s is not None:
            if s["kind"] == kind:
                return True
            s = by_id.get(s["parent"])
        return False

    warm = [s for s in spans if s["kind"] == "pass" and int(s["name"]) >= first_warm]
    warm_ids = {s["id"] for s in warm}
    n = max(1, len(warm))
    wall_ms = sum(s["end_ms"] - s["start_ms"] for s in warm)
    # tasks and stages reach a pass through their job; orphans by time
    sel = []
    for s in spans:
        p = pass_of(s)
        if p is None:
            p = next((w for w in warm if w["start_ms"] <= s["start_ms"] <= w["end_ms"]), None)
        if p is not None and p["id"] in warm_ids:
            sel.append(s)

    def of(kind):
        return [s for s in sel if s["kind"] == kind]

    def dur(s):
        return s["end_ms"] - s["start_ms"]

    def total(kind, attr=None):
        return sum(dur(s) if attr is None else s["attrs"].get(attr, 0.0) for s in of(kind))

    def self_ms(s):
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])
                if not c["kind"].startswith("plan.")]
        return dur(s) - covered((s["start_ms"], s["end_ms"]), kids)

    def job_gap(s):
        jobs, stack = [], list(children.get(s["id"], []))
        while stack:
            c = stack.pop()
            if c["kind"] == "job":
                jobs.append((c["start_ms"], c["end_ms"]))
            else:
                stack.extend(children.get(c["id"], []))
        return dur(s) - covered((s["start_ms"], s["end_ms"]), jobs)

    batches_by_pass = {}
    for b in of("batch"):
        batches_by_pass.setdefault((pass_of(b) or {}).get("id"), []).append(b)

    def final_state(attr):
        # per pass: the state each twin holds after its last micro-batch
        out = 0.0
        for bs in batches_by_pass.values():
            last = {}
            for b in bs:
                if b["name"] not in last or b["start_ms"] > last[b["name"]]["start_ms"]:
                    last[b["name"]] = b
            out += sum(b["attrs"].get(attr, 0.0) for b in last.values())
        return out

    run_ms = total("task", "run_ms")
    m = {
        "queries.build_ms": total("build"),
        "queries.eager_jobs": sum(1 for j in of("job") if under(j, "build")),
        "plan.analysis_ms": total("plan.analysis"),
        "plan.optimizer_ms": total("plan.optimization"),
        "plan.physical_ms": total("plan.planning"),
        "codegen.compiles": sum(s["attrs"]["codegen_compiles"] for s in warm),
        "codegen.compile_ms": sum(s["attrs"]["codegen_compile_ms"] for s in warm),
        "sched.jobs": len(of("job")),
        "sched.stages": len(of("stage")),
        "sched.tasks": len(of("task")),
        "sched.delay_ms": total("task", "sched_delay_ms"),
        "exec.run_ms": run_ms,
        "exec.cpu_ms": total("task", "cpu_ms"),
        "exec.gc_ms": total("task", "gc_ms"),
        "shuffle.write_bytes": total("task", "shuffle_write_bytes"),
        "shuffle.read_bytes": total("task", "shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": total("task", "fetch_wait_ms"),
        "spill.bytes": total("task", "spill_bytes"),
        "driver.gap_ms": sum(job_gap(s) for s in of("query") + of("replay")),
        "driver.result_bytes": total("task", "result_bytes"),
        "scan.bytes": total("task", "input_bytes"),
        "scan.rows": total("task", "input_rows"),
        "sink.bytes": total("task", "output_bytes"),
        "stream.plan_ms": total("batch", "queryPlanning"),
        "stream.add_batch_ms": total("batch", "addBatch"),
        "stream.wal_commit_ms": total("batch", "walCommit"),
        "state.rows": final_state("state_rows"),
        "state.memory_bytes": final_state("state_memory_bytes"),
        "state.commit_ms": total("batch", "state_commit_ms"),
        "state.update_ms": total("batch", "state_update_ms"),
    }
    for k in SELF_KINDS:
        m[f"self.{k}_ms"] = sum(self_ms(s) for s in of(k))
    m = {k: v / n for k, v in m.items()}
    # not per-pass sums: a ratio and a level
    m["sched.core_idle_ratio"] = 1.0 - run_ms / (wall_ms * cores) if wall_ms else 0.0
    m["memo.cached_bytes"] = max((s["attrs"]["cached_bytes"] for s in warm), default=0.0)
    return {k: m[k] for k in UNITS if k in m}
