"""Pure aggregation of the JVM's raw records into the benchmark's metrics.

Nothing here touches Spark, DuckDB or the file system, so the test suite
drives it with fabricated records. The raw record (`raw.json`) holds the
set-up time, one entry per pass (cold, warm-up, warm, then the untimed
check pass) with per-query spans, and, for a traced run, the listener's
job and query-execution records.
"""
import math
import statistics

MB = 1048576.0


def median(values):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def tail_percentile(samples, min_beyond=10):
    """The highest whole percentile, 50 to 99, that leaves at least
    `min_beyond` samples strictly above its nearest-rank value.

    Returns (percentile, value, samples_beyond). With too few samples for
    even the median to qualify, the maximum is returned as percentile 100
    with nothing beyond it, so a small sample never reads as a tail.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n - rank
    return 100, xs[-1], 0


def union_s(intervals):
    """Total length in seconds of the union of (start_ms, end_ms) intervals."""
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1000.0


def fail_accounting(passes, checks):
    """(attempted, failed) over every execution: each query of each pass,
    plus each output check. A check that fails counts as a failed
    execution, whether the run threw or the output was wrong."""
    attempted = failed = 0
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            failed += 0 if q["ok"] else 1
    for c in checks:
        attempted += 1
        failed += 0 if c["ok"] else 1
    return attempted, failed


def end_to_end(raw, attempted, failed):
    """The user-facing metrics of one untraced run."""
    cold = [p for p in raw["passes"] if p["kind"] == "cold"]
    warm = [p for p in raw["passes"] if p["kind"] == "warm" and not p["traced"]]
    check = [p for p in raw["passes"] if p["kind"] == "check"]
    if not cold or not warm or not check:
        raise ValueError("a run needs a cold pass, an untraced warm pass and a check pass")
    heap = [q["heap_live_mb"] for q in check[0]["queries"]]
    latencies = [q["latency_s"] for p in warm for q in p["queries"]]
    pct, tail, beyond = tail_percentile(latencies)
    return {
        "setup_s": raw["setup_s"],
        "cold_wall_s": cold[0]["wall_s"],
        "wall_s": median([p["wall_s"] for p in warm]),
        "latency_p50_s": median(latencies),
        "latency_tail_s": tail,
        "cpu_s": median([p["cpu_s"] for p in warm]),
        "rss_peak_mb": raw["rss_peak_mb"],
        "heap_live_peak_mb": max(heap),
        "fail_frac": failed / attempted if attempted else 0.0,
        # printed beside the tail, not metrics themselves
        "_tail_percentile": pct,
        "_tail_beyond": beyond,
        "_tail_samples": len(latencies),
        "_warm_passes": len(warm),
    }


def _pass_spans(spans, pass_name):
    root = next(s for s in spans if s["kind"] == "pass" and s["name"] == pass_name)
    queries = [s for s in spans if s["kind"] == "query" and s["parent"] == root["id"]]
    qids = {q["id"] for q in queries}
    inner = [s for s in spans if s["parent"] in qids]
    return root, queries, inner


def pass_layers(p, spans, jobs, executions, cpus):
    """Per-layer figures of one traced pass `p`.

    Jobs are attributed to the construct, action or sweep span whose id
    they carry; query executions to the span their planning started in.
    """
    name = f"{p['kind']}-{p['index']}"
    root, queries, inner = _pass_spans(spans, name)
    kind_of = {s["id"]: s["kind"] for s in inner}
    dur = lambda s: (s["end_ms"] - s["start_ms"]) / 1000.0
    mine = [j for j in jobs if j["span"] and int(j["span"]) in kind_of]
    by_kind = {k: [j for j in mine if kind_of[int(j["span"])] == k]
               for k in ("construct", "action", "sweep")}
    iv = lambda js: [(j["start_ms"], j["end_ms"]) for j in js if j["end_ms"] >= 0]
    span_sum = lambda k: sum(dur(s) for s in inner if s["kind"] == k)
    tot = lambda key: sum(j[key] for j in mine)
    wall = dur(root)
    job_s = union_s(iv(mine))
    actions = [s for s in inner if s["kind"] == "action"]
    in_action = [e for e in executions
                 if any(a["start_ms"] - 1 <= e["start_ms"] <= a["end_ms"] + 1 for a in actions)]
    construct_s, action_s, sweep_s = span_sum("construct"), span_sum("action"), span_sum("sweep")
    memo_builds = sum(1 for q in p["queries"] if q["memo_new_ids"] > 0)
    memo_created = sum(q["memo_new_ids"] for q in p["queries"])
    memo_alive = len(p["queries"][-1]["memo_ids"]) if p["queries"] else 0
    return {
        "operators.construct_s": construct_s,
        "operators.eager_jobs": len(by_kind["construct"]),
        "operators.eager_job_s": union_s(iv(by_kind["construct"])),
        "plans.optimize_ms": sum(e["optimize_ms"] for e in in_action),
        "plans.planning_ms": sum(e["planning_ms"] for e in in_action),
        "plans.pinned_mb": max((q["pinned_mb"] for q in p["queries"]), default=0.0),
        "plans.memo_builds": memo_builds,
        "plans.memo_rebuild_frac": memo_created / memo_alive if memo_alive else 0.0,
        "plans.sweep_s": sweep_s,
        "exec.action_s": action_s,
        "exec.jobs": len(mine),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.task_failures": tot("task_failures"),
        "exec.driver_only_s": wall - job_s,
        "exec.task_run_s": tot("task_run_ms") / 1000.0,
        "exec.task_cpu_s": tot("task_cpu_ns") / 1e9,
        "exec.task_gc_s": tot("task_gc_ms") / 1000.0,
        "exec.slot_busy_frac": tot("task_run_ms") / 1000.0 / (wall * cpus) if wall else 0.0,
        "exec.shuffle_write_mb": tot("shuffle_write_bytes") / MB,
        "exec.shuffle_read_mb": tot("shuffle_read_bytes") / MB,
        "exec.spill_mb": tot("spill_bytes") / MB,
        "tables.input_mb": tot("input_bytes") / MB,
        "tables.input_rows": tot("input_rows"),
        "sink.output_mb": tot("output_bytes") / MB,
        "sink.output_rows": tot("output_rows"),
        "self.pass_s": wall - sum(dur(q) for q in queries),
        "self.query_s": sum(dur(q) for q in queries) - construct_s - action_s - sweep_s,
        "self.construct_s": construct_s - union_s(iv(by_kind["construct"])),
        "self.action_s": action_s - union_s(iv(by_kind["action"])),
        "self.sweep_s": sweep_s - union_s(iv(by_kind["sweep"])),
        "self.job_s": job_s,
        "trace.accounted_frac": (construct_s + action_s + sweep_s) / wall if wall else 0.0,
        "_wall_s": wall,
    }


# counts that a later claim may want to rest on: recorded as exact or not
REPEAT_COUNTS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_mb",
                 "plans.memo_builds", "operators.eager_jobs")


def per_layer(raw, spans, cpus):
    """The traced run's layer metrics: medians over its traced warm
    passes, the cold pass's compile and JIT figures, and the tracing
    overhead (traced minus untraced warm-pass median)."""
    jobs, execs = raw["jobs"], raw["executions"]
    traced = [p for p in raw["passes"] if p["kind"] == "warm" and p["traced"]]
    untraced = [p for p in raw["passes"] if p["kind"] == "warm" and not p["traced"]]
    cold = next(p for p in raw["passes"] if p["kind"] == "cold")
    if not traced or not untraced:
        raise ValueError("a traced run needs traced and untraced warm passes")
    per_pass = [pass_layers(p, spans, jobs, execs, cpus) for p in traced]
    out = {k: median([pp[k] for pp in per_pass]) for k in per_pass[0] if not k.startswith("_")}
    out["codegen.compile_ms"] = cold["codegen_ms"]
    out["codegen.classes"] = cold["codegen_classes"]
    out["jvm.jit_ms"] = cold["jit_ms"]
    out["jvm.gc_s"] = cold["gc_s"]
    traced_wall = median([p["wall_s"] for p in traced])
    untraced_wall = median([p["wall_s"] for p in untraced])
    out["trace.wall_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall
    repeat = {k: len({pp[k] for pp in per_pass}) == 1 for k in REPEAT_COUNTS}
    return out, repeat, per_pass
