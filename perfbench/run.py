#!/usr/bin/env python3
"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload small_batch|anon_etl \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark's JVM program from source (sbt, once per
checkout), generates the fixed input tables (once per checkout), runs one
JVM at local[N] with N = the CPUs this process may use, checks the
outputs with DuckDB, and prints every metric by name and unit. The last
stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
Everything it writes stays under `perfbench/out/` (git-ignored).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".properties"))]
    return found + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]


def build():
    """Compile the engine and the benchmark's JVM program; returns the
    runtime classpath."""
    stamp = os.path.join(OUT, "build", "classpath.txt")
    key = digest(sources())
    if os.path.exists(stamp):
        with open(stamp) as f:
            k, cp = f.read().split("\n", 1)
        if k == key:
            return cp.strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    log("building the engine and the benchmark's JVM program (sbt)...")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    # the engine's build file creates its scratch dirs under GRAFT_SCRATCH
    # when loaded; keep them inside the checkout
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(OUT, "build", "scratch"))
    with open(os.path.join(OUT, "build", "sbt.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=logf,
                           text=True, timeout=BUILD_TIMEOUT_S, env=env)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[error]" in p.stdout:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        f.write(key + "\n" + cp)
    return cp


def tables(sf):
    """The generated input tables at scale factor `sf`; returns their dir."""
    d = os.path.join(OUT, "data", f"sf{sf}")
    key = digest([os.path.join(HERE, "gen_data.py")])
    done = os.path.join(d, ".done")
    if not (os.path.exists(done) and open(done).read() == key):
        log(f"generating input tables at sf{sf}...")
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, float(sf))
        with open(done, "w") as f:
            f.write(key)
    return d


def data_digest(d):
    return digest([os.path.join(d, f"{t}.parquet") for t in checks.TABLES])


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, mode, run_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: with a growing heap the collector runs the
    # passes about 40% slower and its sizing varies from run to run. Peak
    # RSS is then the heap plus native memory, so the live-heap probe
    # reports the heap in use; it needs System.gc() to be a full collection
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main", mode]
    cmd += [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; see {run_dir}/jvm.log")
        finally:
            # also on SIGTERM or an interrupt: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed with exit code {rc}")


def check_outputs(spec, raw, run_dir, data_dir, seed):
    """Check what the check pass wrote; returns (check records, extra facts)."""
    con = checks.connect(data_dir)
    written = os.path.join(run_dir, "check")
    if spec["mode"] == "batch":
        out = []
        for c in raw["check"]:
            errs = ["no oracle SQL"] if not c["oracle"] else \
                checks.check_query(con, os.path.join(written, c["name"]), c["oracle"])
            out.append({"name": c["name"], "ok": not errs, "errors": errs})
        return out, {}
    res, facts = checks.check_anon(con, written, f"perfbench-{seed}")
    return [{"name": n, "ok": not e, "errors": e} for n, e in res.items()], facts


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def measure(args):
    spec = load_json(os.path.join(HERE, "workloads.json"))["workloads"][args.workload]
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    n = cpus()
    load0 = os.getloadavg()[0]
    cp = build()
    data_dir = tables(spec["sf"])
    run_dir = os.path.join(OUT, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # --seconds buys whole warm passes at the workload's nominal pass time;
    # the count, not a clock, ends the run, so runs compare pass for pass
    passes = max(4 if args.trace else 3, round(args.seconds / spec["nominal_pass_s"]))
    jvm_args = {"data": data_dir, "out": run_dir, "cpus": n, "seed": args.seed,
                "warmup": spec["warmup_passes"], "passes": passes, "trace": args.trace}
    if spec["mode"] == "batch":
        jvm_args["queries"] = ",".join(spec["queries"])
    run_jvm(cp, spec["mode"], run_dir, jvm_args)
    with open(os.path.join(run_dir, "raw.json")) as f:
        raw = json.load(f)
    checked, facts = check_outputs(spec, raw, run_dir, data_dir, args.seed)
    attempted, failed = metrics.fail_accounting(raw["passes"], checked)
    load1 = os.getloadavg()[0]
    env = dict(raw["env"], nproc=n, local=f"local[{n}]", heap=HEAP,
               load1_before=load0, load1_after=load1,
               load_flag=max(load0, load1) > n, data_digest=data_digest(data_dir),
               sf=spec["sf"], seed=args.seed, trace=args.trace)
    e2e = metrics.end_to_end(raw, attempted, failed)
    result = {"workload": args.workload, "env": env, "end_to_end": e2e,
              "passes": [{k: p[k] for k in ("kind", "traced", "wall_s", "cpu_s")}
                         | {"latency_s": {q["name"]: q["latency_s"] for q in p["queries"]}}
                         for p in raw["passes"]],
              "checks": checked, "facts": facts, "attempted": attempted, "failed": failed}
    lines = [f"env {json.dumps(env, sort_keys=True)}"]
    if env["load_flag"]:
        lines.append(f"WARNING load average {max(load0, load1):.2f} exceeds nproc {n}: "
                     "this run is flagged and should not be pooled")
    for c in checked:
        if not c["ok"]:
            lines.append(f"CHECK FAILED {c['name']}: {'; '.join(map(str, c['errors']))[:500]}")
    for p in raw["passes"]:
        for q in p["queries"]:
            if not q["ok"]:
                lines.append(f"QUERY FAILED {p['kind']}-{p['index']} {q['name']}: {q['error']}")
    for k in ["setup_s", "cold_wall_s", "wall_s", "latency_p50_s", "latency_tail_s",
              "cpu_s", "rss_peak_mb", "heap_live_peak_mb", "fail_frac"]:
        extra = ""
        if k == "latency_tail_s":
            extra = (f"  (p{e2e['_tail_percentile']}, {e2e['_tail_beyond']} of "
                     f"{e2e['_tail_samples']} samples beyond)")
        lines.append(f"{args.workload} {k} = {fmt(e2e[k])} {units.get(k, 'ratio')}{extra}")
    if args.trace:
        with open(os.path.join(run_dir, "spans.jsonl")) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
        spans = [s for s in spans if s["kind"] != "job"]
        layers, repeat, per_pass = metrics.per_layer(raw, spans, n)
        result.update(per_layer=layers, repeat_within_run=repeat, traced_passes=per_pass)
        for k in sorted(layers):
            lines.append(f"{args.workload} {k} = {fmt(layers[k])} {units.get(k, '')}")
        lines.append(f"{args.workload} exact repeat across traced passes: "
                     + ", ".join(f"{k}={v}" for k, v in repeat.items()))
        shown = {m["name"]: layers[m["name"]] for m in bench["per_layer"]}
    else:
        shown = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
    res_dir = os.path.join(OUT, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(result, f, indent=1, default=str)
    print("\n".join(lines))
    print(json.dumps({
        "correct": failed == 0 and all(c["ok"] for c in checked),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()}}))


def main():
    # turn SIGTERM into an exception so cleanup (the JVM child) runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"engine sources not found: {need} is missing under {ROOT}")
    if args.workload not in load_json(os.path.join(HERE, "workloads.json"))["workloads"]:
        raise SystemExit(f"unknown workload {args.workload!r}")
    t0 = time.time()
    measure(args)
    log(f"run took {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main()
