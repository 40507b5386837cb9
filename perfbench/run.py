#!/usr/bin/env python3
"""Benchmark of the graft engine: seeded workloads, output-checked.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the harness (`perfbench/harness`)
with sbt; the build is cached under `.bench_build/`. The input tables
are a copy of the engine's test tables in `perfbench/data/`. Each
workload runs in its own JVM (`perfbench.Harness`), which writes its raw
measurements; this script then checks the outputs against the DuckDB
oracle with the engine's `tools/check.py`, reduces the measurements to the metrics named
in `BENCHMARK.json`, writes a result file to `.bench_build/results/` and
prints the metrics, ending with one JSON line. The exit code is non-zero
when any output is wrong or any call failed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

# input sizes per workload: a copy of the engine's test tables under
# perfbench/data (scale factor), or the RMAT scale
SIZES = {
    "bench": {"partgraph-iter": "sf0.01", "rmat-iter": 13, "tables-oneshot": "sf0.01"},
    "tiny": {"partgraph-iter": "sf0.001", "rmat-iter": 8, "tables-oneshot": "sf0.001"},
}
SETUPS = 3
XMX = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# the module options Spark needs on JDK 17 outside spark-submit (the same
# list the engine's build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


_children = []


def _stop_children(signum, _frame):
    """Kill the harness JVM with this process, then exit."""
    for proc in _children:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def summary(values):
    q1, med, q3 = quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values)}


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its direct children. Returns {span id: seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, end = 0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], lo, end), min(c["end_ns"], hi)
            if b > a:
                covered += b - a
            end = max(end, min(c["end_ns"], hi))
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


# ------------------------------------------------------------- build, inputs

def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                           for f in fs if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness with sbt once per source state; return the
    runtime classpath."""
    harness = os.path.join(BENCH_DIR, "harness")
    stamp = tree_digest([os.path.join(root, "build.sbt"),
                         os.path.join(root, "project", "build.properties"),
                         os.path.join(root, "src", "main"), harness])
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = " ".join(opts)
    logf = os.path.join(work, "build.log")
    with open(logf, "w") as fh:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export harness/Runtime/fullClasspath"],
            cwd=harness, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            stdin=subprocess.DEVNULL, start_new_session=True)
        _children.append(proc)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"build exceeded {BUILD_LIMIT_S} s, see {logf}")
        fh.write(stdout)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise RuntimeError(f"build failed, see {logf}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ------------------------------------------------------------------ one run

def run_harness(cp, work, workload, args, data, deadline):
    tag = f"{workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(work, "runs", tag)
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{XMX}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "perfbench.Harness",
              "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out,
              "--rmat-scale", str(SIZES[args.size]["rmat-iter"]),
              "--setups", str(SETUPS), "--corrupt", args.corrupt or "",
              "--local-dir", os.path.join(tmp, "spark")])
    logf = os.path.join(work, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    with open(logf, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        _children.append(proc)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"{workload}: harness exceeded its time limit, see {logf}")
    raw_file = os.path.join(out, "raw.json")
    if proc.returncode != 0 or not os.path.exists(raw_file):
        raise RuntimeError(f"{workload}: harness exited {proc.returncode}, see {logf}")
    with open(raw_file) as fh:
        return json.load(fh)


CHECK_LINE = re.compile(r"^\s*\[(\S+)\s*\] (\S+): ?(.*)$")


def oracle_checks(raw, data, root):
    """DuckDB oracle for every table-backed call, through the engine's own
    correctness gate `tools/check.py` (the harness wrote the outputs and
    `oracle_sql.json` in its layout); the RMAT references ran in the
    harness."""
    if raw["workload"] == "rmat-iter":
        return raw["checks"]
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        data, raw["outputs_dir"]],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    verdict = {}
    for l in p.stdout.splitlines():
        m = CHECK_LINE.match(l)
        if m:
            verdict[m.group(2)] = (m.group(1), m.group(3))
    checks = []
    for c in raw["calls"]:
        name = c["name"]
        if not os.path.isdir(os.path.join(raw["outputs_dir"], name)):
            continue  # the call threw, which counts as a failure already
        kind, detail = verdict.get(name, ("missing", p.stdout.strip()[-300:]))
        checks.append({"call": name, "kind": "oracle", "ok": kind == "PASS",
                       "detail": "" if kind == "PASS" else f"{kind}: {detail}"})
    return checks


def failed_executions(raw, checks):
    """(call, pass) pairs that threw or gave a wrong output. A failed
    output check marks every pass whose fingerprint equals the checked
    warm-up pass."""
    bad = {(f["call"], f["pass"]) for f in raw["failures"]}
    wrong = {c["call"] for c in checks if not c["ok"]}
    warm = {c["name"]: c.get("fingerprint") for c in raw["passes"][0]["calls"]}
    for p in raw["passes"]:
        for c in p["calls"]:
            if c["name"] in wrong and c.get("fingerprint") == warm.get(c["name"]):
                bad.add((c["name"], p["index"]))
    return bad


def pass_metrics(calls):
    fam = {}
    for c in calls:
        fam[c["family"]] = fam.get(c["family"], 0.0) + c["wall_s"]
    total = sum(c["wall_s"] for c in calls)
    geo = math.exp(sum(math.log(v) for v in fam.values()) / len(fam))
    return total, geo, fam


def layer_metrics(raw, passes):
    """Per-layer counters, summed per pass over each layer's calls, as
    medians over the traced passes."""
    per_pass = []
    for p in passes:
        m = {}
        for c in p["calls"]:
            for key in ("jobs", "stages", "tasks", "empty_tasks", "shuffle_bytes",
                        "spill_bytes", "input_bytes", "blocks_left", "cpu_s",
                        "idle_s", "wall_s"):
                for scope in (c["layer"], "scheduler"):
                    k = f"{scope}.{key}"
                    m[k] = m.get(k, 0) + c.get(key, 0)
            m["jvm.gc_s"] = m.get("jvm.gc_s", 0.0) + c["gc_s"]
        for k in [k for k in m if k.endswith(".empty_tasks")]:
            scope = k[: -len(".empty_tasks")]
            tasks = m[f"{scope}.tasks"]
            m[f"{scope}.empty_task_frac"] = m.pop(k) / tasks if tasks else 0.0
        per_pass.append(m)
    keys = sorted({k for m in per_pass for k in m})
    out = {k: statistics.median([m.get(k, 0) for m in per_pass]) for k in keys}
    out.pop("scheduler.blocks_left", None)
    out["session.start_s"] = statistics.median(raw["session_start_s"])
    out["setup.inputs_s"] = statistics.median(raw["input_s"])
    sc = raw["setup_counters"]
    for key in ("wall_s", "jobs", "tasks", "shuffle_bytes", "input_bytes", "cpu_s", "idle_s"):
        out[f"{sc['layer']}.{key}"] = sc[key]
    return out


def span_report(raw):
    spans = raw["spans"]
    own = self_times(spans)
    by_name = {}
    for s in spans:
        e = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        e["count"] += 1
        e["total_s"] += (s["end_ns"] - s["start_ns"]) / 1e9
        e["self_s"] += own[s["id"]]
    pass_self = [own[s["id"]] for s in spans if s["name"] == "pass"]
    return by_name, pass_self


def reduce_run(raw, checks, spec, trace):
    timed = [p for p in raw["passes"] if not p["warmup"]]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    bad = failed_executions(raw, checks)
    totals, geos, fams = [], [], {}
    for p in plain:
        t, g, fam = pass_metrics(p["calls"])
        totals.append(t)
        geos.append(g)
        for k, v in fam.items():
            fams.setdefault(f"{k}_s", []).append(v)
    stats = {
        "setup_s": summary(raw["setup_s"]),
        "pass_s": summary(totals),
        "family_geomean_s": summary(geos),
        "live_heap_mb": summary([c["live_heap_mb"] for p in raw["passes"]
                                 for c in p["calls"]]),
        "peak_rss_mb": summary([raw["peak_rss_mb"]]),
        "failed_frac": summary([len(bad) / raw["attempted"]]),
    }
    for k, v in sorted(fams.items()):
        stats[k] = summary(v)
    result = {
        "workload": raw["workload"], "seed": raw["seed"], "trace": trace,
        "run_id": raw["run_id"], "nproc": raw["nproc"],
        "xmx_mb": raw["xmx_mb"], "spark_version": raw["spark_version"],
        "graphs": raw["graphs"], "setup_layer": raw["setup_layer"],
        "metrics": stats, "checks": checks, "failures": raw["failures"],
        "failed_executions": sorted(f"{c}@pass{p}" for c, p in bad),
        "attempted": raw["attempted"],
        "passes": [{"index": p["index"], "warmup": p["warmup"], "traced": p["traced"],
                    "calls": {c["name"]: c["wall_s"] for c in p["calls"]}}
                   for p in raw["passes"]],
    }
    if trace:
        layers = layer_metrics(raw, traced)
        spans, pass_self = span_report(raw)
        plain_t = [pass_metrics(p["calls"])[0] for p in plain]
        traced_t = [pass_metrics(p["calls"])[0] for p in traced]
        layers["trace.overhead_s"] = statistics.median(traced_t) - statistics.median(plain_t)
        layers["harness.pass_self_s"] = statistics.median(pass_self)
        result["per_layer"] = layers
        result["span_summary"] = spans
        result["spans"] = raw["spans"]
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, u in names}
    else:
        metrics = {m["name"]: {"value": stats[m["name"]]["median"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    line = {"correct": not bad and all(c["ok"] for c in checks),
            "attempted": raw["attempted"], "failed": len(bad), "metrics": metrics}
    return result, line


def print_run(result, line):
    w = result["workload"]
    g = ", ".join(f"{k} n={v['n']} m={v['m']}" for k, v in result["graphs"].items())
    print(f"== {w} seed={result['seed']} trace={result['trace']} nproc={result['nproc']} "
          f"xmx={result['xmx_mb']}MB spark={result['spark_version']} {g}")
    for name, s in result["metrics"].items():
        unit = {"peak_rss_mb": "MB", "live_heap_mb": "MB",
                "failed_frac": "fraction"}.get(name, "s")
        print(f"  {w} {name:<18} {s['median']:.6g} {unit} "
              f"(q1 {s['q1']:.6g}, q3 {s['q3']:.6g}, n={s['n']})")
    for c in result["checks"]:
        print(f"  {w} check {c['kind']} {c['call']}: {'ok' if c['ok'] else 'FAIL ' + c['detail']}")
    for f in result["failures"]:
        print(f"  {w} FAIL {f['kind']} {f['call']} pass {f['pass']}: {f['detail']}")
    if "per_layer" in result:
        for k, v in sorted(result["per_layer"].items()):
            print(f"  {w} layer {k} {v:.6g}")
        for k, v in sorted(result["span_summary"].items()):
            print(f"  {w} span {k} count={v['count']} total={v['total_s']:.4f}s "
                  f"self={v['self_s']:.4f}s")
    print(f"  {w} correct={line['correct']} attempted={line['attempted']} "
          f"failed={line['failed']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench",
                    help="input sizes; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", default="",
                    help="call whose checked output is corrupted (self-test)")
    ap.add_argument("--data", default="",
                    help="tables directory to use instead of perfbench/data/<sf>")
    args = ap.parse_args()
    t0 = time.time()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _stop_children)

    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    engine = os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")
    checker = os.path.join(root, "tools", "check.py")
    if not all(os.path.exists(f) for f in (os.path.join(root, "build.sbt"), engine, checker)):
        log("no engine sources here: run from the root of a checkout")
        return 2
    with open(spec_file) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    workloads = names if args.workload == "all" else [args.workload]
    if any(w not in names for w in workloads):
        log(f"unknown workload {args.workload}; one of {names} or all")
        return 2
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME_RE.match(m["name"]), m["name"]

    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    try:
        cp = build(root, work)
    except (RuntimeError, FileNotFoundError) as e:
        log(f"build failed: {e}")
        return 3
    build_s = time.time() - t0

    lines, ok = {}, True
    for w in workloads:
        # rmat-iter makes its graph in the harness and reads no tables
        data = "" if w == "rmat-iter" else (
            args.data or os.path.join(BENCH_DIR, "data", SIZES[args.size][w]))
        deadline = time.time() + RUN_LIMIT_S
        try:
            raw = run_harness(cp, work, w, args, data, deadline)
        except RuntimeError as e:
            log(str(e))
            return 4
        checks = oracle_checks(raw, data, root)
        result, line = reduce_run(raw, checks, spec, bool(args.trace))
        result["tables_dir"] = data or None
        result["build_s"] = build_s
        res_dir = os.path.join(work, "results")
        os.makedirs(res_dir, exist_ok=True)
        res_file = os.path.join(res_dir, f"{w}-seed{args.seed}-trace{args.trace}.json")
        with open(res_file, "w") as fh:
            json.dump(result, fh, indent=1)
        print_run(result, line)
        print(f"  {w} result file {os.path.relpath(res_file, root)}")
        lines[w] = line
        ok = ok and line["correct"]

    if len(workloads) == 1:
        final = lines[workloads[0]]
    else:
        final = {"correct": ok,
                 "attempted": sum(l["attempted"] for l in lines.values()),
                 "failed": sum(l["failed"] for l in lines.values()),
                 "metrics": {f"{w}.{k}": v for w, l in lines.items()
                             for k, v in l["metrics"].items()}}
    print(json.dumps(final), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
