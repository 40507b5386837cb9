#!/usr/bin/env python3
"""Self-tests of the benchmark harness on tiny inputs.

Run from the root of a checkout (takes a few minutes):

    python3 perfbench/selftest.py

Checks that span self time is computed correctly; that every workload,
on sf0.001 tables and a scale-8 RMAT graph, prints every metric named in
BENCHMARK.json with its unit and with a well-formed name, untraced and
traced; and that a deliberately corrupted output is counted as failed,
both through the DuckDB oracle and through the sequential references.
"""
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
failures = []


def expect(cond, what):
    print(f"  {'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        failures.append(what)


def test_self_times():
    s = lambda i, p, a, b: {"id": i, "name": f"s{i}", "parent": p,
                            "start_ns": int(a * 1e9), "end_ns": int(b * 1e9)}
    spans = [s(0, -1, 0, 10),
             s(1, 0, 1, 3),     # plain child
             s(2, 0, 2, 4),     # overlaps child 1: covered once
             s(3, 0, 9, 12),    # runs past the parent: clipped at 10
             s(4, 1, 1.5, 2.5)]  # grandchild: counts for span 1 only
    own = run.self_times(spans)
    expect(abs(own[0] - 6.0) < 1e-9, f"self time of parent = 6 s (got {own[0]})")
    expect(abs(own[1] - 1.0) < 1e-9, f"self time of child with child = 1 s (got {own[1]})")
    expect(abs(own[3] - 3.0) < 1e-9, f"self time of leaf = its duration (got {own[3]})")


def bench(workload, trace, corrupt=""):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]), p.stdout
    except (IndexError, ValueError):
        print(p.stdout[-2000:], p.stderr[-2000:])
        return p.returncode, None, p.stdout


def test_metrics(spec):
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, line, text = bench(w, trace)
            expect(code == 0 and line is not None and line["correct"],
                   f"{w} trace={trace}: exit 0 and correct")
            if line is None:
                continue
            expect(set(line) == {"correct", "attempted", "failed", "metrics"},
                   f"{w} trace={trace}: result keys")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = line["metrics"]
            expect(set(got) == set(want), f"{w} trace={trace}: every {kind} metric printed")
            expect(all(got[n]["unit"] == u for n, u in want.items() if n in got),
                   f"{w} trace={trace}: every metric has its unit")
            expect(all(NAME_RE.match(n) for n in got), f"{w} trace={trace}: metric names")
            expect(all(isinstance(v["value"], (int, float)) for v in got.values()),
                   f"{w} trace={trace}: numeric values")
            if trace == 0:
                expect(all(v["value"] > 0 for v in got.values()),
                       f"{w}: end-to-end metrics are non-zero")
                expect(all(f"{w} {n} " in text for n in want), f"{w}: metrics printed by name")


def test_corruption():
    for w, call in (("partgraph-iter", "g4_cc"), ("tables-oneshot", "q1_agg"),
                    ("rmat-iter", "pagerank")):
        code, line, _ = bench(w, 0, corrupt=call)
        expect(code != 0 and line is not None and not line["correct"] and line["failed"] >= 1,
               f"{w}: corrupted {call} output is counted as failed")


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    print("span self time")
    test_self_times()
    print("metrics on tiny inputs")
    test_metrics(spec)
    print("corrupted outputs")
    test_corruption()
    print("PASS" if not failures else f"FAIL: {len(failures)} check(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
