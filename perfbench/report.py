#!/usr/bin/env python3
"""Where the time goes: run every workload BENCHMARK.json declares once
untraced and once traced on the same seed, and write the per-layer
table as markdown.

    python3 perfbench/report.py --seed 1 --out perfbench/TRACE.md

Run from the repository root. The traced run's self times per layer
add up to its operation wall; the difference between the traced and
the untraced operation wall is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: int, trace: int, report: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if report:
        cmd += ["--report", report]
    p = subprocess.run(cmd, capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    return {"detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def _fmt(x: float) -> str:
    return f"{x:.3f}" if abs(x) < 1000 else f"{x:,.0f}"


def render(workload: str, seed: int, plain: dict, traced: dict, rep: dict) -> str:
    ops = max(rep["ops"], 1)
    wall = rep["op_wall_s"]
    d0, d1 = plain["detail"], traced["detail"]
    out = [f"## {workload} (seed {seed})", ""]
    out.append(
        f"{rep['ops']} operations. Operation wall: untraced {d0['timed_s']:.2f} s, traced "
        f"{d1['timed_s']:.2f} s; tracing overhead {d1['timed_s'] - d0['timed_s']:+.2f} s "
        f"({(d1['timed_s'] - d0['timed_s']) / max(d0['timed_s'], 1e-9):+.1%}; two single runs, "
        f"so read it against the run-to-run spread), of which the tracer's own bookkeeping "
        f"measures {rep['tracing_overhead_s']:.3f} s. Untraced run: "
        f"attempted {plain['result']['attempted']}, failed {plain['result']['failed']}. Host during the traced run: "
        f"load1 before start {d1['host']['load_start'][0]}, steal "
        f"{(d1['host']['steal_cores_avg'] or 0):.2f} cores on average. Process-tree CPU "
        f"of the operations (what the gated metrics count): untraced "
        f"{sum(u['cpu_s'] for u in d0['units']):.2f} s, traced "
        f"{sum(u['cpu_s'] for u in d1['units']):.2f} s; of set-up: untraced "
        f"{d0['setup_cpu_s']:.2f} s, traced {d1['setup_cpu_s']:.2f} s.")
    out.append("")
    lay = rep["layers"]
    total = sum(r["self_s"] for r in lay.values())
    out.append("| layer | self s/op | share | calls/op | jobs/op | stages/op | tasks/op "
               "| executor CPU s/op | GC s/op | shuffle bytes/op |")
    out.append("|---|---|---|---|---|---|---|---|---|---|")
    for name, r in sorted(lay.items(), key=lambda kv: -kv[1]["self_s"]):
        if not r["self_s"] and not r["calls"]:
            continue
        out.append(
            f"| {name} | {_fmt(r['self_s'] / ops)} | {r['self_s'] / max(total, 1e-9):.1%} | "
            f"{r['calls'] / ops:.1f} | {r['jobs'] / ops:.1f} | {r['stages'] / ops:.1f} | "
            f"{r['tasks'] / ops:.1f} | {_fmt(r['executor_cpu_s'] / ops)} | "
            f"{_fmt(r['jvm_gc_s'] / ops)} | "
            f"{_fmt((r['shuffle_read_bytes'] + r['shuffle_write_bytes']) / ops)} |")
    out.append("")
    out.append(
        f"The top-level operation spans cover {wall:.2f} s of the traced run's "
        f"{d1['timed_s']:.2f} s operation wall (remainder {d1['timed_s'] - wall:+.3f} s, the "
        f"harness between its clock and the spans); the layers' self times add up to "
        f"{total:.2f} s. `bench` is the benchmark's own code between calls (landing files, "
        "the load callable's reads and writes); `spark` is the wall a span spent waiting on "
        "Spark jobs attributed to it.")
    out.append("")
    for title, key in (("Spans inside operations", "spans"), ("Set-up spans", "setup_spans")):
        rows = sorted(rep[key].items(), key=lambda kv: -kv[1]["total_s"])
        rows = [(n, r) for n, r in rows if not n.startswith("functions.")] + \
            [("functions.* (column builders)", _merge([r for n, r in rows if n.startswith("functions.")]))]
        out.append(f"### {title}")
        out.append("")
        out.append("| span | layer | calls | total s | self s | py4j calls | jobs | stages "
                   "| tasks | executor CPU s |")
        out.append("|---|---|---|---|---|---|---|---|---|---|")
        for n, r in rows:
            if not r["calls"]:
                continue
            out.append(f"| {n} | {r['layer']} | {r['calls']} | {_fmt(r['total_s'])} | "
                       f"{_fmt(r['self_s'])} | {r['py4j']} | {r['jobs']:.0f} | "
                       f"{r['stages']:.0f} | {r['tasks']:.0f} | {_fmt(r['executor_cpu_s'])} |")
        out.append("")
    lat = ", ".join(f"{k}: n={v['n']}, p50 {v['p50_s']:.3f} s" for k, v in d0["latency"].items())
    out.append(f"Untraced latency: {lat}. Failures: "
               + ("; ".join(f"op {f['op']}: {f['cause']}" for f in d0["failures"]) or "none")
               + ".")
    out.append("")
    return "\n".join(out)


def _merge(rows: list[dict]) -> dict:
    m = {"layer": "functions", "calls": 0, "total_s": 0.0, "self_s": 0.0, "py4j": 0,
         "jobs": 0.0, "stages": 0.0, "tasks": 0.0, "executor_cpu_s": 0.0}
    for r in rows:
        for k in m:
            if k != "layer":
                m[k] += r[k]
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "TRACE.md"))
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    parts = ["# Where the time goes", "",
             "Generated by `python3 perfbench/report.py --seed "
             f"{args.seed}` on local[{len(os.sched_getaffinity(0))}] "
             f"with `--seconds {bench['run_seconds']}`. Per-operation figures are means over "
             "the traced run's operations.", ""]
    scratch = os.path.join(os.getcwd(), ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    for w in bench["workloads"]:
        with tempfile.TemporaryDirectory(dir=scratch) as tmp:
            rep_path = os.path.join(tmp, "report.json")
            plain = _run(w["name"], args.seed, bench["run_seconds"], 0, None)
            traced = _run(w["name"], args.seed, bench["run_seconds"], 1, rep_path)
            with open(rep_path) as fh:
                rep = json.load(fh)
        parts.append(render(w["name"], args.seed, plain, traced, rep))
    with open(args.out, "w") as fh:
        fh.write("\n".join(parts))
    return 0


if __name__ == "__main__":
    sys.exit(main())
