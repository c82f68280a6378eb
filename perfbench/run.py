#!/usr/bin/env python3
"""Repository benchmark: cron ETL cycles and a streaming ingest drain,
driven through the package's public entry points from one process on
``local[<cores>]``.

    python3 perfbench/run.py --workload etl_cycles --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones (spans, py4j calls, streaming
progress and Spark event-log counters). The line before it,
``{"detail": ...}``, carries wall latency percentiles per operation
kind, wall set-up and throughput, failures with their causes, input
hashes and host contamination (load before start, steal per unit).
``--report PATH`` also writes the traced run's span tree summary.

The gated timings are CPU seconds of the process tree (Python driver,
JVM, Python workers), not wall: on a shared 4-core virtual machine the
hypervisor's steal stretched wall set-up and operation latency by up to
45% between runs (five-seed IQR/median 0.2-0.33), while the CPU seconds
spread 0.04-0.12. Stolen time is not charged to a process.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WALL_GUARD_S = 150.0  # stop the timed loop early rather than exceed 180 s
DRIVER_HEAP = "2g"


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_ticks() -> tuple[int, int] | None:
    """Cumulative (busy, steal) ticks of all CPUs from /proc/stat; steal
    is the host-contamination signal ``bench.py`` uses."""
    try:
        with open("/proc/stat") as fh:
            user, nice, system, _idle, _iowait, irq, softirq, steal = map(
                int, fh.readline().split()[1:9])
    except (OSError, ValueError):
        return None
    return user + nice + system + irq + softirq, steal


def _tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, with reaped children) of ``pid`` and
    every process below it: the Python driver, the JVM and its Python
    workers. Time the hypervisor stole is not in it."""
    ticks, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            for t in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{t}/children") as fh:
                    stack.extend(map(int, fh.read().split()))
        except (OSError, ValueError, IndexError):
            pass  # the process ended meanwhile
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def pctl(xs: list[float], q: float) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    i = min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))
    return s[i]


def tail(xs: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return None
    q = 1.0 - 10.0 / n
    return {"q": round(q, 4), "n": n, "value_s": pctl(xs, q)}


def pin_env(cpus: int, work: str) -> None:
    """Environment the engine needs before the JVM starts: core count,
    Spark scratch inside the run's work dir, driver heap, and the
    repository on the Python workers' path (tasks unpickle package
    closures)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The program's default driver heap (16g, growable) lets G1 size the
    # heap by GC-time ratio, so the driver's peak RSS follows host timing:
    # five etl_cycles runs on 4 cores read 1.66-3.48 GB (IQR/median 0.68),
    # and with a growable 2g heap still 1.25-1.97 GB (0.24). A fixed 2g
    # heap (-Xms in _run) read 2.52-2.65 GB (0.04) and keeps the JVM well
    # inside a machine shared with other work.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", default=None)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    import layertrace as tr

    if not os.path.isdir(os.path.join(ROOT, tr.PKG)):
        print(f"perfbench: package {tr.PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_env(cpus, work)
    try:
        return _run(args, cpus, work, tr, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def _run(args, cpus: int, work: str, tr, wl_cls) -> int:
    import logging

    logging.getLogger("py4j").setLevel(logging.ERROR)
    load_start = _loadavg()  # before Spark: external load only
    ticks0, wall0 = _cpu_ticks(), time.time()
    wl = wl_cls(None, args.seed, work, None)
    wl.generate()  # input generation is not set-up

    tracer = tr.Tracer() if args.trace else None
    if tracer is not None:
        tr.install(tracer)
    from reddit_apache_airflow_postgres_pipeline_spark.session import get_spark

    # -Xms = -Xmx: G1 sizes a growable heap by GC-time ratio, so the
    # driver's peak RSS followed host timing (see pin_env)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']}"}
    evlog = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(evlog)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evlog,
                     "spark.eventLog.compress": "false"})
    me = os.getpid()
    t0, cpu0 = time.perf_counter(), _tree_cpu_s(me)
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.sc = spark.sparkContext
        tr.add_stream_listener(spark, tracer)

    wl.spark, wl.trace = spark, tracer
    t = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t
    setup_cpu_s = _tree_cpu_s(me) - cpu0

    failures: list[tuple[int, str]] = []
    done: set[int] = set()
    samples: list[tuple[str, int, float, float]] = []  # (kind, items, wall s, cpu s) of done ops
    units: list[dict] = []
    attempted = 0
    t_loop = time.time()
    unit_start = (time.perf_counter(), _cpu_ticks(), _tree_cpu_s(me))
    for i, (kind, n_items, fn, is_boundary) in enumerate(wl.ops()):
        if time.time() - wall0 > WALL_GUARD_S:
            break  # the unfinished unit's operations count in no metric
        attempted += 1
        if tracer is not None:
            tracer.op = i
        c, t = _tree_cpu_s(me), time.perf_counter()
        try:
            with wl.span(f"op.{kind}"):
                fn()
            done.add(i)
            samples.append((kind, n_items, time.perf_counter() - t, _tree_cpu_s(me) - c))
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, with its cause
            failures.append((i, f"{kind}: {type(exc).__name__}: {str(exc)[:300]}"))
        if tracer is not None:
            tracer.op = None
        if not is_boundary:
            continue
        now, ticks, cpu = time.perf_counter(), _cpu_ticks(), _tree_cpu_s(me)
        wall = now - unit_start[0]
        busy, steal = (ticks[0] - unit_start[1][0], ticks[1] - unit_start[1][1]) if ticks else (0, 0)
        units.append({"wall_s": wall, "cpu_s": cpu - unit_start[2],
                      "steal_cores": steal / wall / 100.0,  # USER_HZ = 100
                      "steal_share": steal / (busy + steal) if busy + steal else 0.0})
        unit_start = (now, ticks, cpu)
        if len(units) >= wl.min_units and sum(u["wall_s"] for u in units) >= args.seconds:
            break
    loop_wall = time.time() - t_loop
    lat: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    items = sum(n for _, n, _, _ in samples)
    timed = sum(w for _, _, w, _ in samples)
    for kind, _, dt, cpu_s in samples:
        lat.setdefault(kind, []).append(dt)
        cpu.setdefault(kind, []).append(cpu_s)

    try:
        failures += [f for f in wl.check(done) if f[0] in done]
    except Exception as exc:  # noqa: BLE001 - a check that cannot run is a failure
        failures.append((max(done, default=-1), f"check: {type(exc).__name__}: {str(exc)[:300]}"))
    failed_ops = {i for i, _ in failures}
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (_vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0
    stored = wl.stored_bytes()
    spark.stop()
    _stop_jvm(spark)
    ticks1 = _cpu_ticks()
    run_wall = time.time() - wall0
    steal_cores = None
    if ticks0 is not None and ticks1 is not None:
        steal_cores = (ticks1[1] - ticks0[1]) / run_wall / 100.0

    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus,
        "inputs_sha256": wl.inputs_sha256, "input_bytes": wl.input_bytes,
        "stored_bytes_per_input_byte": stored / max(wl.input_bytes, 1),
        "session_s": session_s, "prepare_s": prepare_s, "setup_wall_s": session_s + prepare_s,
        "setup_cpu_s": setup_cpu_s,
        "timed_s": timed, "items_per_s": items / timed if timed else 0.0,
        "loop_wall_s": loop_wall, "units": units,
        "latency": {k: {"n": len(v), "p50_s": statistics.median(v), "tail": tail(v),
                        "all_s": [round(x, 4) for x in v],
                        "cpu_p50_s": statistics.median(cpu[k])}
                    for k, v in lat.items()},
        "failed_op_ratio": len(failed_ops) / max(attempted, 1),
        "failures": [{"op": i, "cause": c} for i, c in failures],
        "host": {"load_start": load_start, "steal_cores_avg": steal_cores, "cpus": cpus},
        **wl.extra,
    }
    if tracer is not None:
        metrics, report = per_layer(tr, tracer, wl, evlog, detail)
        detail["trace"] = {"overhead_s": tracer.overhead_s, "spans": len(tracer.spans)}
        if args.report:
            with open(args.report, "w") as fh:
                json.dump(report, fh, indent=1, sort_keys=True)
    else:
        metrics = end_to_end(setup_cpu_s, items, sum(map(sum, cpu.values())), peak_rss_mb)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failed_ops), "metrics": metrics}))
    return 0


def _stop_jvm(spark) -> None:
    """End the driver JVM and wait for it: the gateway exits when its
    stdin closes."""
    gateway = type(spark.sparkContext)._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def end_to_end(setup_cpu_s: float, items: int, op_cpu_s: float, peak_rss_mb: float) -> dict:
    """The user-visible costs of an untraced run: CPU seconds of the
    process tree for set-up and per item (listing row, doc) over the
    timed operations, and peak memory. A per-operation CPU median is
    left on the detail line: over six fetches it spread up to 0.27
    (IQR/median) across five seeds, against 0.17 for the total."""
    m = {
        "setup_s": (setup_cpu_s, "s"),
        "cpu_ms_per_item": (1000.0 * op_cpu_s / items if items else 0.0, "ms"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(tr, tracer, wl, evlog: str, detail: dict):
    """Per-layer metrics of a traced run plus the where-the-time-goes
    report (self time per layer, Spark counters under each span)."""
    spans = tr.span_dicts(tracer)
    spark_counts = tr.spark_by_span(tr.read_event_log(evlog), spans, tracer.stream_runs)
    table = tr.layer_table(spans, spark_counts)
    in_ops = [s for s in spans if s["op"] is not None]
    ops = sorted({s["op"] for s in in_ops})
    n_ops = max(len(ops), 1)

    def calls(name: str) -> list[dict]:
        """Calls of ``name`` inside operations, else during set-up (the
        layers a workload only touches while it prepares)."""
        return [s for s in in_ops if s["name"] == name] or \
            [s for s in spans if s["name"] == name]

    def med(name: str) -> float:
        xs = [s["end"] - s["start"] for s in calls(name)]
        return statistics.median(xs) if xs else 0.0

    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def jobs_per_call(name: str) -> float:
        """Mean over calls of ``name`` of the Spark jobs under the call's
        whole subtree."""
        roots = calls(name)
        total, stack = 0.0, [r["id"] for r in roots]
        while stack:
            sid = stack.pop()
            total += (spark_counts.get(sid) or {}).get("jobs", 0.0)
            stack.extend(kids.get(sid, []))
        return total / len(roots) if roots else 0.0

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (detail["session_s"], "s"),
        "sources.reddit_listing_df_s": (med("sources.reddit_listing_df"), "s"),
        "plans.fetch_transform_s": (med("plans.fetch_transform"), "s"),
        "sinks.write_atomic_csv_s": (med("sinks.write_atomic_csv"), "s"),
        "runner.fetch_job_s": (med("runner.fetch_job"), "s"),
        "sources.read_csv_inbox_s": (med("sources.read_csv_inbox"), "s"),
        "sources.read_csv_inbox_jobs": (jobs_per_call("sources.read_csv_inbox"), "count"),
        "plans.combine_pipeline_s": (med("plans.combine_pipeline"), "s"),
        "operators.upsert_merge_s": (med("operators.upsert_merge"), "s"),
        "sinks.archive_files_s": (med("sinks.archive_files"), "s"),
        "runner.combine_load_job_s": (med("runner.combine_load_job"), "s"),
        # each attempt is one child span of run_with_retries
        "runner.retries": (float(sum(max(0, len(kids.get(s["id"], [])) - 1)
                                     for s in in_ops if s["name"] == "runner.run_with_retries")),
                           "count"),
        "operators.dedup_keep_ratio": (wl.extra.get("dedup_keep_ratio", 0.0), "ratio"),
        "sources.load_table_s": (med("sources.load_table"), "s"),
        "sources.load_table_jobs": (jobs_per_call("sources.load_table"), "count"),
        "py4j.calls_per_op": (sum(s["py4j"] for s in in_ops) / n_ops, "count"),
        "sinks.text_index_append_s": (med("sinks.text_index_append"), "s"),
    }
    for stage in ("drift_gate", "dedup_gate", "span_gate", "cms", "hll", "index_append"):
        m[f"streaming.{stage}_s"] = (med(f"streaming.{stage}"), "s")
    # micro-batch progress of the queries that operations started
    op_ids = {s["id"] for s in in_ops}
    progress = [p for p in tracer.progress if tracer.stream_runs.get(p["run"]) in op_ids]
    phases = {"trigger": "triggerExecution", "add_batch": "addBatch", "get_batch": "getBatch",
              "latest_offset": "latestOffset", "query_planning": "queryPlanning",
              "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}
    batches = [p for p in progress if p["rows"] > 0 or p["ms"].get("addBatch")]
    m["streaming.batches"] = (len(batches) / n_ops, "count")
    m["streaming.input_rows"] = (sum(p["rows"] for p in progress) / n_ops, "count")
    for k, key in phases.items():
        xs = [p["ms"].get(key, 0) for p in batches]
        m[f"streaming.{k}_ms"] = (statistics.median(xs) if xs else 0.0, "ms")
    stage_spans = [s for s in in_ops if s["name"].startswith("streaming.") and
                   s["name"] != "streaming.run_full_ingest"]
    trig_by_span: dict[int, float] = {}
    for p in progress:
        sid = tracer.stream_runs.get(p["run"])
        if sid is not None:
            trig_by_span[sid] = trig_by_span.get(sid, 0.0) + p["ms"].get("triggerExecution", 0) / 1000.0
    start_stop = [(s["end"] - s["start"]) - trig_by_span.get(s["id"], 0.0) for s in stage_spans]
    m["streaming.start_stop_s"] = (statistics.median(start_stop) if start_stop else 0.0, "s")
    for k in ("admit_ratio", "quarantine_ratio", "dup_reject_ratio"):
        m[f"streaming.{k}"] = (wl.extra.get(k, 0.0), "ratio")
    for k in ("dedup_state", "span_state", "cms", "hll"):
        m[f"streaming.state_bytes.{k}"] = ((wl.extra.get("state_bytes") or {}).get(k, 0), "bytes")
    m["streaming.checkpoint_bytes"] = (wl.extra.get("checkpoint_bytes", 0), "bytes")
    m["sinks.stored_bytes_per_input_byte"] = (detail["stored_bytes_per_input_byte"], "ratio")
    for k in tr.SPARK_KEYS:
        unit = "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count")
        m[f"spark.{k}"] = (sum(row[k] for row in table.values()) / n_ops, unit)
    op_wall = sum(s["end"] - s["start"] for s in in_ops if s["parent"] is None)
    for lay, row in table.items():
        m[f"self.{lay}_s"] = (row["self_s"] / n_ops, "s")
    m["trace.overhead_s"] = (tracer.overhead_s / n_ops, "s")
    m["host.steal_cores"] = (detail["host"]["steal_cores_avg"] or 0.0, "cores")
    m["host.load1_start"] = (detail["host"]["load_start"][0], "load")

    report = {
        "workload": wl.name, "ops": len(ops), "op_wall_s": op_wall,
        "timed_s": detail["timed_s"],
        "tracing_overhead_s": tracer.overhead_s,
        "layers": table,
        "spans": _span_summary(tr, spans, spark_counts, in_op=True),
        "setup_spans": _span_summary(tr, spans, spark_counts, in_op=False),
        "latency": detail["latency"],
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, report


def _span_summary(tr, spans: list[dict], spark_counts: dict, in_op: bool) -> dict:
    st = tr.self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        if (s["op"] is not None) != in_op:
            continue
        row = out.setdefault(s["name"], {"layer": s["layer"], "calls": 0, "total_s": 0.0,
                                         "self_s": 0.0, "py4j": 0,
                                         **dict.fromkeys(tr.SPARK_KEYS, 0.0)})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += st[s["id"]]
        row["py4j"] += s["py4j"]
        for k in tr.SPARK_KEYS:
            row[k] += (spark_counts.get(s["id"]) or {}).get(k, 0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
