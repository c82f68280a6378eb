"""Layer-by-layer tracing for the traced benchmark run.

Spans are recorded by rebinding public functions of the package, from
the benchmark's own code, to thin wrappers (``install``). Each span has
a name, layer, start, end, parent and the id of the benchmark operation
it ran under; spans stay in memory and are summarised when the run
ends. Spark work is attributed to spans afterwards from the event log:
a job belongs to the innermost span whose job group it carries, or —
for jobs submitted from threads that do not inherit the group, such as
streaming micro-batches — to the innermost span open when it was
submitted. A ``StreamingQueryListener`` records every micro-batch's
``durationMs`` phases against the span that started its query.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "reddit_apache_airflow_postgres_pipeline_spark"

# (module, attribute, span name, layer). Every module of the package
# that bound the same function object gets the wrapper, so calls through
# ``from x import f`` aliases are seen too.
TARGETS = [
    ("session", "get_spark", "session.get_spark", "session"),
    ("sources.reddit", "reddit_listing_df", "sources.reddit_listing_df", "sources"),
    ("sources.files", "read_csv_inbox", "sources.read_csv_inbox", "sources"),
    ("sources.tables", "load_table", "sources.load_table", "sources"),
    ("plans.pipelines", "fetch_transform", "plans.fetch_transform", "plans"),
    ("plans.pipelines", "combine_pipeline", "plans.combine_pipeline", "plans"),
    ("plans.pipelines", "run_fetch", "plans.run_fetch", "plans"),
    ("plans.pipelines", "run_combine", "plans.run_combine", "plans"),
    ("operators.dedup", "dedup_first", "operators.dedup_first", "operators"),
    ("operators.dedup", "dedup_first_agg", "operators.dedup_first", "operators"),
    ("operators.merge", "upsert_merge", "operators.upsert_merge", "operators"),
    ("sinks.csv", "write_atomic_csv", "sinks.write_atomic_csv", "sinks"),
    ("sinks.archive", "archive_files", "sinks.archive_files", "sinks"),
    ("sinks.text_index", "write_text_index", "sinks.write_text_index", "sinks"),
    ("sinks.text_index", "append_text_to_index", "sinks.text_index_append", "sinks"),
    ("streaming.drift_gate", "write_reference", "streaming.write_reference", "streaming"),
    ("streaming.drift_gate", "run_drift_gate_available_now", "streaming.drift_gate", "streaming"),
    ("streaming.dedup_gate", "run_gate_available_now", "streaming.dedup_gate", "streaming"),
    ("streaming.dedup_gate", "run_verified_gate_available_now", "streaming.dedup_gate", "streaming"),
    ("streaming.span_gate", "run_span_gate_available_now", "streaming.span_gate", "streaming"),
    ("streaming.cms_stream", "run_cms_available_now", "streaming.cms", "streaming"),
    ("streaming.hll_stream", "run_hll_available_now", "streaming.hll", "streaming"),
    ("streaming.vector_index_stream", "run_text_index_append_available_now",
     "streaming.index_append", "streaming"),
    ("streaming.ingest_pipeline", "run_full_ingest_available_now",
     "streaming.run_full_ingest", "streaming"),
    ("runner", "fetch_job", "runner.fetch_job", "runner"),
    ("runner", "combine_load_job", "runner.combine_load_job", "runner"),
    ("runner", "run_with_retries", "runner.run_with_retries", "runner"),
]
# column builders: thousands of tiny calls, so no job group is set
EXPR_FUNCS = [
    "falsy_or", "salted_sha256", "sanitize_title", "epoch_to_iso",
    "fullname_fallback", "safe_int", "build_url", "normalize_permalink",
    "thing_key_fallback",
]
LAYERS = ["bench", "session", "sources", "functions", "plans", "operators",
          "sinks", "streaming", "runner", "spark"]


class Span:
    __slots__ = ("id", "op", "name", "layer", "parent", "start", "end", "py4j", "group")

    def __init__(self, sid, op, name, layer, parent, group):
        self.id, self.op, self.name, self.layer = sid, op, name, layer
        self.parent, self.start, self.end = parent, None, None
        self.py4j, self.group = 0, group


class Tracer:
    """In-memory span recorder for one closed-loop client (one thread
    opens spans; other threads may read ``current``)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.overhead_s = 0.0
        self.stream_runs: dict[str, int] = {}  # streaming runId -> span id
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    @property
    def current(self) -> Span | None:
        return self.stack[-1] if self.stack else None

    def open(self, name: str, layer: str, group: bool = True) -> Span:
        t0 = time.perf_counter()
        parent = self.current
        sid = len(self.spans)
        s = Span(sid, self.op, name, layer, parent.id if parent else None,
                 f"pb:{sid}" if group and self.sc is not None else None)
        self.spans.append(s)
        self.stack.append(s)
        if s.group:
            self.sc.setJobGroup(s.group, name)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.time()
        return s

    def close(self, s: Span) -> None:
        s.end = time.time()
        t0 = time.perf_counter()
        self.stack.pop()
        if s.group:
            parent = next((p for p in reversed(self.stack) if p.group), None)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, layer: str, group: bool = True):
        s = self.open(name, layer, group)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, layer: str, group: bool = True):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer, group):
                return fn(*a, **kw)

        return traced


def _rebind(orig, repl) -> None:
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, repl)


def install(tracer: Tracer) -> None:
    """Wrap every TARGET (and the expr column builders) in spans."""
    import importlib

    for mod, attr, name, layer in TARGETS:
        m = importlib.import_module(f"{PKG}.{mod}")
        orig = getattr(m, attr)
        _rebind(orig, tracer.wrap(orig, name, layer))
    expr = importlib.import_module(f"{PKG}.functions.expr")
    for attr in EXPR_FUNCS:
        orig = getattr(expr, attr)
        _rebind(orig, tracer.wrap(orig, f"functions.{attr}", "functions", group=False))

    # py4j round trips, charged to the innermost open span
    from py4j import clientserver

    send = clientserver.ClientServerConnection.send_command

    def counted(self_conn, command):
        s = tracer.current
        if s is not None:
            s.py4j += 1
        return send(self_conn, command)

    clientserver.ClientServerConnection.send_command = counted


def add_stream_listener(spark, tracer: Tracer) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            s = tracer.current
            with tracer._lock:
                tracer.stream_runs[str(event.runId)] = s.id if s else -1

        def onQueryProgress(self, event):
            p = event.progress
            with tracer._lock:
                tracer.progress.append({
                    "run": str(p.runId),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(_L())


# ------------------------------------------------------------ arithmetic


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of the
    intervals its direct children cover (clipped to the parent)."""
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], cur_end), min(c["end"], s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def innermost_at(spans: list[dict], t: float) -> dict | None:
    """The deepest span whose interval contains ``t`` (spans are
    properly nested: one client thread opens them)."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


# ------------------------------------------------------------ event log

SPARK_KEYS = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue
    return events


def spark_by_span(events: list[dict], spans: list[dict],
                  stream_runs: dict[str, int]) -> dict[int, dict]:
    """Per-span Spark counters from the event log. Each job goes to the
    span named by its job group (``pb:<id>``), the span that started its
    streaming query (group = runId), or else the innermost span open at
    its submission time; stages and tasks follow their job."""
    by_id = {s["id"]: s for s in spans}
    candidates = [s for s in spans if s["layer"] != "functions"]
    out: dict[int, dict] = defaultdict(lambda: dict.fromkeys(SPARK_KEYS, 0.0))
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_start: dict[int, float] = {}
    intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for e in events:
        if e.get("Event") == "SparkListenerJobEnd" and e.get("Job ID") in job_span:
            jid = e["Job ID"]
            intervals[job_span[jid]].append((job_start[jid], e.get("Completion Time", 0) / 1000.0))
        if e.get("Event") != "SparkListenerJobStart":
            continue
        props = e.get("Properties") or {}
        group = props.get("spark.jobGroup.id") or ""
        sid = None
        if group.startswith("pb:") and int(group[3:]) in by_id:
            sid = int(group[3:])
        elif group in stream_runs and stream_runs[group] in by_id:
            sid = stream_runs[group]
        # a job submitted while a deeper span is open belongs to it
        inner = innermost_at(candidates, e.get("Submission Time", 0) / 1000.0)
        if inner is not None and (sid is None or _is_descendant(by_id, inner["id"], sid)):
            sid = inner["id"]
        if sid is None:
            continue
        out[sid]["jobs"] += 1
        job_span[e["Job ID"]] = sid
        job_start[e["Job ID"]] = e.get("Submission Time", 0) / 1000.0
        for st in e.get("Stage IDs", []):
            stage_span[st] = sid
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerStageCompleted":
            sid = stage_span.get(e["Stage Info"]["Stage ID"])
            if sid is not None:
                out[sid]["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            sid = stage_span.get(e.get("Stage ID"))
            m = e.get("Task Metrics") or {}
            if sid is None or not m:
                continue
            d = out[sid]
            d["tasks"] += 1
            d["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            d["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            d["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            d["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid, ivs in intervals.items():
        out[sid]["job_wall_s"] = union_length(ivs)
    return out


def union_length(ivs: list[tuple[float, float]]) -> float:
    total, cur_end = 0.0, float("-inf")
    for a, b in sorted(ivs):
        a = max(a, cur_end)
        if b > a:
            total += b - a
            cur_end = b
    return total


def _is_descendant(by_id: dict, sid: int, ancestor: int) -> bool:
    while sid is not None:
        if sid == ancestor:
            return True
        sid = by_id[sid]["parent"]
    return False


def span_dicts(tracer: Tracer) -> list[dict]:
    now = time.time()
    return [
        {"id": s.id, "op": s.op, "name": s.name, "layer": s.layer, "parent": s.parent,
         "start": s.start, "end": s.end if s.end is not None else now, "py4j": s.py4j}
        for s in tracer.spans
    ]


def layer_table(spans: list[dict], spark_counts: dict[int, dict]) -> dict[str, dict]:
    """Where the time goes: self seconds, calls and Spark counters per
    layer, over spans that ran inside benchmark operations. The part of
    a span's self time covered by its own Spark jobs is charged to the
    ``spark`` layer."""
    st = self_times(spans)
    table: dict[str, dict] = {
        lay: {"self_s": 0.0, "calls": 0, **dict.fromkeys(SPARK_KEYS, 0.0)} for lay in LAYERS
    }
    for s in spans:
        if s["op"] is None:
            continue
        counts = spark_counts.get(s["id"], {})
        # time the span waited on its own Spark jobs is the runtime's
        in_spark = min(st[s["id"]], counts.get("job_wall_s", 0.0))
        row = table[s["layer"]]
        row["self_s"] += st[s["id"]] - in_spark
        table["spark"]["self_s"] += in_spark
        row["calls"] += 1
        for k in SPARK_KEYS:
            row[k] += counts.get(k, 0.0)
    return table
