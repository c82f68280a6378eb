"""Tests of the benchmark's own code: generators, the reference model,
the span self-time and Spark attribution arithmetic, and the metric
schema of BENCHMARK.json. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layertrace as tr  # noqa: E402
import model  # noqa: E402
import run  # noqa: E402

BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


# ------------------------------------------------------------ generators


def test_listing_rows_deterministic_with_repeated_keys():
    a = gen.listing_rows(5, 0, 0)
    assert a == gen.listing_rows(5, 0, 0)
    assert a != gen.listing_rows(6, 0, 0)
    assert len({r["id"] for r in a}) == gen.LISTING_ROWS  # one page, distinct posts
    ids = [{r["id"] for r in gen.listing_rows(5, 0, f)} for f in range(gen.FETCHES_PER_CYCLE)]
    # Zipf popularity: re-fetches within the hour share most of the hot keys
    assert len(ids[0] & ids[1]) > gen.LISTING_ROWS // 4


def test_titles_hit_every_sanitize_rule():
    titles = [r["title"] for c in range(3) for f in range(gen.FETCHES_PER_CYCLE)
              for r in gen.listing_rows(1, c, f)]
    text = [t for t in titles if t]
    assert None in titles and "" in titles
    assert any("\n" in t for t in text)
    assert any("\t" in t and " " in t for t in text)
    assert any(t != t.strip() for t in text)
    assert any(re.search(model._EMAIL, t) for t in text)
    assert any(re.search(model._DIGITS, t) for t in text)
    assert any(len(t) > 300 for t in text)
    assert model.sanitize("a\nb  c@d.io 12345678 " + "x" * 400) .startswith(
        "a b [redacted-email] [redacted-number] x")
    assert len(model.sanitize("y" * 400)) == 300


def test_side_files_cover_both_legacy_variants_and_bad_files():
    files = dict(gen.side_files(3, gen.BACKLOG_EVERY - 1))
    assert files == dict(gen.side_files(3, gen.BACKLOG_EVERY - 1))
    headers = {d.split(b"\n", 1)[0] for d in files.values() if d}
    assert b"id,author,title,score,num_comments,created_at,permalink" in headers
    assert b"post_id,author,title,score,num_comments,created_at,url" in headers
    assert sum(1 for d in files.values() if model.read_csv_bytes(d) is None) == 2
    assert any("backlog" in n for n in files)
    assert not any("backlog" in n for n, _ in gen.side_files(3, 0))
    assert all(n.startswith("italytravel_") for n in files)
    # legacy titles keep the odd inner characters but no field-end
    # whitespace, which the program's CSV sink would trim
    titles = [r["title"] for c in range(4) for d in dict(gen.side_files(3, c)).values()
              for r in model.read_csv_bytes(d) or []]
    assert titles and all(t == t.strip() for t in titles)
    assert any("\n" in t for t in titles) and any(len(t) > 300 for t in titles)


def test_etl_inputs_hash_depends_on_seed_only():
    assert gen.etl_inputs_sha256(9) == gen.etl_inputs_sha256(9)
    assert gen.etl_inputs_sha256(9) != gen.etl_inputs_sha256(10)


def _bins(lengths):
    b = np.minimum(np.asarray(lengths) // 20, 9)
    return np.bincount(b, minlength=10) / len(b)


def _psi(ref, cur, eps=1e-4):
    p, q = np.maximum(ref, eps), np.maximum(cur, eps)
    return float(np.sum((q - p) * np.log(q / p)))


def test_ingest_files_track_the_snapshot_and_plant_duplicates():
    snap = gen.documents_table(2).column("text").to_pylist()
    lengths = [len(t.split()) for t in snap]
    vocab = sorted({w for t in snap for w in t.split()})
    earlier = [(7, "a b c d e f g h i j")]
    d0 = gen.ingest_files(2, 0, lengths, vocab, [])
    assert d0 == gen.ingest_files(2, 0, lengths, vocab, [])
    assert len(d0) == gen.FILES_PER_DRAIN
    assert all(len(f["rows"]) == gen.DOCS_PER_FILE for f in d0)
    drifted = [f for f in d0 if f["kind"] == "drifted"]
    normal = [f for f in d0 if f["kind"] == "normal"]
    assert len(drifted) == gen.DRIFTED_PER_DRAIN
    for f in drifted:
        assert all(len(t.split()) <= 4 for _, t in f["rows"])
        assert _psi(_bins(lengths), _bins([len(t.split()) for _, t in f["rows"]])) > 0.25
    # stratified lengths, planted copies included, keep every ordinary
    # file well under the gate's 0.25
    earlier_docs = [(d, t) for d, t in normal[0]["rows"][5:15]]
    for seed in range(8):
        for drain in range(3):
            for f in gen.ingest_files(seed, drain, lengths, vocab, earlier_docs if drain else []):
                if f["kind"] == "normal":
                    assert _psi(_bins(lengths), _bins([len(t.split()) for _, t in f["rows"]])) < 0.1
    for f in normal:
        texts = dict(f["rows"])
        for doc, (kind, of) in f["planted"].items():
            assert kind == "exact" and texts[doc] == texts[of] and doc > of
    d1 = gen.ingest_files(2, 1, lengths, vocab, earlier + earlier_docs)
    kinds = {k for f in d1 for k, _ in f["planted"].values()}
    assert kinds == {"exact", "near"}
    # the drifted file's position is drawn per drain
    assert len({tuple(f["kind"] for f in gen.ingest_files(2, d, lengths, vocab, []))
                for d in range(8)}) > 1
    ids = [d for f in d0 + d1 for d, _ in f["rows"]]
    assert len(ids) == len(set(ids)) and min(ids) >= gen.ID_BASE  # disjoint from the snapshot


# ------------------------------------------------------------ reference model


def test_model_first_wins_then_upserts_update_columns_only():
    ref = model.Reference("s", "ItalyTravel")
    row = {"thing_key": "k1", "id": "i", "score": "1", "title_sanitized": "first",
           "author_hash": "a1", "created_at": "t0"}
    dup = dict(row, score="9", title_sanitized="second", author_hash="a2")
    ref.load(ref.combine({"f_b.csv": [dup], "f_a.csv": [row]}))  # file order, not arrival
    assert ref.target["k1"]["title_sanitized"] == "first"
    ref.load(ref.combine({"f_c.csv": [dict(dup, created_at="t9")]}))
    t = ref.target["k1"]
    assert (t["score"], t["title_sanitized"]) == ("9", "second")  # updated
    assert (t["author_hash"], t["created_at"]) == ("a1", "t0")  # immutable on conflict


def test_diff_tables_reports_each_kind_of_difference_with_its_count():
    want = {k: {"thing_key": k, "score": "1", "title_sanitized": " t "} for k in "abcd"}
    got = {k: dict(v) for k, v in want.items() if k != "d"}
    got["e"] = {"thing_key": "e"}
    for k in "ab":
        got[k]["title_sanitized"] = "t"
    got["c"]["score"] = None
    assert model.diff_tables(want, {k: dict(v) for k, v in want.items()}) == []
    d = model.diff_tables(want, got)
    assert len(d) == 4
    assert d[0].startswith("1 keys only in the model") and d[1].startswith("1 keys only in the program")
    assert d[2].startswith("col score: 1 keys differ") and d[3].startswith("col title_sanitized: 2 keys")


def test_model_normalizes_both_legacy_variants_to_one_key():
    a = model.normalize({"id": "abc", "permalink": " HTTPS://X/Y// ", "score": "3.5"}, "s", "d")
    b = model.normalize({"post_id": "abc", "url": "https://x/y", "score": " 12 "}, "s", "d")
    assert a["thing_key"] == b["thing_key"] and a["permalink"] == "https://x/y"
    assert (a["score"], b["score"], a["subreddit"]) == ("0", "12", "d")
    assert model.normalize({"id": "", "permalink": ""}, "s", "d") is None


# ------------------------------------------------------------ span arithmetic


def _span(i, parent, start, end, layer="bench", op=0, name=None):
    return {"id": i, "op": op, "name": name or f"s{i}", "layer": layer, "parent": parent,
            "start": start, "end": end, "py4j": 0}


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0, "runner"),
        _span(2, 1, 2.0, 3.0, "plans"),
        _span(3, 0, 3.0, 6.0, "sinks"),  # overlaps span 1
        _span(4, 0, 9.0, 12.0, "sources"),  # runs past its parent's end
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover [1,6] and [9,10]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0) and st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(3.0)
    # self times of a properly nested tree add up to the root's wall
    nested = spans[:3]
    assert sum(tr.self_times(nested).values()) == pytest.approx(10.0)


def test_layer_table_moves_job_wall_to_spark():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 1.0, 3.0, "operators")]
    counts = {1: dict(dict.fromkeys(tr.SPARK_KEYS, 0.0), jobs=2, job_wall_s=1.5)}
    t = tr.layer_table(spans, counts)
    assert t["operators"]["self_s"] == pytest.approx(0.5)
    assert t["spark"]["self_s"] == pytest.approx(1.5)
    assert t["bench"]["self_s"] == pytest.approx(2.0)
    assert t["operators"]["jobs"] == 2
    assert sum(r["self_s"] for r in t.values()) == pytest.approx(4.0)


def test_spark_counters_follow_group_stream_run_and_time():
    spans = [_span(0, None, 100.0, 110.0), _span(1, 0, 101.0, 104.0, "plans"),
             _span(2, 0, 105.0, 109.0, "streaming")]
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 102000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 106000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "run-7"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 104500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 103000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 108000},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 4e8, "JVM GC Time": 20,
            "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            "Memory Bytes Spilled": 6, "Disk Bytes Spilled": 0}},
    ]
    out = tr.spark_by_span(ev, spans, {"run-7": 2})
    assert out[1]["jobs"] == 1 and out[1]["job_wall_s"] == pytest.approx(1.0)
    assert out[2]["jobs"] == 1 and out[2]["stages"] == 1 and out[2]["tasks"] == 1
    assert out[2]["executor_cpu_s"] == pytest.approx(0.4)
    assert out[2]["shuffle_read_bytes"] == 7 and out[2]["spill_bytes"] == 6
    assert out[0]["jobs"] == 1  # ungrouped job between children: the open root


def test_tail_uses_highest_percentile_with_ten_samples_beyond():
    assert run.tail(list(range(19))) is None
    t = run.tail([float(x) for x in range(40)])
    assert t["q"] == 0.75 and t["n"] == 40


# ------------------------------------------------------------ metric schema

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_schema():
    with open(BENCH) as fh:
        b = json.load(fh)
    assert os.path.getsize(BENCH) <= 64 * 1024
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"] and b["command"][1].startswith("perfbench/")
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"]] + \
        [m["name"] for m in b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher") and 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    from workloads import WORKLOADS

    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


def _fake_traced_run(tmp_path):
    tracer = tr.Tracer()
    tracer.spans = []
    for i, (name, layer, parent, a, z) in enumerate([
        ("op.drain", "bench", None, 0.0, 5.0),
        ("streaming.drift_gate", "streaming", 0, 0.5, 2.0),
        ("sinks.text_index_append", "sinks", 0, 2.0, 3.0),
    ]):
        s = tr.Span(i, 0, name, layer, parent, None)
        s.start, s.end = a, z
        tracer.spans.append(s)
    tracer.stream_runs = {"r": 1}
    tracer.progress = [{"run": "r", "batch": 0, "rows": 3,
                        "ms": {"triggerExecution": 900, "addBatch": 600}}]

    class W:
        name = "ingest_drain"
        extra = {"admit_ratio": 0.5, "state_bytes": {"cms": 10}}

    detail = {"session_s": 1.0, "stored_bytes_per_input_byte": 2.0, "timed_s": 5.0,
              "latency": {}, "host": {"steal_cores_avg": None, "load_start": [0.5, 0, 0]}}
    return run.per_layer(tr, tracer, W(), str(tmp_path), detail)


def test_run_emits_exactly_the_declared_metrics(tmp_path):
    with open(BENCH) as fh:
        b = json.load(fh)
    metrics, report = _fake_traced_run(tmp_path)
    want = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert metrics["streaming.start_stop_s"]["value"] == pytest.approx(1.5 - 0.9)
    assert metrics["streaming.trigger_ms"]["value"] == 900
    assert all(math.isfinite(v["value"]) for v in metrics.values())
    assert set(report["layers"]) == set(tr.LAYERS)
    e2e = run.end_to_end(3.0, 10, 8.0, 100.0)
    assert {k: v["unit"] for k, v in e2e.items()} == {m["name"]: m["unit"] for m in b["end_to_end"]}
    assert e2e["cpu_ms_per_item"]["value"] == 800.0 and e2e["setup_s"]["value"] == 3.0


def test_tree_cpu_counts_child_processes():
    import subprocess

    before = run._tree_cpu_s(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.3: pass\ntime.sleep(2)"])
    try:
        time.sleep(1.2)
        assert run._tree_cpu_s(os.getpid()) - before >= 0.25
    finally:
        child.kill()
        child.wait()


def test_spec_maps_every_layer_metric_to_declared_names():
    with open(os.path.join(HERE, "spec.json")) as fh:
        spec = json.load(fh)
    with open(BENCH) as fh:
        b = json.load(fh)
    per_layer = {m["name"] for m in b["per_layer"]}
    e2e = {m["name"] for m in b["end_to_end"]}
    assert set(spec["workloads"]) == {w["name"] for w in b["workloads"]}
    assert set(spec["workloads"]) == set(__import__("workloads").WORKLOADS)
    for row in spec["layer_map"]:
        assert row["workload"] in spec["workloads"]
        assert set(row["per_layer"]) <= per_layer, row
        assert set(row["end_to_end"]) <= e2e, row
    mapped = {n for row in spec["layer_map"] for n in row["per_layer"]}
    assert mapped == per_layer
