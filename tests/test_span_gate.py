"""Streaming span gate (streaming/span_gate.py): single-batch equality
with the batch operator, multi-batch first-wins parity against a
sequential dedup_spans replay, restart idempotence, and the state
store's format marker."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import dedup_spans
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming import span_gate

SCHEMA = "doc_id long, text string"
K = 4

# the duplicated passage (>= K tokens) planted across batches
PASSAGE = "lorem ipsum dolor sit amet"
UNIQUE_A = "alpha beta gamma delta epsilon zeta"
UNIQUE_B = "one two three four five six seven"


def _write(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        path,
    )


def _run(spark, inbox, work):
    span_gate.run_span_gate_available_now(
        spark,
        inbox,
        SCHEMA,
        os.path.join(work, "out"),
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        k=K,
    )


def _out(spark, work):
    return {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in spark.read.parquet(
            os.path.join(work, "out", "batch_id=*")
        ).collect()
    }


def test_single_batch_equals_batch_operator(spark, tmp_path):
    """One drained file = one micro-batch with empty prior state — the
    gate must be EXACTLY dedup_spans on that corpus (both copies of the
    in-batch duplicated passage lose their spans)."""
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    os.makedirs(inbox)
    rows = [
        (1, f"{UNIQUE_A} {PASSAGE}"),
        (2, f"{PASSAGE} {UNIQUE_B}"),
        (3, UNIQUE_B + " eight"),
    ]
    _write(os.path.join(inbox, "f0.parquet"), rows)
    _run(spark, inbox, work)
    want = {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in dedup_spans(
            spark.createDataFrame(rows, SCHEMA), k=K
        ).collect()
    }
    assert _out(spark, work) == want
    # both in-batch copies dropped their spans
    assert want[1][1] > 0 and want[2][1] > 0


def test_multi_batch_first_wins_and_sequential_replay_parity(spark, tmp_path):
    """Across batches the gate is first-wins: the batch-0 copy of the
    passage (below the bar when flushed) survives intact; the batch-1
    and batch-2 copies are dropped. The whole stream must equal the
    sequential batch replay (gate_batch folding counts batch by
    batch)."""
    import time

    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    os.makedirs(inbox)
    batches = [
        [(1, f"{UNIQUE_A} {PASSAGE}")],
        [(2, f"{PASSAGE} {UNIQUE_B}")],
        [(3, f"{UNIQUE_B} {PASSAGE} tail")],
    ]
    for i, rows in enumerate(batches):
        path = os.path.join(inbox, f"f{i}.parquet")
        _write(path, rows)
        past = time.time() - (len(batches) - i) * 10
        os.utime(path, (past, past))
    _run(spark, inbox, work)
    got = _out(spark, work)

    # first-wins: doc 1 untouched, docs 2 and 3 lose the passage spans
    assert got[1][1] == 0 and got[1][2] == f"{UNIQUE_A} {PASSAGE}"
    assert got[2][1] > 0 and PASSAGE not in got[2][2]
    assert got[3][1] > 0 and PASSAGE not in got[3][2]
    # UNIQUE_B appears in batches 1 and 2: its grams reach the bar at
    # batch 2, so doc 2 keeps UNIQUE_B but doc 3 loses it too
    assert UNIQUE_B in got[2][2] and UNIQUE_B not in got[3][2]

    # sequential replay parity: same numbers from the pure batch form
    state = None
    want = {}
    for rows in batches:
        bdf = spark.createDataFrame(rows, SCHEMA)
        prior = (
            state
            if state is not None
            else spark.createDataFrame([], "gram string, c long")
        )
        cleaned, counts = span_gate.gate_batch(bdf, prior, k=K)
        for r in cleaned.collect():
            want[r["doc_id"]] = (
                r["n_tokens"],
                r["dropped_tokens"],
                r["text_clean"],
            )
        merged = prior.unionAll(counts)
        state = merged.groupBy("gram").agg(F.sum("c").alias("c"))
        state = state.localCheckpoint()
    assert got == want

    # the state store holds the raw corpus-wide gram counts
    total = (
        span_gate.read_gram_counts(spark, os.path.join(work, "state"))
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    n_grams = sum(
        max(len(t.split()) - K + 1, 0) for rows in batches for _, t in rows
    )
    assert total == n_grams


def test_restart_is_idempotent_and_marker_guards(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    os.makedirs(inbox)
    _write(os.path.join(inbox, "f0.parquet"), [(1, f"{PASSAGE} {PASSAGE}")])
    _run(spark, inbox, work)
    before = _out(spark, work)
    assert before[1][1] > 0  # self-repeat flagged within one doc
    # re-run: checkpoint drains nothing, outputs unchanged
    _run(spark, inbox, work)
    assert _out(spark, work) == before
    state = os.path.join(work, "state")
    assert cs.live_dir_count(state) == 1
    # a store stamped with k=4 refuses a k=8 writer
    import pytest

    with pytest.raises(ValueError, match="format mismatch"):
        cs.SPAN_GRAMS.stamp(state, {"k": 8, "min_occurrences": 2})


def test_stream_equals_online_relational_form(spark, tmp_path):
    """The gate drained over the registry replay's 3-batch hash split
    must equal curation.dedup_spans_online / q_dedup_spans_online on
    the same corpus — streaming state == one relational window."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_curation import (
        _SPAN_B,
        _SPAN_K,
        q_dedup_spans_online,
    )

    sf = "/root/testdata/sf0.001"
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    os.makedirs(inbox)
    want = {
        r["doc_id"]: (r["b"], r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in q_dedup_spans_online(spark, sf).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    by_b: dict[int, list] = {b: [] for b in range(_SPAN_B)}
    for doc_id, (b, *_rest) in sorted(want.items()):
        by_b[b].append((doc_id, docs[doc_id]))
    for b in range(_SPAN_B):
        path = os.path.join(inbox, f"f{b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in by_b[b]], pa.int64()),
                    "text": pa.array([r[1] for r in by_b[b]], pa.string()),
                }
            ),
            path,
        )
        past = time.time() - (_SPAN_B - b) * 10
        os.utime(path, (past, past))
    span_gate.run_span_gate_available_now(
        spark,
        inbox,
        SCHEMA,
        os.path.join(work, "out"),
        os.path.join(work, "state"),
        os.path.join(work, "ckpt"),
        k=_SPAN_K,
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in spark.read.parquet(
            os.path.join(work, "out", "batch_id=*")
        ).collect()
    }
    assert got == {d: rest[1:] for d, rest in want.items()}
