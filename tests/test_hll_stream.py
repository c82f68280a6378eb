"""Streaming HLL maintenance: stream-vs-batch parity against
sketches.hll_build/hll_merge, exactly-once across checkpointed
restarts, retry exclusion, and the manifest-free compaction contract —
estimates unchanged by a fold even with crash-leftover folded dirs
still present (max-merge absorbs duplicates, the property the CMS
stream's counting state needs a manifest to fake)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import (
    hll_build,
    hll_estimate,
    hll_merge,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import drain
from reddit_apache_airflow_postgres_pipeline_spark.streaming import hll_stream

SCHEMA = "doc_id long, text string"


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


def _regs(df):
    return {(r["register"]): r["maxrank"] for r in df.collect()}


def _all_rows():
    return [
        (1, "alpha beta gamma"),
        (2, "beta beta delta"),
        (3, "gamma alpha alpha epsilon"),
        (4, "delta"),
        (5, "zeta eta theta alpha"),
        (6, "beta zeta zeta"),
    ]


def _batch_sketch(spark, rows):
    docs = spark.createDataFrame(rows, SCHEMA)
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens

    occ = docs.select(F.explode(tokens("text")).alias("tok"))
    return hll_build(occ, "tok", p=5)


def test_stream_equals_batch_and_survives_restart(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    rows = _all_rows()
    for i, chunk in enumerate([rows[:2], rows[2:4]]):
        _write(os.path.join(inbox, f"f{i}.parquet"), chunk)
    hll_stream.run_hll_available_now(
        spark, inbox, SCHEMA, state, ckpt, text_col="text", p=5
    )
    # second run: two more files; checkpoint must not re-ingest f0/f1
    # (though max-merge would forgive it — the checkpoint is still the
    # contract)
    for i, chunk in enumerate([rows[4:5], rows[5:]], start=2):
        _write(os.path.join(inbox, f"f{i}.parquet"), chunk)
    hll_stream.run_hll_available_now(
        spark, inbox, SCHEMA, state, ckpt, text_col="text", p=5
    )
    assert _regs(hll_stream.read_sketch(spark, state)) == _regs(
        _batch_sketch(spark, rows)
    )
    # the streamed sketch estimates like the batch one (8 distinct toks)
    est = hll_estimate(hll_stream.read_sketch(spark, state), p=5).collect()
    assert abs(est[0]["est"] - 8) / 8 < 0.6


def test_retried_batch_excludes_its_failed_attempt(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    b0, b1 = rows[:3], rows[3:]
    for bid, chunk in [(0, b0), (1, b1)]:
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    pre_retry = _regs(hll_stream.read_sketch(spark, state, before_batch=1))
    assert pre_retry == _regs(_batch_sketch(spark, b0))
    # the overwrite itself is idempotent
    _batch_sketch(spark, b1).write.mode("overwrite").parquet(
        os.path.join(state, "batch_id=1")
    )
    assert _regs(hll_stream.read_sketch(spark, state)) == _regs(
        _batch_sketch(spark, rows)
    )


def test_compaction_is_crash_safe_without_a_manifest(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    chunks = [rows[0:2], rows[2:4], rows[4:6]]
    for bid, chunk in enumerate(chunks):
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    expect = _regs(_batch_sketch(spark, rows))
    keep_copy = str(tmp_path / "copy_of_batch0")
    shutil.copytree(os.path.join(state, "batch_id=0"), keep_copy)

    hll_stream.compact_state(spark, state)
    assert set(drain.state_subdirs(state).values()) == {-1}
    assert _regs(hll_stream.read_sketch(spark, state)) == expect

    # crash-before-GC: a folded dir reappears beside the generation —
    # max-merge absorbs it with NO manifest/exclusion machinery
    shutil.copytree(keep_copy, os.path.join(state, "batch_id=0"))
    assert _regs(hll_stream.read_sketch(spark, state)) == expect

    # the next compaction folds the leftover away again
    hll_stream.compact_state(spark, state)
    assert _regs(hll_stream.read_sketch(spark, state)) == expect
    assert not os.path.isdir(os.path.join(state, "batch_id=0"))


def test_stream_matches_hll_merge_of_per_batch_sketches(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    a, b = rows[:3], rows[3:]
    for bid, chunk in [(0, a), (1, b)]:
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    merged = hll_merge(_batch_sketch(spark, a), _batch_sketch(spark, b))
    assert _regs(hll_stream.read_sketch(spark, state)) == _regs(merged)


def test_grouped_state_and_compaction(spark, tmp_path):
    state = str(tmp_path / "state")
    docs = spark.createDataFrame(
        [(f"g{i % 2}", f"u{i % 7}") for i in range(40)], "g string, k string"
    )
    halves = [docs.filter("k < 'u3'"), docs.filter("k >= 'u3'")]
    for bid, part in enumerate(halves):
        hll_build(part, "k", ["g"], p=5).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    expect = {
        (r["g"], r["register"]): r["maxrank"]
        for r in hll_build(docs, "k", ["g"], p=5).collect()
    }
    got = {
        (r["g"], r["register"]): r["maxrank"]
        for r in hll_stream.read_sketch(spark, state, ["g"]).collect()
    }
    assert got == expect
    hll_stream.compact_state(spark, state, ["g"])
    got2 = {
        (r["g"], r["register"]): r["maxrank"]
        for r in hll_stream.read_sketch(spark, state, ["g"]).collect()
    }
    assert got2 == expect


def test_streaming_compaction_threshold(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    rows = _all_rows()
    for i, r in enumerate(rows):
        _write(os.path.join(inbox, f"f{i}.parquet"), [r])
    hll_stream.run_hll_available_now(
        spark, inbox, SCHEMA, state, ckpt,
        text_col="text", p=5, compact_after_dirs=2,
    )
    assert len(drain.state_subdirs(state)) <= 4
    assert _regs(hll_stream.read_sketch(spark, state)) == _regs(
        _batch_sketch(spark, rows)
    )


def test_stale_hash_width_store_is_rejected(spark, tmp_path):
    # a store persisted by the pre-60-bit code passes the runtime
    # register/rank guard (32-bit geometry is a subset) but hashes keys
    # to different registers — only the _meta.json marker catches it
    import json

    import pytest

    from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs

    state = str(tmp_path / "state")
    _batch_sketch(spark, _all_rows()).write.mode("overwrite").parquet(
        os.path.join(state, "batch_id=0")
    )
    with open(os.path.join(state, "_meta.json"), "w") as f:
        json.dump({"format": "hll-registers", "hash_bits": 32, "p": 5}, f)
    with pytest.raises(ValueError, match="format mismatch"):
        hll_stream.read_sketch(spark, state, p=5)
    # and a fresh writer refuses to extend it
    with pytest.raises(ValueError, match="format mismatch"):
        cs.HLL.stamp(state, {"hash_bits": 60, "p": 5})
    # matching marker reads fine
    with open(os.path.join(state, "_meta.json"), "w") as f:
        json.dump(cs.HLL.meta({"hash_bits": 60, "p": 5}), f)
    assert _regs(hll_stream.read_sketch(spark, state, p=5)) == _regs(
        _batch_sketch(spark, _all_rows())
    )


def test_int_group_column_drain_matches_string_keyed_drain(spark, tmp_path):
    """Group columns are pinned to string in the store: an int-keyed
    drain casts them where the batch is written, so its store reads,
    compacts and estimates exactly like the string-keyed drain's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _sketch(state):
        return {
            (r["g"], r["register"]): r["maxrank"]
            for r in hll_stream.read_sketch(spark, state, ["g"]).collect()
        }

    def _estimates(state):
        sk = hll_stream.read_sketch(spark, state, ["g"])
        return {r["g"]: r["est"] for r in hll_estimate(sk, ["g"], p=5).collect()}

    got = {}
    for typ, arrow in [("int", pa.int32()), ("string", pa.string())]:
        inbox = str(tmp_path / typ / "inbox")
        state = str(tmp_path / typ / "state")
        os.makedirs(inbox)
        for f in range(3):
            ids = range(f * 10, f * 10 + 10)
            g = [i % 2 for i in ids]
            pq.write_table(
                pa.table({
                    "g": pa.array(g if typ == "int" else [str(x) for x in g], arrow),
                    "k": pa.array([f"u{i % 7}" for i in ids], pa.string()),
                }),
                os.path.join(inbox, f"f{f}.parquet"),
            )
        hll_stream.run_hll_available_now(
            spark, inbox, f"g {typ}, k string", state, str(tmp_path / typ / "ckpt"),
            key_col="k", group_cols=["g"], p=5, compact_after_dirs=1,
        )
        drained = (_sketch(state), _estimates(state))
        hll_stream.compact_state(spark, state, ["g"])
        assert len(drain.state_subdirs(state)) == 1
        got[typ] = drained + (_sketch(state), _estimates(state))
    assert got["int"] == got["string"]
    assert got["int"][0] == got["int"][2] and set(got["int"][1]) == {"0", "1"}
