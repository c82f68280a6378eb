"""Streaming quantile sketch on the shared counting-state store:
stream-vs-batch parity, checkpointed restart, and the manifest
compaction contract (counts must not double under crash-leftover dirs
— the property counting_state.py exists to guarantee)."""

from __future__ import annotations

import os
import shutil

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import (
    qsketch_build,
    qsketch_quantiles,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import drain
from reddit_apache_airflow_postgres_pipeline_spark.streaming import qsketch_stream

SCHEMA = "event_id long, value double"
LO, HI, BINS = 0.0, 100.0, 20


def _write(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "value": pa.array([r[1] for r in rows], pa.float64()),
            }
        ),
        path,
    )


def _bins(df):
    return {r["bin"]: r["n"] for r in df.collect()}


def _all_rows():
    return [(i, float((i * 37) % 100)) for i in range(60)]


def _batch_sketch(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return qsketch_build(df, "value", LO, HI, BINS)


def test_stream_equals_batch_restart_and_quantiles(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    rows = _all_rows()
    for i, chunk in enumerate([rows[:20], rows[20:40]]):
        _write(os.path.join(inbox, f"f{i}.parquet"), chunk)
    qsketch_stream.run_qsketch_available_now(
        spark, inbox, SCHEMA, state, ckpt, "value", LO, HI, BINS
    )
    _write(os.path.join(inbox, "f2.parquet"), rows[40:])
    qsketch_stream.run_qsketch_available_now(
        spark, inbox, SCHEMA, state, ckpt, "value", LO, HI, BINS
    )
    sk = qsketch_stream.read_sketch(spark, state)
    assert _bins(sk) == _bins(_batch_sketch(spark, rows))
    # the folded state is a drop-in qsketch relation
    med = {
        r["q"]: r["est"]
        for r in qsketch_quantiles(sk, [0.5], LO, HI, BINS).collect()
    }
    assert 30.0 <= med[0.5] <= 70.0  # roughly uniform over [0, 100)


def test_compaction_manifest_prevents_double_counting(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    for bid, chunk in enumerate([rows[:20], rows[20:40], rows[40:]]):
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    expect = _bins(_batch_sketch(spark, rows))
    keep = str(tmp_path / "copy0")
    shutil.copytree(os.path.join(state, "batch_id=0"), keep)

    qsketch_stream.compact_state(spark, state)
    assert set(drain.state_subdirs(state).values()) == {-1}
    assert _bins(qsketch_stream.read_sketch(spark, state)) == expect

    # crash-before-GC: the folded dir reappears — the manifest must
    # keep the SUM-merged counts from doubling
    shutil.copytree(keep, os.path.join(state, "batch_id=0"))
    assert _bins(qsketch_stream.read_sketch(spark, state)) == expect
    qsketch_stream.compact_state(spark, state)
    assert not os.path.isdir(os.path.join(state, "batch_id=0"))
    assert _bins(qsketch_stream.read_sketch(spark, state)) == expect


def test_retry_excludes_failed_attempt(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    b0, b1 = rows[:30], rows[30:]
    for bid, chunk in [(0, b0), (1, b1)]:
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    pre = _bins(qsketch_stream.read_sketch(spark, state, before_batch=1))
    assert pre == _bins(_batch_sketch(spark, b0))


def test_invalid_geometry_is_refused_before_the_marker(spark, tmp_path):
    """A geometry every batch would reject must not claim the state dir:
    the drain refuses it before stamping, so the corrected call on the
    same state dir drains normally."""
    import pytest

    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        counting_state as cs,
    )

    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    rows = _all_rows()
    _write(os.path.join(inbox, "f0.parquet"), rows)
    for lo, hi, bins in [(5.0, 1.0, BINS), (LO, HI, 0)]:
        with pytest.raises(ValueError):
            qsketch_stream.run_qsketch_available_now(
                spark, inbox, SCHEMA, state, ckpt, "value", lo, hi, bins
            )
        assert not os.path.exists(os.path.join(state, cs.META))
    qsketch_stream.run_qsketch_available_now(
        spark, inbox, SCHEMA, state, ckpt, "value", LO, HI, BINS
    )
    assert _bins(qsketch_stream.read_sketch(spark, state)) == _bins(
        _batch_sketch(spark, rows)
    )
