"""Streaming count-min sketch maintenance: stream-vs-batch parity,
exactly-once counting across checkpointed restarts, and the
counting-state compaction contract — estimates unchanged by a fold,
including with crash-leftover subsumed dirs still present (the case the
dedup gate's set-state never has to worry about)."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import cms_build
from reddit_apache_airflow_postgres_pipeline_spark.streaming import cms_stream
from reddit_apache_airflow_postgres_pipeline_spark.streaming import drain

SCHEMA = "doc_id long, text string"


def _write(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


def _cells(df):
    return {(r["row"], r["col"]): r["c"] for r in df.collect()}


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
    return cms_build(occ, "tok", d=4, w=64)


def test_stream_equals_batch_and_survives_restart(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    rows = _all_rows()
    for i, chunk in enumerate([rows[:2], rows[2:4]]):
        _write(os.path.join(inbox, f"f{i}.parquet"), chunk)
    cms_stream.run_cms_available_now(
        spark, inbox, SCHEMA, state, ckpt, text_col="text", d=4, w=64
    )
    # second run: two more files; checkpoint must not recount f0/f1
    for i, chunk in enumerate([rows[4:5], rows[5:]], start=2):
        _write(os.path.join(inbox, f"f{i}.parquet"), chunk)
    cms_stream.run_cms_available_now(
        spark, inbox, SCHEMA, state, ckpt, text_col="text", d=4, w=64
    )
    assert _cells(cms_stream.read_sketch(spark, state)) == _cells(
        _batch_sketch(spark, rows)
    )


def test_retried_batch_does_not_double_count(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    # batch 0 commits; batch 1's FIRST attempt writes state then fails
    # before the checkpoint commit; the retry overwrites batch_id=1 and
    # read-side excludes nothing stale
    b0, b1 = rows[:3], rows[3:]
    for bid, chunk in [(0, b0), (1, b1)]:
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    # retry of batch 1 must not see its own failed attempt
    pre_retry = _cells(cms_stream.read_sketch(spark, state, before_batch=1))
    assert pre_retry == _cells(_batch_sketch(spark, b0))
    # the overwrite itself is idempotent
    _batch_sketch(spark, b1).write.mode("overwrite").parquet(
        os.path.join(state, "batch_id=1")
    )
    assert _cells(cms_stream.read_sketch(spark, state)) == _cells(
        _batch_sketch(spark, rows)
    )


def test_compaction_preserves_estimates_even_mid_crash(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    chunks = [rows[0:2], rows[2:4], rows[4:6]]
    for bid, chunk in enumerate(chunks):
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    expect = _cells(_batch_sketch(spark, rows))
    keep_copy = str(tmp_path / "copy_of_batch0")
    shutil.copytree(os.path.join(state, "batch_id=0"), keep_copy)

    cms_stream.compact_state(spark, state)
    dirs = drain.state_subdirs(state)
    assert set(dirs.values()) == {-1}  # everything folded into one gen
    assert _cells(cms_stream.read_sketch(spark, state)) == expect

    # crash-before-GC: a subsumed dir reappears beside the generation —
    # the manifest must keep it from double-counting
    shutil.copytree(keep_copy, os.path.join(state, "batch_id=0"))
    assert _cells(cms_stream.read_sketch(spark, state)) == expect

    # next compaction finishes the GC: the lingering subsumed dir is
    # DELETED (not just filtered on every read), and with a single
    # live generation left there is nothing to fold
    cms_stream.compact_state(spark, state)
    assert _cells(cms_stream.read_sketch(spark, state)) == expect
    assert set(drain.state_subdirs(state).values()) == {-1}
    assert not os.path.isdir(os.path.join(state, "batch_id=0"))


def test_second_generation_manifest_is_transitive(spark, tmp_path):
    state = str(tmp_path / "state")
    rows = _all_rows()
    for bid, chunk in enumerate([rows[0:2], rows[2:4]]):
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    cms_stream.compact_state(spark, state)  # gen -1 subsumes {0, 1}
    for bid, chunk in [(2, rows[4:5]), (3, rows[5:])]:
        _batch_sketch(spark, chunk).write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )
    cms_stream.compact_state(spark, state)  # gen -2 subsumes {-1, 2, 3}
    assert drain.subsumed_ids(state) == {-1, 0, 1, 2, 3}
    assert _cells(cms_stream.read_sketch(spark, state)) == _cells(
        _batch_sketch(spark, rows)
    )


def test_streaming_compaction_threshold(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    rows = _all_rows()
    for i, r in enumerate(rows):
        _write(os.path.join(inbox, f"f{i}.parquet"), [r])
    cms_stream.run_cms_available_now(
        spark, inbox, SCHEMA, state, ckpt,
        text_col="text", d=4, w=64, compact_after_dirs=2,
    )
    live = [
        i
        for i in drain.state_subdirs(state).values()
        if i not in drain.subsumed_ids(state)
    ]
    assert len(live) <= 4  # folds kept the live-dir count bounded
    assert _cells(cms_stream.read_sketch(spark, state)) == _cells(
        _batch_sketch(spark, rows)
    )
