"""Estate-wide right-to-be-forgotten (sinks/forget.py): one sweep
erases a document's vectors (tombstone + full compact), its gate
signatures (filtered fold), and every log row mentioning it — with the
documented consequence pinned: the gate can no longer reject the
forgotten doc's near-copies."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index as ti
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi
from reddit_apache_airflow_postgres_pipeline_spark.sinks.forget import forget
from reddit_apache_airflow_postgres_pipeline_spark.streaming import dedup_gate
from reddit_apache_airflow_postgres_pipeline_spark.streaming import signature_gate as sg

DSCHEMA = "doc_id long, text string"
NORMAL_A = "alpha beta gamma delta " * 10
NORMAL_B = "epsilon zeta eta theta " * 10


def _gate_sigs(spark, path):
    """The verified gate store's signature rows (k = 12)."""
    return sg.MODALITIES["text"].state.load(spark, path, {"num_hashes": 12})


def _write_file(spark, df, path, age_s=0.0):
    import time

    df.toPandas().to_parquet(path)
    if age_s:
        past = time.time() - age_s
        os.utime(path, (past, past))


def _estate(spark, tmp_path):
    """Text index over docs 1+2, verified-gate drain where doc 1 was
    admitted and its re-delivery rejected (so doc 1 exists as vectors,
    signatures, decision rows, and an attribution odoc)."""
    snapshot = spark.createDataFrame(
        [(1, NORMAL_A), (2, NORMAL_B)], DSCHEMA
    )
    ix = str(tmp_path / "ix")
    ti.write_text_index(snapshot, ix, kind="ivfpq", n_cells=2, m=4, n_codes=8)

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write_file(spark, snapshot, os.path.join(inbox, "f0.parquet"), age_s=20)
    _write_file(
        spark,
        spark.createDataFrame([(31, NORMAL_A)], DSCHEMA),  # re-delivery of 1
        os.path.join(inbox, "f1.parquet"),
        age_s=10,
    )
    gstate, gdec, gdup, gout = (
        str(tmp_path / "gstate"), str(tmp_path / "gdec"),
        str(tmp_path / "gdup"), str(tmp_path / "gout"),
    )
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, DSCHEMA, gout, gstate,
        str(tmp_path / "gckpt"), decisions_dir=gdec, dup_of_dir=gdup,
    )
    return {
        "ix": ix, "gstate": gstate, "gdec": gdec, "gdup": gdup, "gout": gout
    }


def test_forget_sweeps_every_estate_member(spark, tmp_path):
    roots = _estate(spark, tmp_path)

    # preconditions: doc 1 is everywhere
    assert 1 in {
        r["neighbor_id"] for r in vi.read_codes(spark, roots["ix"]).collect()
    }
    state = _gate_sigs(spark, roots["gstate"])
    assert 1 in {r["doc"] for r in state.collect()}
    dup = spark.read.parquet(roots["gdup"])
    assert {(r["doc"], r["odoc"]) for r in dup.collect()} == {(31, 1)}

    # pin the corpus BEFORE the sweep: the forget-vs-snapshot collision
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import snapshots as snap

    snap.create_snapshot(spark, roots["gout"], "pre-forget")

    audit = {
        r["name"]: r.asDict()
        for r in forget(spark, roots, [1]).collect()
    }
    assert audit["ix"]["action"] == "tombstone+full-compact"
    assert audit["ix"]["rows_removed"] == 1
    assert audit["gstate"]["action"] == "filtered-fold"
    assert audit["gstate"]["rows_removed"] == 1
    assert audit["gdec"]["rows_removed"] == 1  # doc 1's decision row
    assert audit["gdup"]["rows_removed"] == 1  # the (31, 1) blocker row
    assert audit["gout"]["action"] == "corpus-rewrite"
    assert audit["gout"]["rows_removed"] == 1  # the PAYLOAD itself

    # doc 1's text is gone from the admitted corpus; doc 2 survives in
    # its original batch dir (provenance preserved)
    corpus = spark.read.parquet(roots["gout"])
    assert {r["doc_id"] for r in corpus.collect()} == {2}
    # the pre-forget pin now FAILS its immutability audit on the
    # rewritten batch — erasure beats reproducibility, loudly
    ver = {
        int(r["batch_id"]): r["ok"]
        for r in snap.verify_snapshot(
            spark, roots["gout"], "pre-forget"
        ).collect()
    }
    assert ver[0] is False
    with pytest.raises(ValueError, match="immutability"):
        snap.read_snapshot(spark, roots["gout"], "pre-forget", verify=True)

    # erased everywhere: vectors gone (physically, not shadowed),
    # signatures gone, no log row mentions doc 1
    assert 1 not in {
        r["neighbor_id"] for r in vi.read_codes(spark, roots["ix"]).collect()
    }
    assert vi.index_stats(spark, roots["ix"], "ivfpq")["tombstones"] == 0
    assert 1 not in {
        r["doc"]
        for r in _gate_sigs(spark, roots["gstate"]).collect()
    }
    dec = spark.read.parquet(roots["gdec"])
    assert 1 not in {r["doc"] for r in dec.collect()}
    assert spark.read.parquet(roots["gdup"]).count() == 0

    # survivors untouched: doc 2 still served, still in state, log rows
    # and batch-dir layout preserved
    assert 2 in {
        r["neighbor_id"] for r in vi.read_codes(spark, roots["ix"]).collect()
    }
    assert {r["doc"] for r in dec.collect()} == {2, 31}
    assert dec.select("batch_id").distinct().count() == 2

    # the documented consequence: with doc 1's signatures forgotten, a
    # near-copy of it is now ADMISSIBLE (the gate cannot remember
    # content it was ordered to forget) — and doc 2's dups still reject
    probe = spark.createDataFrame(
        [(41, NORMAL_A), (42, NORMAL_B)], DSCHEMA
    )
    _, _, dec2 = dedup_gate.gate_batch_verified(
        probe, _gate_sigs(spark, roots["gstate"])
    )
    got = {r["doc"]: r["admitted"] for r in dec2.collect()}
    assert got == {41: True, 42: False}

    # the erased id can be re-added (tombstone was absorbed by the
    # full compaction)
    ti.append_text_to_index(
        spark.createDataFrame([(1, NORMAL_A)], DSCHEMA), roots["ix"],
        batch_id=99,
    )
    assert 1 in {
        r["neighbor_id"] for r in vi.read_codes(spark, roots["ix"]).collect()
    }


def test_forget_fails_loud(spark, tmp_path):
    roots = _estate(spark, tmp_path)
    with pytest.raises(ValueError, match="no ids"):
        forget(spark, roots, [])
    bogus = str(tmp_path / "bogus")
    os.makedirs(bogus)
    with pytest.raises(ValueError, match="no known layout"):
        forget(spark, {**roots, "bogus": bogus}, [1])
