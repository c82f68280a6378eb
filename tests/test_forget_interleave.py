"""Erasure under an ACTIVE stream (r12 verdict #5): a drain micro-batch
committing MID-SWEEP must not resurrect a forgotten document anywhere in
the estate. forget() converges by re-sweeping until a full pass removes
nothing — the interleaved batch's decision/attribution rows mentioning a
forgotten id (and any re-delivered payload) are erased by the follow-up
pass, and the sweep fails loudly if writers outpace it."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi
from reddit_apache_airflow_postgres_pipeline_spark.sinks.forget import forget
from reddit_apache_airflow_postgres_pipeline_spark.streaming import dedup_gate
from reddit_apache_airflow_postgres_pipeline_spark.streaming import signature_gate as sg

DSCHEMA = "doc_id long, text string"
NORMAL_A = "alpha beta gamma delta " * 10
NORMAL_B = "epsilon zeta eta theta " * 10
NORMAL_C = "iota kappa lambda mu " * 10


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
    """The verified-gate estate from test_forget: doc 1 admitted, its
    re-delivery (doc 31) rejected with odoc=1 attribution."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import (
        text_index as ti,
    )

    snapshot = spark.createDataFrame([(1, NORMAL_A), (2, NORMAL_B)], DSCHEMA)
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
    return inbox, {
        "ix": ix, "gstate": gstate, "gdec": gdec, "gdup": gdup, "gout": gout
    }


def test_drain_interleaved_mid_sweep_cannot_resurrect(spark, tmp_path):
    inbox, roots = _estate(spark, tmp_path)
    fired = {"n": 0}

    def interleave(name: str, path: str) -> None:
        """After the FIRST store is swept, a drain micro-batch commits:
        a re-delivery of forgotten doc 1's content (doc 51) — still
        REJECTED, because the state fold hasn't happened yet, writing a
        fresh dup_of row that mentions the forgotten id — plus doc 1
        itself re-delivered, and an unrelated fresh doc 52."""
        if fired["n"]:
            return
        fired["n"] += 1
        _write_file(
            spark,
            spark.createDataFrame(
                [(51, NORMAL_A), (1, NORMAL_A), (52, NORMAL_C)], DSCHEMA
            ),
            os.path.join(inbox, "f2.parquet"),
        )
        dedup_gate.run_verified_gate_available_now(
            spark, inbox, DSCHEMA, roots["gout"], roots["gstate"],
            str(tmp_path / "gckpt"), decisions_dir=roots["gdec"],
            dup_of_dir=roots["gdup"],
        )

    audit = {
        r["name"]: r.asDict()
        for r in forget(
            spark, roots, [1], on_store_swept=interleave
        ).collect()
    }
    assert fired["n"] == 1
    # the interleaved batch happened: its rows raised the removal totals
    # above the quiescent sweep's (doc 1's original decision row PLUS
    # whatever the interleaved commit re-introduced)
    assert audit["gdec"]["rows_removed"] >= 2  # original + re-delivery

    # NOTHING in the estate mentions doc 1 anymore
    assert 1 not in {
        r["neighbor_id"] for r in vi.read_codes(spark, roots["ix"]).collect()
    }
    state = _gate_sigs(spark, roots["gstate"])
    assert 1 not in {r["doc"] for r in state.collect()}
    dec = spark.read.parquet(roots["gdec"])
    assert 1 not in {r["doc"] for r in dec.collect()}
    dup = spark.read.parquet(roots["gdup"])
    assert dup.filter(
        (F.col("doc") == 1) | (F.col("odoc") == 1)
    ).count() == 0
    corpus = spark.read.parquet(roots["gout"])
    assert 1 not in {r["doc_id"] for r in corpus.collect()}

    # the interleaved commit's UNRELATED admissions survive the sweep
    assert 52 in {r["doc_id"] for r in corpus.collect()}
    assert 52 in {r["doc"] for r in state.collect()}
    # and the rejected re-delivery's decision row survives minus its
    # attribution (doc 51 was rejected; its dup_of row mentioned 1)
    assert {r["doc"] for r in dec.collect()} >= {2, 51, 52}

    # the gate no longer remembers forgotten content: a fresh near-copy
    # of doc 1 is admissible again (documented erasure consequence)
    _, _, dec2 = dedup_gate.gate_batch_verified(
        spark.createDataFrame([(61, NORMAL_A)], DSCHEMA),
        _gate_sigs(spark, roots["gstate"]),
    )
    assert {r["doc"]: r["admitted"] for r in dec2.collect()} == {61: True}


def test_quiescent_sweep_converges_in_two_passes(spark, tmp_path):
    """Without interleaving, the verification pass removes nothing and
    the audit equals the single-pass sweep's (the oracle fixture's
    contract — totals are pass sums)."""
    _, roots = _estate(spark, tmp_path)
    calls = []
    audit = {
        r["name"]: r["rows_removed"]
        for r in forget(
            spark, roots, [1], on_store_swept=lambda n, p: calls.append(n)
        ).collect()
    }
    # hook fires per store per pass; quiescent = sweep pass + one clean
    # verification pass
    assert calls == sorted(roots) * 2
    assert audit == {"gdec": 1, "gdup": 1, "gout": 1, "gstate": 1, "ix": 1}


def test_sweep_fails_loud_when_writers_outpace_it(spark, tmp_path):
    """max_passes exhausted with mentions still landing -> RuntimeError,
    never a false success report."""
    _, roots = _estate(spark, tmp_path)
    gdec = roots["gdec"]

    def hostile(name: str, path: str) -> None:
        # every pass, a fresh decision row mentioning doc 1 lands AFTER
        # the decision log was swept (simulated direct append)
        if name == "gdec":
            nxt = 100 + len(os.listdir(gdec))
            spark.createDataFrame(
                [(1, False)], "doc long, admitted boolean"
            ).write.mode("overwrite").parquet(
                os.path.join(gdec, f"batch_id={nxt}")
            )

    with pytest.raises(RuntimeError, match="did not converge"):
        forget(spark, roots, [1], max_passes=2, on_store_swept=hostile)
