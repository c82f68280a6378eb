"""Post-sweep successor pins (sinks/snapshots.amend_snapshot — r12
verdict #3) and pin-move -> incremental index refresh
(sinks/snapshots.build_index_at_pin / advance_index_to_pin —
r12 verdict #4): after an erasure sweep invalidates a pin, a sanctioned
successor pin re-derives "S2 = S1 minus erasure E" as a verifiable
manifest; and a served text index advances from pin A to pin B by
appending EXACTLY the snapshot diff, never re-reading the corpus."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.sinks import snapshots as snap
from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index as ti
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import state_subdirs

DSCHEMA = "doc_id long, text string"


def _write_corpus(spark, root: str, gens: int = 3, per_gen: int = 6) -> str:
    """A drain-layout corpus with distinct, embedable texts."""
    corpus = os.path.join(root, "corpus")
    for g in range(gens):
        rows = [
            (
                g * per_gen + i,
                f"document {g * per_gen + i} body alpha beta gamma "
                f"delta epsilon token{g * per_gen + i} " * 3,
            )
            for i in range(per_gen)
        ]
        spark.createDataFrame(rows, DSCHEMA).write.mode("overwrite").parquet(
            os.path.join(corpus, f"batch_id={g}")
        )
    return corpus


def _sweep(spark, corpus: str, batch: int, gone: list[int]) -> None:
    """Mimic forget's corpus-rewrite on one dir: drop ids in place,
    dir name preserved."""
    sub = os.path.join(corpus, f"batch_id={batch}")
    df = spark.read.parquet(sub).filter(~F.col("doc_id").isin(gone))
    tmp = os.path.join(corpus, f"_sweep_tmp_{batch}")
    df.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(sub)
    os.replace(tmp, sub)


def test_amend_after_sweep_creates_verifying_successor(spark, tmp_path):
    corpus = _write_corpus(spark, str(tmp_path))
    snap.create_snapshot(spark, corpus, "v1")
    _sweep(spark, corpus, 1, [7])

    # the swept pin fails its audit — terminal, by design
    ver1 = {
        int(r["batch_id"]): r["ok"]
        for r in snap.verify_snapshot(spark, corpus, "v1").collect()
    }
    assert ver1 == {0: True, 1: False, 2: True}

    m2 = snap.amend_snapshot(spark, corpus, "v1", "v2", erasure_ids=[7])
    assert m2["supersedes"] == "v1"
    assert m2["erasure_sha256"] == hashlib.sha256(b"7").hexdigest()
    # the successor pins the SWEPT state and verifies clean
    assert all(
        r["ok"] for r in snap.verify_snapshot(spark, corpus, "v2").collect()
    )
    df = snap.read_snapshot(spark, corpus, "v2", verify=True)
    assert df.count() == 17
    assert 7 not in {r["doc_id"] for r in df.collect()}
    # untouched dirs keep their original fingerprints in the successor
    b1 = {e["batch_id"]: e for e in snap.load_manifest(corpus, "v1")["batches"]}
    b2 = {e["batch_id"]: e for e in m2["batches"]}
    assert b2[0]["fingerprint"] == b1[0]["fingerprint"]
    assert b2[2]["fingerprint"] == b1[2]["fingerprint"]
    assert b2[1]["fingerprint"] != b1[1]["fingerprint"]
    assert b2[1]["rows"] == b1[1]["rows"] - 1

    # the lineage relation: old pin -> successor + erasure hash
    lin = {r["snapshot"]: r.asDict() for r in
           snap.manifests_df(spark, corpus).collect()}
    assert lin["v1"]["supersedes"] is None
    assert lin["v2"]["supersedes"] == "v1"
    assert lin["v2"]["erasure_sha256"] == m2["erasure_sha256"]
    assert lin["v2"]["rows"] == 17


def test_amend_idempotent_and_fail_loud(spark, tmp_path):
    corpus = _write_corpus(spark, str(tmp_path), gens=2)
    snap.create_snapshot(spark, corpus, "v1")
    _sweep(spark, corpus, 0, [0])
    m = snap.amend_snapshot(spark, corpus, "v1", "v2", erasure_ids=[0])
    # idempotent re-amend (same bytes)
    assert snap.amend_snapshot(spark, corpus, "v1", "v2", [0]) == m
    # a successor name must never silently move
    _sweep(spark, corpus, 1, [8])
    with pytest.raises(ValueError, match="DIFFERENT contents"):
        snap.amend_snapshot(spark, corpus, "v1", "v2", [0, 8])
    # base must exist
    with pytest.raises(FileNotFoundError):
        snap.amend_snapshot(spark, corpus, "nope", "v3", [1])
    # base pinning a vanished dir is not amendable
    import shutil

    shutil.rmtree(os.path.join(corpus, "batch_id=1"))
    with pytest.raises(ValueError, match="no longer exist"):
        snap.amend_snapshot(spark, corpus, "v1", "v4", [1])


def test_stray_forget_tmp_dirs_are_invisible(spark, tmp_path):
    """ADVICE r12: a crash mid-rewrite must not leave a dir that
    partition discovery or the snapshot batch listing picks up."""
    corpus = _write_corpus(spark, str(tmp_path), gens=2)
    stray = os.path.join(corpus, "_forget_tmp_batch_id_0")
    os.makedirs(stray)
    spark.createDataFrame([(99, "stray")], DSCHEMA).write.mode(
        "overwrite"
    ).parquet(stray)
    # listing, snapshotting, and reading all ignore the underscore dir
    assert sorted(state_subdirs(corpus).values()) == [0, 1]
    m = snap.create_snapshot(spark, corpus, "v1")
    assert [e["batch_id"] for e in m["batches"]] == [0, 1]
    assert snap.read_snapshot(spark, corpus, "v1").count() == 12
    assert spark.read.parquet(corpus).count() == 12


def test_build_and_advance_text_index_at_pins(spark, tmp_path):
    corpus = _write_corpus(spark, str(tmp_path))
    snap.create_snapshot(spark, corpus, "g01", upto_batch=1)
    snap.create_snapshot(spark, corpus, "all")

    idx = str(tmp_path / "idx")
    snap.build_index_at_pin(
        spark, corpus, "g01", idx, "text", kind="ivfpq", n_cells=2, m=4, n_codes=8
    )
    assert snap.index_pin(idx)["snapshot"] == "g01"
    assert {
        r["neighbor_id"] for r in vi.read_codes(spark, idx).collect()
    } == set(range(12))

    out = snap.advance_index_to_pin(spark, corpus, idx, "all", batch_id=7)
    assert out == {"base": "g01", "target": "all", "appended_batches": [2]}
    assert snap.index_pin(idx)["snapshot"] == "all"

    # equivalence: the advanced store is row-identical to build-at-g01
    # + one manual append of the same diff (frozen quantizers both ways)
    idx2 = str(tmp_path / "idx2")
    snap.build_index_at_pin(
        spark, corpus, "g01", idx2, "text", kind="ivfpq", n_cells=2, m=4, n_codes=8
    )
    ti.append_text_to_index(
        snap.snapshot_diff(spark, corpus, "g01", "all").select(
            "doc_id", "text"
        ),
        idx2,
        batch_id=7,
    )
    rel = lambda p: sorted(  # noqa: E731
        (r["neighbor_id"], r["sub"], r["code"])
        for r in vi.read_codes(spark, p).collect()
    )
    assert rel(idx) == rel(idx2)

    # served top-k parity between the two stores
    qdocs = spark.read.parquet(os.path.join(corpus, "batch_id=0")).limit(3)
    topk = lambda p: sorted(  # noqa: E731
        map(tuple, ti.query_text_index(spark, p, qdocs, k=3).collect())
    )
    assert topk(idx) == topk(idx2)

    # no-op: advancing to the pin it is already at
    out2 = snap.advance_index_to_pin(spark, corpus, idx, "all")
    assert out2["appended_batches"] == []
    # backwards move refuses (not an append lineage)
    with pytest.raises(ValueError, match="refusing to diff"):
        snap.advance_index_to_pin(spark, corpus, idx, "g01")
    # an index without a pin marker cannot be advanced
    with pytest.raises(ValueError, match="pin"):
        snap.advance_index_to_pin(spark, corpus, idx2_nomarker(idx2), "all")


def idx2_nomarker(idx2: str) -> str:
    os.remove(os.path.join(idx2, snap.PIN_META))
    return idx2


def test_advance_after_amend_is_a_noop_with_lineage(spark, tmp_path):
    """A sweep + successor pin does NOT flow new rows into a served
    index (erasure reaches indexes through forget's own sweep); the
    pin-move is a zero-delta marker advance, keeping the serving pin
    aligned with the corpus lineage."""
    corpus = _write_corpus(spark, str(tmp_path), gens=2)
    snap.create_snapshot(spark, corpus, "v1")
    idx = str(tmp_path / "idx")
    snap.build_index_at_pin(
        spark, corpus, "v1", idx, "text", kind="binary"
    )
    _sweep(spark, corpus, 0, [1])
    snap.amend_snapshot(spark, corpus, "v1", "v2", erasure_ids=[1])
    out = snap.advance_index_to_pin(spark, corpus, idx, "v2")
    assert out == {"base": "v1", "target": "v2", "appended_batches": []}
    assert snap.index_pin(idx)["snapshot"] == "v2"


def test_build_and_advance_media_index_at_pins(spark, tmp_path):
    """The pin marker + delta-append contract holds for the MEDIA form
    too (shared PIN_META, media_index's frozen-codec featurization)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.multimodal import (
        media_from_documents,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import (
        media_index as mi,
    )

    corpus = os.path.join(str(tmp_path), "mcorpus")
    docs = spark.createDataFrame(
        [
            (i, f"payload body {i} alpha beta gamma token{i} " * 4)
            for i in range(18)
        ],
        DSCHEMA,
    )
    media = media_from_documents(docs)
    for g in range(3):
        media.filter((F.col("media_id") % 3) == g).write.mode(
            "overwrite"
        ).parquet(os.path.join(corpus, f"batch_id={g}"))
    snap.create_snapshot(spark, corpus, "g01", upto_batch=1)
    snap.create_snapshot(spark, corpus, "all")

    idx = str(tmp_path / "midx")
    snap.build_index_at_pin(
        spark, corpus, "g01", idx, "media", kind="binary", codec="fake"
    )
    assert snap.index_pin(idx)["snapshot"] == "g01"
    n_g01 = vi.read_sigs(spark, idx).count()
    out = snap.advance_index_to_pin(spark, corpus, idx, "all", batch_id=7)
    assert out == {"base": "g01", "target": "all", "appended_batches": [2]}
    assert snap.index_pin(idx)["snapshot"] == "all"
    n_all = vi.read_sigs(spark, idx).count()
    assert n_all > n_g01
    # row-identical to build@g01 + one manual append of the same diff
    idx2 = str(tmp_path / "midx2")
    snap.build_index_at_pin(
        spark, corpus, "g01", idx2, "media", kind="binary", codec="fake"
    )
    mi.append_media_to_index(
        snap.snapshot_diff(spark, corpus, "g01", "all").drop("batch_id"),
        idx2,
        batch_id=7,
    )
    rel = lambda p: sorted(  # noqa: E731
        (r["neighbor_id"], tuple(r["sig"]) if hasattr(r["sig"], "__iter__")
         else r["sig"])
        for r in vi.read_sigs(spark, p).collect()
    )
    assert rel(idx) == rel(idx2)
    # the catalog surfaces the pin on the index row
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.catalog import (
        catalog_entry,
    )

    ent = catalog_entry(spark, "midx", idx)
    assert '"pinned_snapshot": "all"' in ent["params"]
