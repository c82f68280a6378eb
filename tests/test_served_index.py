"""The served-index lifecycle (sinks/served_index.py) in the default tier:
one modality-parametrized build → append → query → compact → catalog
pass over a ~20-row corpus; the retry-safe pin advance
(sinks/snapshots.advance_index_to_pin); and a source guard that keeps
the store-kind and modality decision in one place."""

from __future__ import annotations

import ast
import json
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.multimodal import (
    byte_histogram_features,
    media_from_documents,
)
from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import embed_text
from reddit_apache_airflow_postgres_pipeline_spark.sinks import catalog as cat
from reddit_apache_airflow_postgres_pipeline_spark.sinks import media_index as mi
from reddit_apache_airflow_postgres_pipeline_spark.sinks import served_index as si
from reddit_apache_airflow_postgres_pipeline_spark.sinks import snapshots as snap
from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index as ti
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "reddit_apache_airflow_postgres_pipeline_spark"
)
DSCHEMA = "doc_id long, text string"


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"doc {i} alpha beta gamma token{i} delta{i % 4} " * 3) for i in ids],
        DSCHEMA,
    )


def _text_vectors(docs):
    return embed_text(docs, d=8, n=2, salt="emb")  # write_text_index's defaults


def _media_vectors(media):
    return byte_histogram_features(
        media.filter(F.length("payload") > 0), codec="fake"
    ).select("media_id", F.col("feat").alias("embedding"))


# modality -> (kind, to-rows, id column, public names, raw featurization,
# build kwargs, frozen meta)
CASES = {
    "text": (
        "ivfpq", lambda df: df, "doc_id",
        (ti.write_text_index, ti.append_text_to_index, ti.query_text_index),
        _text_vectors, {"n_cells": 2, "m": 4, "n_codes": 4},
        {"format": "text-index/v1", "kind": "ivfpq", "d": 8, "n": 2, "salt": "emb"},
    ),
    "media": (
        "binary", media_from_documents, "media_id",
        (mi.write_media_index, mi.append_media_to_index, mi.query_media_index),
        _media_vectors, {},
        {"format": "media-index/v1", "kind": "binary", "codec": "fake"},
    ),
}


def _live(spark, path, kind):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in vi.read_store(spark, path, kind).collect()
    )


@pytest.mark.parametrize("modality", sorted(CASES))
def test_modality_lifecycle_matches_the_raw_store(spark, tmp_path, modality):
    kind, rows, id_col, (write, append, query), vectors, kw, meta = CASES[modality]
    build = rows(_docs(spark, range(14)))
    delta = rows(_docs(spark, range(14, 20)))
    idx, raw = str(tmp_path / "idx"), str(tmp_path / "raw")

    write(build, idx, kind=kind, **kw)
    append(delta, idx, batch_id=3)
    once = _live(spark, idx, kind)
    append(delta, idx, batch_id=3)  # a retried append rewrites its own dir
    assert _live(spark, idx, kind) == once
    store = vi.store_dir(idx, kind)
    assert sorted(cs.state_subdirs(store).values()) == [0, 3]

    # the same featurization through the raw-vector store kind
    vi.KINDS[kind].write(vectors(build), raw, id_col=id_col, **kw)
    vi.KINDS[kind].append(vectors(delta), raw, id_col=id_col, batch_id=3)
    assert _live(spark, raw, kind) == once
    queries = rows(_docs(spark, [0, 5, 15]))
    got = sorted(map(tuple, query(spark, idx, queries, k=3).collect()))
    want = vi.KINDS[kind].query(spark, raw, vectors(queries), k=3, id_col=id_col)
    assert got == sorted(map(tuple, want.collect()))
    assert len(got) == 9

    vi.compact_store(spark, idx, kind)
    assert cs.live_dir_count(store) == 1
    assert _live(spark, idx, kind) == once

    ent = cat.catalog_entry(spark, "idx", idx)
    assert (ent["category"], ent["modality"], ent["kind"]) == (
        "vector-index", modality, kind,
    )
    assert json.loads(ent["params"]) == meta
    assert ent["n_rows"] == 20 and ent["live_dirs"] == 1
    assert si.index_meta(idx, modality) == meta
    assert si.modality_of(raw) == "raw"


def _corpus(spark, root: str) -> str:
    corpus = os.path.join(root, "corpus")
    for g in range(3):
        _docs(spark, range(6 * g, 6 * g + 6)).write.parquet(
            os.path.join(corpus, f"batch_id={g}")
        )
    snap.create_snapshot(spark, corpus, "g01", upto_batch=1)
    snap.create_snapshot(spark, corpus, "all")
    return corpus


def test_retried_pin_advance_does_not_duplicate_its_delta(
    spark, tmp_path, monkeypatch
):
    """A process that dies after the advance's append but before the
    marker moves leaves the marker as it was at that moment; the retry
    must rewrite the same delta dir, not append the diff again."""
    corpus = _corpus(spark, str(tmp_path))
    idx = str(tmp_path / "idx")
    snap.build_index_at_pin(
        spark, corpus, "g01", idx, "text", kind="ivfpq", n_cells=2, m=4, n_codes=8
    )
    pin = os.path.join(idx, snap.PIN_META)
    at_crash = []
    write_delta = vi._write_delta

    def _capture(*args, **kwargs):
        write_delta(*args, **kwargs)
        with open(pin) as f:
            at_crash.append(f.read())

    monkeypatch.setattr(vi, "_write_delta", _capture)
    out = snap.advance_index_to_pin(spark, corpus, idx, "all")
    monkeypatch.undo()
    assert out["appended_batches"] == [2] and len(at_crash) == 1
    qdocs = _docs(spark, [0, 7, 17])
    topk = lambda: sorted(  # noqa: E731
        map(tuple, ti.query_text_index(spark, idx, qdocs, k=3).collect())
    )
    rows, served = _live(spark, idx, "ivfpq"), topk()
    assert len(rows) == 18 * 4  # 18 docs x m=4 codes, none twice

    with open(pin, "w") as f:  # the marker as the crash left it
        f.write(at_crash[0])
    snap.advance_index_to_pin(spark, corpus, idx, "all")
    assert _live(spark, idx, "ivfpq") == rows
    assert topk() == served
    assert snap.index_pin(idx) == {
        "corpus_dir": os.path.abspath(corpus), "snapshot": "all"
    }

    # an interrupted advance must be finished before the pin moves elsewhere
    with open(pin, "w") as f:
        f.write(at_crash[0])
    with pytest.raises(ValueError, match="interrupted advance"):
        snap.advance_index_to_pin(spark, corpus, idx, "g01")


def _literal_modules(value: str) -> list[str]:
    """Package modules holding a non-docstring string literal that
    contains ``value``."""
    found = []
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text())
        docs = {
            id(n.value) for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
        }
        if any(
            isinstance(n, ast.Constant) and isinstance(n.value, str)
            and value in n.value and id(n) not in docs
            for n in ast.walk(tree)
        ):
            found.append(str(p.relative_to(PKG)))
    return found


def _imported_modules(path: pathlib.Path) -> set[str]:
    names = set()
    for n in ast.walk(ast.parse(path.read_text())):
        if isinstance(n, ast.ImportFrom) and n.module:
            names.add(n.module.rsplit(".", 1)[-1])
            names.update(a.name for a in n.names)
        elif isinstance(n, ast.Import):
            names.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return names


def test_index_decisions_live_in_one_module():
    owners = {
        **{row.meta_file: ["sinks/served_index.py"] for row in si.MODALITIES.values()},
        snap.PIN_META: ["sinks/snapshots.py"],
    }
    assert {name: _literal_modules(name) for name in owners} == owners
    for consumer in ("forget.py", "maintenance.py"):
        imported = _imported_modules(PKG / "sinks" / consumer)
        assert not imported & {"text_index", "media_index"}, consumer
