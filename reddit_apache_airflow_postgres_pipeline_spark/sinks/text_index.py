"""Persisted TEXT index: build, append to, and query a served vector
index straight from raw documents — the featurization
(:func:`similarity.embed_text`) is part of the index, not the caller.

The text row of ``served_index.MODALITIES``: these are its names over
the one lifecycle in sinks/served_index.py. :func:`write_text_index`
freezes ``(d, n, salt, kind)`` in ``<path>/text_meta.json``;
:func:`append_text_to_index` and :func:`query_text_index` embed with the
index's OWN frozen params (there is nothing to pass), so an admitted
document reaches a served ANN index with no manual embed hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.sinks import served_index as _si


def _text(path: str, id_col: str, text_col: str) -> _si.ModalityIndex:
    return _si.ModalityIndex("text", path, id_col, {"text_col": text_col})


def text_index_meta(path: str) -> dict:
    """The index's frozen featurizer + kind record (fail-loud when the
    path is not a text index)."""
    return _si.index_meta(path, "text")


def write_text_index(
    docs: DataFrame,
    path: str,
    kind: str = "ivfpq",
    id_col: str = "doc_id",
    text_col: str = "text",
    d: int = 8,
    n: int = 2,
    salt: str = "emb",
    **index_kwargs,
) -> None:
    """Embed a validated document snapshot and build the ``kind`` store
    at ``path``, freezing ``(d, n, salt, kind)`` in ``text_meta.json``.
    The snapshot trains the quantizers — the same role the drift gate's
    validated snapshot plays for the frozen reference, so one curated
    corpus can seed both the admission gate and the serving index."""
    _text(path, id_col, text_col).write(
        docs, kind, {"d": d, "n": n, "salt": salt}, index_kwargs
    )


def append_text_to_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
) -> None:
    """Embed a document delta with the INDEX'S frozen params and append
    it (served_index.ModalityIndex.append's contract)."""
    _text(path, id_col, text_col).append(docs, batch_id)


def query_text_index(
    spark: SparkSession,
    path: str,
    query_docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    **query_kwargs,
) -> DataFrame:
    """Top-k for RAW query documents: ask "nearest neighbors of this
    raw text" with no vector in sight."""
    return _text(path, id_col, text_col).query(spark, query_docs, k, query_kwargs)


def text_index_recall(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    query_docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    **probe_kwargs,
) -> float:
    """Recall@k of the text store's probe vs exact L2 over the same
    frozen-featurizer embeddings of ``docs``."""
    return _text(path, id_col, text_col).recall(
        spark, docs, query_docs, k, probe_kwargs
    )


def rebuild_text_index_if_stale(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    query_docs: DataFrame,
    min_recall: float,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    probe_kwargs: dict | None = None,
    build_kwargs: dict | None = None,
) -> dict:
    """Drift-triggered rebuild: the quantizers retrain on ``docs`` (the
    surviving corpus), ``(d, n, salt)`` stay frozen."""
    return _text(path, id_col, text_col).rebuild_if_stale(
        spark, docs, query_docs, min_recall, k, probe_kwargs, build_kwargs
    )
