"""Persisted MEDIA index: build, append to, and query a served vector
index straight from raw binary media — the featurization
(:func:`operators.multimodal.byte_histogram_features`) is part of the
index, not the caller.

The media row of ``served_index.MODALITIES``: these are its names over
the one lifecycle in sinks/served_index.py. :func:`write_media_index`
freezes ``(codec, kind)`` in ``<path>/media_meta.json``;
:func:`append_media_to_index` and :func:`query_media_index` featurize
with the index's OWN frozen codec (a caller cannot mix a real-decoder
geometry into a fake-codec store), so an arriving image/audio/video
payload reaches a served ANN index with no manual feature hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.sinks import served_index as _si


def media_index_meta(path: str) -> dict:
    """The index's frozen codec + kind record (fail-loud when the path
    is not a media index)."""
    return _si.index_meta(path, "media")


def write_media_index(
    media: DataFrame,
    path: str,
    kind: str = "ivfpq",
    codec: str = "fake",
    id_col: str = "media_id",
    **index_kwargs,
) -> None:
    """Featurize a validated media snapshot and build the ``kind`` store
    at ``path``, freezing ``(codec, kind)`` in ``media_meta.json``."""
    _si.ModalityIndex("media", path, id_col).write(
        media, kind, {"codec": codec}, index_kwargs
    )


def append_media_to_index(
    media: DataFrame,
    path: str,
    id_col: str = "media_id",
    batch_id: int | None = None,
) -> None:
    """Featurize a media delta with the INDEX'S frozen codec and append
    it (served_index.ModalityIndex.append's contract)."""
    _si.ModalityIndex("media", path, id_col).append(media, batch_id)


def query_media_index(
    spark: SparkSession,
    path: str,
    query_media: DataFrame,
    k: int = 10,
    id_col: str = "media_id",
    **query_kwargs,
) -> DataFrame:
    """Top-k for RAW query payloads: ask "nearest neighbors of this
    image" with no vector in sight."""
    return _si.ModalityIndex("media", path, id_col).query(
        spark, query_media, k, query_kwargs
    )


def rebuild_media_index_if_stale(
    spark: SparkSession,
    path: str,
    media: DataFrame,
    query_media: DataFrame,
    min_recall: float,
    k: int = 5,
    id_col: str = "media_id",
    probe_kwargs: dict | None = None,
    build_kwargs: dict | None = None,
) -> dict:
    """Drift-triggered rebuild: the quantizers retrain on ``media`` (the
    surviving corpus), the codec stays frozen."""
    return _si.ModalityIndex("media", path, id_col).rebuild_if_stale(
        spark, media, query_media, min_recall, k, probe_kwargs, build_kwargs
    )
