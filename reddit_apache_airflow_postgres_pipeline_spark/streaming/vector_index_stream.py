"""Streaming maintenance of a persisted vector index: drain arriving
embedding files into the IVF postings store or the IVFPQ codes store,
exactly-once.

The operational loop a served 100 TB index lives by: deltas arrive
continuously, each micro-batch is encoded against the index's FROZEN
quantizers (broadcast, map-shaped — `sinks/vector_index.py`'s append
contract) and lands as the store's ``batch_id=<i>`` dir named by the
STREAM's batch id — so a retried micro-batch overwrites its own dir
instead of minting a new one (stream ids are offset by
``vector_index.STREAM_ID_BASE`` so they never collide with the build's
batch 0 or ad-hoc appends), and the checkpoint guarantees each input
file is indexed exactly once across restarts. When the live-dir listing
grows past the threshold the store folds into one cell-partitioned
generation (distinct-mode compaction with the subsumption manifest), so
probe reads stay partition-pruned and listing-bounded over an unbounded
run. Quantizer drift over the stream is the standard accepted trade;
the recall audits (q_sim_ivf_recall / q_sim_pq_recall /
q_sim_ivfpq_recall) are the rebuild signal.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.sinks import served_index as _si
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as _vi
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
)


def _drain_into_index(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    index_path: str,
    kind: str,
    write: Callable[[DataFrame, int], None],
    compact_after_dirs: int,
    deletes: bool = False,
) -> None:
    """The index drains' shared batch body: micro-batch ``i`` goes to
    ``write(batch_df, sid)`` under the stream id ``sid =
    STREAM_ID_BASE + i``. Once the watched store — the ``kind`` data
    store, or the tombstone store of a ``deletes`` drain — holds more
    than ``compact_after_dirs`` live dirs, the ``kind`` store compacts:
    everything but the in-flight dir after an append, FULLY after a
    delete (the only compaction that physically drops tombstoned
    rows)."""
    store = _vi._tomb_store(index_path) if deletes else _vi.store_dir(index_path, kind)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        sid = _vi.STREAM_ID_BASE + batch_id
        write(batch_df, sid)
        compact_if_due(
            store, compact_after_dirs, _vi.compact_store, batch_df.sparkSession,
            index_path, kind, exclude_from=None if deletes else sid,
        )

    drain(spark, input_dir, schema, checkpoint_dir, _batch)


def run_index_append_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_path: str,
    checkpoint_dir: str,
    kind: str = "ivfpq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain ``input_dir`` (parquet files of (id, vector) rows) into a
    persisted index with an availableNow trigger. ``kind``: "ivf"
    appends raw-vector postings, "ivfpq" appends PQ codes, "binary"
    appends sign signatures. The index must already exist
    (write_ivf_index / write_ivfpq_index / write_binary_index — the
    quantizers are frozen; this stream never retrains them, and the
    binary kind has nothing to retrain at all). Caller contract
    unchanged from the batch appends: delta ids disjoint from indexed
    ids."""
    append = _vi.KINDS[_vi.check_kind(kind)].append
    _drain_into_index(
        spark, input_dir, schema, checkpoint_dir, index_path, kind,
        lambda df, sid: append(df, index_path, id_col, vec_col, batch_id=sid),
        compact_after_dirs,
    )


def _drain_modality(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_path: str,
    checkpoint_dir: str,
    modality: str,
    compact_after_dirs: int,
    **append_kwargs,
) -> None:
    """The text and media drains' one body. The featurizer params and
    store kind come from the index's own meta file (read here, so a
    path without one fails loud before the stream starts), and each
    micro-batch goes through the modality's public appender, looked up
    on its module at call time (``served_index.public``)."""
    kind = _si.index_meta(index_path, modality)["kind"]
    append = _si.public(modality, "append")
    _drain_into_index(
        spark, input_dir, schema, checkpoint_dir, index_path, kind,
        lambda df, sid: append(df, index_path, batch_id=sid, **append_kwargs),
        compact_after_dirs,
    )


def run_text_index_append_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain arriving DOCUMENT files (raw text, no vectors) into a
    persisted text index, exactly-once — the composition the r10
    verdict named as the one remaining seam between the batch serving
    loop and production: admitted documents → ``embed_text`` →
    ``append_to_*_index`` with no manual embed hop.

    The index must already exist (``sinks/text_index.write_text_index``
    on the validated snapshot — the same snapshot that froze the drift
    gate's reference can train the quantizers). This stream takes NO
    embedding arguments: a restarted or re-deployed drain cannot drift
    the geometry. Micro-batch ids map above ``STREAM_ID_BASE``
    (idempotent per-dir overwrite on retry, no collision with ad-hoc
    appends), and the live-dir threshold folds the store exactly like
    the raw-vector append stream. Parity with the batch path (same
    docs ⇒ identical served top-k) and restart safety are pinned by
    tests/test_text_index_stream.py."""
    _drain_modality(
        spark, input_dir, schema, index_path, checkpoint_dir, "text",
        compact_after_dirs, id_col=id_col, text_col=text_col,
    )


def run_media_index_append_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain arriving MEDIA files (binary payloads + typed metadata, no
    vectors) into a persisted media index, exactly-once — the media
    form of the text drain (the index must already exist:
    ``sinks/media_index.write_media_index`` on the validated snapshot).
    Parity with the batch path and restart safety are pinned by
    tests/test_media_index_stream.py."""
    _drain_modality(
        spark, input_dir, schema, index_path, checkpoint_dir, "media",
        compact_after_dirs, id_col=id_col,
    )


def run_index_delete_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    index_path: str,
    checkpoint_dir: str,
    kind: str = "ivfpq",
    id_col: str = "vec_id",
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain erasure requests (parquet files of id rows) into a
    persisted index's tombstone store, exactly-once — the streaming
    half of the GDPR path (`sinks/vector_index.delete_from_index`):
    a deletion queue is operationally identical to an ingest queue,
    and the erasure SLA starts when the tombstone lands, not when the
    bytes are physically gone.

    Each micro-batch's ids become one tombstone batch dir named by the
    stream's id (offset by ``STREAM_ID_BASE``, overwritten on retry —
    the same idempotence contract as the append stream); from that
    moment every probe read shadows the ids. When the tombstone
    listing grows past ``compact_after_dirs`` the DATA store runs a
    FULL compaction (the only kind that physically drops tombstoned
    rows and GCs the absorbed tombstone dirs — a partial compaction
    deliberately keeps tombstones live). ``kind`` picks which data
    store that compaction folds; the tombstone store itself is
    kind-agnostic. Single-writer discipline: don't run the full
    compaction concurrently with an append stream on the same store
    (same rule as the batch API's exclude_from contract)."""
    _drain_into_index(
        spark, input_dir, schema, checkpoint_dir, index_path,
        _vi.check_kind(kind),
        lambda df, sid: _vi.delete_from_index(
            df, index_path, id_col, batch_id=sid
        ),
        compact_after_dirs,
        deletes=True,
    )
