"""The served-index lifecycle: build, append, probe, audit and rebuild a
vector index straight from raw documents or media, written once for
every modality.

A served index is one of the store kinds in ``vector_index.KINDS``
(ivf | ivfpq | binary) plus, for a modality-native index, the
featurizer that turns raw rows into its vectors. :data:`MODALITIES` is
the one table of those featurizers:

* ``text`` — :func:`similarity.embed_text`, the deterministic
  hashed-n-gram signed-random-projection, frozen as ``(d, n, salt)``;
* ``media`` — :func:`multimodal.byte_histogram_features`, the
  real-encoder stand-in with identical Arrow-batched plumbing, frozen
  as ``codec``.

A path carrying neither modality's meta file is a ``raw`` vector index
(pre-embedded vectors, ``vector_index``'s own write/append/query).

The build FREEZES the featurizer params and the store kind in the
modality's meta file beside the store; every later step reads them back
from there — an append, query or rebuild cannot mix geometries because
the caller has nothing to pass (a rebuild retrains only the
quantizers; build a new index to change geometry). A step against a
path without the meta fails loudly instead of featurizing with
defaults. ``sinks/text_index.py`` and ``sinks/media_index.py`` are the
per-modality names over these functions.

Reference analog: the pipeline's cron loop lands every fetched record
in a served Postgres table under one typed contract
(dags/Combine_send_to_postgresql.py:301, ``combine_and_load``) with
salted hashing of its text fields (:58); this is that loop lifted to
the ANN store — rows in, served index out — with the same determinism
discipline extended from identity to geometry.

Scale: featurization is one map-side gram explode + one hash agg
(text) or ONE Arrow-batched ``mapInPandas`` stage (media); everything
after is the raw-vector stores' already-audited path (broadcast
quantizers, cell-partitioned writes, pruned probes). Nothing here adds
a shuffle.
"""

from __future__ import annotations

import importlib
import json
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import embed_text
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as _vi


def _embed(
    docs: DataFrame, meta: dict, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Documents → (id_col, embedding). Documents whose text yields no
    gram (empty/whitespace) embed to no row."""
    return embed_text(
        docs,
        text_col=text_col,
        id_col=id_col,
        d=int(meta["d"]),
        n=int(meta["n"]),
        salt=str(meta["salt"]),
    )


def _media_features(media: DataFrame, meta: dict, id_col: str) -> DataFrame:
    """Non-empty payloads → (id_col, embedding). Zero-byte payloads
    would featurize to the zero vector, which has no direction; they
    are dropped by a pushable length predicate (JVM-side, before the
    Python stage), symmetrical with ``embed_text`` skipping empty
    documents. ``id_col`` is resolved on the INPUT (the codec stage's
    Arrow batches read ``media_id``, so a custom id column is renamed
    into that slot first, not merely relabeled on the output)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as _mm

    if id_col != "media_id":
        media = media.withColumnRenamed(id_col, "media_id")
    nz = media.filter(F.length("payload") > 0)
    return _mm.byte_histogram_features(nz, codec=str(meta["codec"])).select(
        F.col("media_id").alias(id_col), F.col("feat").alias("embedding")
    )


@dataclass(frozen=True)
class Modality:
    meta_file: str  # the frozen featurizer + kind record beside the store
    fmt: str  # its format marker
    params: tuple[str, ...]  # the frozen featurizer params, in meta order
    # (rows, meta, id_col, **cols) -> (id_col, embedding)
    featurize: Callable[..., DataFrame]
    # the modality's public writer and appender, "<sinks module>.<function>"
    write: str
    append: str


MODALITIES = {
    "text": Modality(
        "text_meta.json", "text-index/v1", ("d", "n", "salt"), _embed,
        "text_index.write_text_index", "text_index.append_text_to_index",
    ),
    "media": Modality(
        "media_meta.json", "media-index/v1", ("codec",), _media_features,
        "media_index.write_media_index", "media_index.append_media_to_index",
    ),
}


def public(modality: str, step: str) -> Callable[..., None]:
    """The modality's public writer or appender (``step`` is "write" or
    "append"), looked up on its module at call time: the pin builders
    and the streaming drains reach a modality through this, so a tracer
    that rebinds the module attribute sees every call."""
    module, name = getattr(MODALITIES[modality], step).split(".")
    return getattr(importlib.import_module(f"{__package__}.{module}"), name)


def modality_of(path: str) -> str:
    """Which modality the index at ``path`` serves, from the meta file
    beside its store: "text", "media", or "raw" when it has none."""
    for name, row in MODALITIES.items():
        if os.path.exists(os.path.join(path, row.meta_file)):
            return name
    return "raw"


def index_meta(path: str, modality: str) -> dict:
    """The index's frozen featurizer + kind record. Raises when absent —
    an append or query against a store that never declared its
    featurization must fail loudly, not featurize with defaults and
    silently mix geometries."""
    row = MODALITIES[modality]
    mp = os.path.join(path, row.meta_file)
    if not os.path.exists(mp):
        raise ValueError(
            f"{path!r} has no {row.meta_file} — not a {modality} index. "
            f"Build it with {row.write.split('.')[1]}(snapshot, path, "
            "kind=...) so its featurizer params are frozen beside the "
            "quantizers."
        )
    with open(mp) as f:
        return json.load(f)


@dataclass(frozen=True)
class ModalityIndex:
    """The ``modality`` index at ``path``, fed rows keyed by ``id_col``;
    ``cols`` name the featurizer's other input columns (``text_col``)."""

    modality: str
    path: str
    id_col: str
    cols: dict = field(default_factory=dict)

    def _vectors(self, rows: DataFrame, meta: dict) -> DataFrame:
        featurize = MODALITIES[self.modality].featurize
        return featurize(rows, meta, self.id_col, **self.cols)

    def write(
        self, rows: DataFrame, kind: str, params: dict, index_kwargs: dict
    ) -> None:
        """Featurize a validated snapshot with ``params`` and build the
        ``kind`` store (``index_kwargs`` pass through to the kind's
        writer: n_cells/m/n_codes/iters/refine_iters), then freeze
        ``params`` and ``kind`` in the modality's meta file. The
        snapshot's vectors train the quantizers exactly as the
        raw-vector builds train on theirs."""
        _vi.check_kind(kind)
        row = MODALITIES[self.modality]
        meta = {"format": row.fmt, "kind": kind, **params}
        _vi.KINDS[kind].write(
            self._vectors(rows, meta), self.path, id_col=self.id_col,
            vec_col="embedding", **index_kwargs,
        )
        with open(os.path.join(self.path, row.meta_file), "w") as f:
            json.dump(meta, f)

    def append(self, rows: DataFrame, batch_id: int | None) -> None:
        """Featurize a delta with the INDEX'S frozen params and append
        it through the store's delta contract (disjoint ids, idempotent
        per-dir overwrite on an explicit ``batch_id``, live-tombstone
        fail-loud guard, quantizer drift accepted until the next
        rebuild). Rows that featurize to no vector are skipped, as in
        the build."""
        meta = index_meta(self.path, self.modality)
        _vi.KINDS[meta["kind"]].append(
            self._vectors(rows, meta), self.path, id_col=self.id_col,
            vec_col="embedding", batch_id=batch_id,
        )

    def query(
        self, spark: SparkSession, queries: DataFrame, k: int, kwargs: dict
    ) -> DataFrame:
        """Top-k for RAW query rows: featurize them with the index's
        frozen params and run the store's probe (``kwargs`` such as
        ``n_probe`` pass through for the IVF kinds). Returns the store's
        result shape — (query_id, neighbor_id, score|dist|hamming)."""
        meta = index_meta(self.path, self.modality)
        return _vi.KINDS[meta["kind"]].query(
            spark, self.path, self._vectors(queries, meta), k=k,
            id_col=self.id_col, vec_col="embedding", **kwargs,
        )

    def recall(
        self,
        spark: SparkSession,
        rows: DataFrame,
        queries: DataFrame,
        k: int,
        kwargs: dict,
    ) -> float:
        """Recall@k of the store's probe vs exact L2 over the SAME
        frozen-featurizer vectors of ``rows`` — vector_index.index_recall
        lifted to rows-in / rows-probed."""
        meta = index_meta(self.path, self.modality)
        return _vi.index_recall(
            spark, self.path, self._vectors(rows, meta),
            self._vectors(queries, meta), k, kind=meta["kind"],
            id_col=self.id_col, vec_col="embedding", **kwargs,
        )

    def rebuild_if_stale(
        self,
        spark: SparkSession,
        rows: DataFrame,
        queries: DataFrame,
        min_recall: float,
        k: int,
        probe_kwargs: dict | None,
        build_kwargs: dict | None,
    ) -> dict:
        """Drift-triggered rebuild (vector_index.staleness_rebuild):
        below ``min_recall``, retrain the QUANTIZERS on ``rows`` (the
        surviving corpus) and replace the store under the kind and
        featurizer params read back from the meta — they are the
        index's identity: changing them would silently re-geometrize
        every future query, the exact drift the meta file exists to
        prevent. Tombstones are GC'd after the new store lands."""
        meta = index_meta(self.path, self.modality)
        params = {p: meta[p] for p in MODALITIES[self.modality].params}
        return _vi.staleness_rebuild(
            self.path,
            meta["kind"],
            min_recall,
            lambda: self.recall(spark, rows, queries, k, probe_kwargs or {}),
            lambda: self.write(rows, meta["kind"], params, build_kwargs or {}),
        )
