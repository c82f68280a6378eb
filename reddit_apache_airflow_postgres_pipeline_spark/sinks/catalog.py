"""One ops catalog over the whole serving estate.

``index_stats`` (sinks/vector_index.py) answers for ONE store; an
operator running several store kinds × text/media modalities × gate
state dirs × decision logs wants a single relation: what lives where,
under which frozen parameters, how much of it is live, how big the
tombstone backlog is, and what the gates have been admitting. This
module classifies each root from its ON-DISK markers — the same
markers the writers stamp and the readers verify (the modality meta
files of served_index.MODALITIES, the store subdirs of
vector_index.KINDS, counting_state's _meta.json) — so the catalog can
never disagree with the read path about what a store is.

Scale posture: the catalog is decision-sized — one row per store, a
handful of metadata aggregates each (row counts run as Spark jobs over
the stores' own pruned readers; nothing is collected but the per-store
summary). The reference's operational analog is the per-run
used/skipped accounting its combine task prints and archives
(Combine_send_to_postgresql.py:151-166,202-205): the estate's health
is an artifact you read, not a replay you run.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sinks import served_index as _si
from reddit_apache_airflow_postgres_pipeline_spark.sinks import snapshots as _snap
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as _vi
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as _cs,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    signature_gate as _sg,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    state_subdirs,
)

CATALOG_SCHEMA = (
    "name string, category string, kind string, modality string, "
    "params string, n_rows long, live_dirs int, tombstones long, "
    "n_admitted long, n_rejected long"
)

# the drains stamp their out_dir with this marker
# (counting_state.stamp_corpus_meta), so the admitted corpus — the
# estate member that holds the actual document payloads — classifies
# like every other store, and the forget sweep reaches the text
# itself, not just its signatures and vectors
_CORPUS_FORMAT = _cs.CORPUS_FORMAT


def _entry(
    name: str,
    category: str,
    kind: str,
    modality: str | None,
    params: dict,
    n_rows: int,
    live_dirs: int,
    tombstones: int | None = None,
    n_admitted: int | None = None,
    n_rejected: int | None = None,
) -> dict:
    """One catalog row, keyed by CATALOG_SCHEMA's columns; ``params``
    is rendered as sorted-key JSON."""
    return {
        "name": name,
        "category": category,
        "kind": kind,
        "modality": modality,
        "params": json.dumps(params, sort_keys=True),
        "n_rows": n_rows,
        "live_dirs": live_dirs,
        "tombstones": tombstones,
        "n_admitted": n_admitted,
        "n_rejected": n_rejected,
    }


def catalog_entry(spark: SparkSession, name: str, path: str) -> dict:
    """Classify ONE estate root from its on-disk markers and summarize
    it. Recognized layouts, in probe order:

    - a modality meta file (served_index.modality_of) beside a vector
      store → a modality-native served index (kind + frozen
      featurizer/codec params from the meta, counts from index_stats);
    - a bare ``postings/`` | ``codes/`` | ``sigs/`` store → a raw
      vector index (infer_kind's exactly-one contract);
    - ``_meta.json`` stamped ``admitted-corpus/v1`` → the ADMITTED
      CORPUS itself (the drains' out_dir: the document payloads, the
      store snapshots pin and training runs read);
    - ``_meta.json`` whose format is a gate family → gate state (rows =
      live signature/band rows, the estate's dedup memory);
    - ``batch_id=*`` parquet dirs whose schema has ``admitted`` → a
      gate DECISION LOG (admission accounting, the drop-rate meter);
    - ``batch_id=*`` parquet dirs whose schema has ``odoc`` → a gate
      ATTRIBUTION LOG (the dup_of blocker relation; ``est`` marks the
      text gate's MinHash-estimate form, ``dist`` the media gate's
      Hamming form, a ``modality`` column the unified multimodal
      gate's tagged form).

    Fail-loud on anything else — an unclassifiable root must not be
    silently reported healthy."""
    modality = _si.modality_of(path)
    if modality != "raw":
        meta = _si.index_meta(path, modality)
        kind = meta["kind"]
        # a pin-built index (snapshots.build_index_at_pin) records the
        # corpus version it serves — surface it in the catalog so
        # "which pin is this index at" is a dashboard cell, not a
        # marker-file hunt
        if os.path.exists(os.path.join(path, _snap.PIN_META)):
            meta = {**meta, "pinned_snapshot": _snap.index_pin(path)["snapshot"]}
    else:
        found = _vi.built_kinds(path)
        kind = found[0] if len(found) == 1 else None
        meta = _vi.store_meta(path, kind) if kind else None
    if kind is not None:
        st = _vi.index_stats(spark, path, kind)
        return _entry(
            name, "vector-index", kind, modality, meta,
            st["rows"], st["live_dirs"], st["tombstones"],
        )
    n_dirs = len(state_subdirs(path))
    gmeta_path = os.path.join(path, _cs.META)
    if os.path.exists(gmeta_path):
        with open(gmeta_path) as f:
            meta = json.load(f)
        fmt = meta.get("format", "")
        if fmt == _CORPUS_FORMAT:
            rows = spark.read.parquet(path).count() if n_dirs else 0
            return _entry(
                name, "corpus", fmt, meta.get("modality"), meta, rows, n_dirs
            )
        if fmt in _sg.STATES:
            # the store's own live read: a crash-interrupted fold's
            # leftover dirs are neither rows nor live dirs
            st = _sg.STATES[fmt]
            return _entry(
                name, "gate-state", fmt, st.modality, meta,
                st.load(spark, path, meta).count(), _cs.live_dir_count(path),
            )
        raise ValueError(
            f"estate root {path!r} is a {fmt!r} state store — not a "
            "serving-estate member (index, gate state, or decision log)"
        )
    if n_dirs:
        df = spark.read.parquet(path)
        if "admitted" in df.columns:
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("admitted").cast("int")).alias("adm"),
            ).collect()[0]
            n = int(agg["n"])
            adm = int(agg["adm"] or 0)
            return _entry(
                name, "decision-log", "decisions", None, {}, n,
                n_dirs, n_admitted=adm, n_rejected=n - adm,
            )
        if "odoc" in df.columns:
            modality = (
                "multimodal" if "modality" in df.columns
                else "text" if "est" in df.columns
                else "media" if "dist" in df.columns
                else None
            )
            return _entry(
                name, "attribution-log", "dup_of", modality, {}, df.count(),
                n_dirs,
            )
    raise ValueError(
        f"estate root {path!r} matches no known layout (text/media index "
        "meta, single vector store dir, gate _meta.json, or batch_id=* "
        "decision log) — refusing to catalog an unknown store as healthy"
    )


def catalog(spark: SparkSession, roots: dict[str, str] | list[str]) -> DataFrame:
    """The estate relation: one row per root in ``roots`` (dict of
    name → path, or a list of paths named by basename), schema
    ``CATALOG_SCHEMA``. Deterministic order (by name) so the relation
    is oracle-comparable."""
    if not isinstance(roots, dict):
        roots = {os.path.basename(p.rstrip("/")): p for p in roots}
    entries = [
        catalog_entry(spark, name, path)
        for name, path in sorted(roots.items())
    ]
    return local_df(spark, entries, CATALOG_SCHEMA)
