"""One ops catalog over the whole serving estate.

``index_stats`` (sinks/vector_index.py) answers for ONE store; an
operator running several store kinds × text/media modalities × gate
state dirs × decision logs wants a single relation: what lives where,
under which frozen parameters, how much of it is live, how big the
tombstone backlog is, and what the gates have been admitting. This
module classifies each root from its ON-DISK markers — the same
markers the writers stamp and the readers verify (text_meta.json /
media_meta.json, the store subdir layout, counting_state's _meta.json)
— so the catalog can never disagree with the read path about what a
store is.

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
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as _vi
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as _cs,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    dedup_gate as _dg,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    media_gate as _mg,
)

CATALOG_SCHEMA = (
    "name string, category string, kind string, modality string, "
    "params string, n_rows long, live_dirs int, tombstones long, "
    "n_admitted long, n_rejected long"
)

_GATE_MODALITY = {
    _dg.GATE_FORMAT: "text",
    _dg.VERIFIED_GATE_FORMAT: "text",
    _mg.MEDIA_GATE_FORMAT: "media",
}

# the drains stamp their out_dir with this marker
# (counting_state.stamp_corpus_meta), so the admitted corpus — the
# estate member that holds the actual document payloads — classifies
# like every other store, and the forget sweep reaches the text
# itself, not just its signatures and vectors
_CORPUS_FORMAT = _cs.CORPUS_FORMAT


def _params_json(meta: dict) -> str:
    return json.dumps(meta, sort_keys=True)


def _batch_dirs(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        d
        for d in os.listdir(path)
        if d.startswith("batch_id=") and os.path.isdir(os.path.join(path, d))
    )


def catalog_entry(spark: SparkSession, name: str, path: str) -> dict:
    """Classify ONE estate root from its on-disk markers and summarize
    it. Recognized layouts, in probe order:

    - ``text_meta.json`` / ``media_meta.json`` beside a vector store →
      a modality-native served index (kind + frozen featurizer/codec
      params from the meta, counts from index_stats);
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
    tmeta = os.path.join(path, "text_meta.json")
    mmeta = os.path.join(path, "media_meta.json")
    if os.path.exists(tmeta) or os.path.exists(mmeta):
        with open(tmeta if os.path.exists(tmeta) else mmeta) as f:
            meta = json.load(f)
        modality = "text" if os.path.exists(tmeta) else "media"
        # a pin-built index (snapshots.build_text_index_at_pin) records
        # the corpus version it serves — surface it in the catalog so
        # "which pin is this index at" is a dashboard cell, not a
        # marker-file hunt
        pin_p = os.path.join(path, "pinned_snapshot.json")
        if os.path.exists(pin_p):
            with open(pin_p) as f:
                meta = {**meta, "pinned_snapshot": json.load(f)["snapshot"]}
        stats = _vi.index_stats(spark, path, meta["kind"])
        return {
            "name": name,
            "category": "vector-index",
            "kind": meta["kind"],
            "modality": modality,
            "params": _params_json(meta),
            "n_rows": stats["rows"],
            "live_dirs": stats["live_dirs"],
            "tombstones": stats["tombstones"],
            "n_admitted": None,
            "n_rejected": None,
        }
    found = [
        k
        for k, sub in _vi.STORE_SUBDIR.items()
        if os.path.isdir(os.path.join(path, sub))
    ]
    if len(found) == 1:
        stats = _vi.index_stats(spark, path, found[0])
        return {
            "name": name,
            "category": "vector-index",
            "kind": found[0],
            "modality": "raw",
            "params": _params_json(
                _read_store_meta(os.path.join(path, _vi.STORE_SUBDIR[found[0]]))
            ),
            "n_rows": stats["rows"],
            "live_dirs": stats["live_dirs"],
            "tombstones": stats["tombstones"],
            "n_admitted": None,
            "n_rejected": None,
        }
    gmeta_path = os.path.join(path, _cs.META)
    if os.path.exists(gmeta_path):
        with open(gmeta_path) as f:
            meta = json.load(f)
        fmt = meta.get("format", "")
        if fmt == _CORPUS_FORMAT:
            return {
                "name": name,
                "category": "corpus",
                "kind": fmt,
                "modality": meta.get("modality"),
                "params": _params_json(meta),
                "n_rows": (
                    spark.read.parquet(path).count() if _batch_dirs(path) else 0
                ),
                "live_dirs": len(_batch_dirs(path)),
                "tombstones": None,
                "n_admitted": None,
                "n_rejected": None,
            }
        if fmt in _GATE_MODALITY:
            rows = spark.read.parquet(path).count() if _batch_dirs(path) else 0
            return {
                "name": name,
                "category": "gate-state",
                "kind": fmt,
                "modality": _GATE_MODALITY[fmt],
                "params": _params_json(meta),
                "n_rows": rows,
                "live_dirs": len(_batch_dirs(path)),
                "tombstones": None,
                "n_admitted": None,
                "n_rejected": None,
            }
        raise ValueError(
            f"estate root {path!r} is a {fmt!r} state store — not a "
            "serving-estate member (index, gate state, or decision log)"
        )
    if _batch_dirs(path):
        df = spark.read.parquet(path)
        if "admitted" in df.columns:
            agg = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("admitted").cast("int")).alias("adm"),
            ).collect()[0]
            n = int(agg["n"])
            adm = int(agg["adm"] or 0)
            return {
                "name": name,
                "category": "decision-log",
                "kind": "decisions",
                "modality": None,
                "params": _params_json({}),
                "n_rows": n,
                "live_dirs": len(_batch_dirs(path)),
                "tombstones": None,
                "n_admitted": adm,
                "n_rejected": n - adm,
            }
        if "odoc" in df.columns:
            modality = (
                "multimodal" if "modality" in df.columns
                else "text" if "est" in df.columns
                else "media" if "dist" in df.columns
                else None
            )
            return {
                "name": name,
                "category": "attribution-log",
                "kind": "dup_of",
                "modality": modality,
                "params": _params_json({}),
                "n_rows": df.count(),
                "live_dirs": len(_batch_dirs(path)),
                "tombstones": None,
                "n_admitted": None,
                "n_rejected": None,
            }
    raise ValueError(
        f"estate root {path!r} matches no known layout (text/media index "
        "meta, single vector store dir, gate _meta.json, or batch_id=* "
        "decision log) — refusing to catalog an unknown store as healthy"
    )


def _read_store_meta(store: str) -> dict:
    p = os.path.join(store, _cs.META)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


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
