"""Pinned corpus snapshots: reproducible training data over the
admitted corpus the gate drains write.

The drains persist accepted rows as ``out_dir/batch_id=<i>/`` hive
partitions — append-only provenance, one dir per micro-batch. A
TRAINING RUN needs more than "whatever is in the directory today": it
needs a pinned, verifiable, re-readable corpus version ("run X trained
on snapshot S"), because the directory keeps growing under it and —
since the estate honors right-to-be-forgotten (sinks/forget.py) — can
shrink or mutate in place. This module is that version layer:

- :func:`create_snapshot` — pin the corpus as of a batch: a manifest
  listing each included ``batch_id`` with its row count and an
  order-free content fingerprint (``bit_xor(xxhash64(row))`` plus a
  ``sum(xxhash64(row))`` companion — see :func:`verify_snapshot` for
  the guarantee), a pure map-side aggregate. The manifest is
  decision-sized (one JSON entry per batch dir) and written atomically
  under ``_snapshots/`` (the underscore prefix keeps Spark's file
  listing blind to it).
- :func:`read_snapshot` — read EXACTLY the manifest's batch dirs, by
  explicit path with ``basePath`` so ``batch_id`` survives as a
  partition column. At scale this is the point: a snapshot read never
  lists the (ever-growing) corpus root and never depends on partition
  discovery — the manifest IS the file index, so pruning is by
  construction, not by filter pushdown.
- :func:`verify_snapshot` — the immutability audit: recount + re-
  fingerprint every pinned batch in ONE partition-pruned scan and
  report per-batch divergence. An in-place mutation (a forget sweep
  rewriting a dir that held a forgotten doc) flips ``ok`` to false —
  the documented collision of erasure and reproducibility: the right
  to be forgotten WINS, and the snapshot fails loudly rather than
  silently serving a different corpus under a pinned name.
- :func:`amend_snapshot` — the sanctioned SUCCESSOR after that
  collision: re-fingerprint the (now swept) dirs a failed pin covers
  into a NEW manifest that records ``supersedes`` (the old pin) and
  ``erasure_sha256`` (a hash of the erasure request), so "train on S2
  = S1 minus erasure E" is a pinned, re-derivable statement and the
  provenance chain survives the mutation. Reference analog: the gen-1
  loader's full-field upsert stamps ``ingested_at = NOW()`` on every
  GDPR-driven re-load (SURVEY §0.1) — the audit trail outlives the
  erasure there too.
- :func:`snapshot_diff` — the admitted rows BETWEEN two pins: reads
  only the batch dirs in ``b`` and not in ``a`` (an incremental-
  training feed costs the delta, never a re-scan or an anti-join).
- :func:`build_index_at_pin` / :func:`advance_index_to_pin` — the
  serving side of the version layer: a text or media ANN index built
  FROM a pin records that pin beside its store, and advances to a
  later pin by appending EXACTLY the snapshot diff (frozen featurizer
  + frozen quantizers, the store's own append contract) — the
  incremental index refresh a pin-move implies, with no corpus re-read
  and no manual bookkeeping of "which corpus version is this index
  serving".

Reference analog: the pipeline's archive step freezes each combine
run's exact input set by moving consumed files to ``archive/``
(Combine_send_to_postgresql.py:202-205) — a run's inputs are pinned by
layout. Snapshots pin by manifest instead, so the SAME files serve
every pin without a copy.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sinks import served_index as _si
from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as _vi
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    state_subdirs,
)

SNAPSHOTS_SUBDIR = "_snapshots"
SNAPSHOT_FORMAT = "corpus-snapshot/v1"
PIN_META = "pinned_snapshot.json"


def _snap_path(corpus_dir: str, name: str) -> str:
    if "/" in name or name.startswith("_") or not name:
        raise ValueError(f"invalid snapshot name {name!r}")
    return os.path.join(corpus_dir, SNAPSHOTS_SUBDIR, f"{name}.json")


def _batch_stats(
    spark: SparkSession, corpus_dir: str, batch_ids: list[int]
) -> dict[int, tuple[int, int, str]]:
    """(rows, fingerprint, fingerprint_sum) per batch dir, computed in
    ONE job: an explicit-path read of exactly the requested dirs,
    aggregated on the partition column. Both fingerprints are over
    ``xxhash64(*data cols)`` — the xor is order-free and overflow-free,
    the sum (exact, as DECIMAL(38,0), emitted as a string) closes the
    xor's even-multiplicity blind spot — and both are purely map-side
    partial-aggregated, so pinning a 100 TB corpus costs one pruned
    scan with no data-sized shuffle."""
    df = _read_batches(spark, corpus_dir, batch_ids)
    data_cols = sorted(c for c in df.columns if c != "batch_id")
    arg = ", ".join(f"`{c}`" for c in data_cols)
    agg = (
        df.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.expr(f"bit_xor(xxhash64({arg}))").alias("fp"),
            F.expr(
                f"sum(cast(xxhash64({arg}) as decimal(38,0)))"
            ).alias("fps"),
        )
        .collect()
    )
    stats = {
        int(r["batch_id"]): (
            int(r["rows"]),
            int(r["fp"] or 0),
            str(int(r["fps"] or 0)),
        )
        for r in agg
    }
    # a dir whose parquet holds zero rows still pins (rows=0, fp=0)
    for b in batch_ids:
        stats.setdefault(b, (0, 0, "0"))
    return stats


def _read_batches(
    spark: SparkSession, corpus_dir: str, batch_ids: list[int]
) -> DataFrame:
    paths = [os.path.join(corpus_dir, f"batch_id={b}") for b in batch_ids]
    return (
        spark.read.option("basePath", corpus_dir)
        .parquet(*paths)
    )


def _write_manifest(corpus_dir: str, name: str, manifest: dict) -> dict:
    """Atomic (tmp → rename) manifest write with the pinned-name
    contract: re-writing an existing name is idempotent iff the payload
    is byte-identical; a DIFFERENT manifest under a pinned name is
    refused — a snapshot name is a version, not a pointer."""
    path = _snap_path(corpus_dir, name)
    payload = json.dumps(manifest, sort_keys=True, indent=1)
    if os.path.exists(path):
        with open(path) as f:
            if f.read() == payload:
                return manifest
        raise ValueError(
            f"snapshot {name!r} already exists under {corpus_dir!r} with "
            "DIFFERENT contents — a pinned name must never silently move; "
            "pick a new name (or verify_snapshot to see what changed)"
        )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)
    return manifest


def _manifest_entries(
    stats: dict[int, tuple[int, int, str]], ids: list[int]
) -> list[dict]:
    return [
        {
            "batch_id": b,
            "rows": stats[b][0],
            "fingerprint": stats[b][1],
            "fingerprint_sum": stats[b][2],
        }
        for b in ids
    ]


def create_snapshot(
    spark: SparkSession,
    corpus_dir: str,
    name: str,
    upto_batch: int | None = None,
) -> dict:
    """Pin the corpus under ``name``: every ``batch_id=*`` dir (or only
    those ``<= upto_batch``) with its row count + content fingerprints.
    Atomic, idempotent-iff-identical (see :func:`_write_manifest`).
    Returns the manifest."""
    ids = sorted(state_subdirs(corpus_dir).values())
    if upto_batch is not None:
        ids = [b for b in ids if b <= upto_batch]
    if not ids:
        raise ValueError(
            f"no batch_id=* dirs to snapshot under {corpus_dir!r}"
            + (f" with upto_batch={upto_batch}" if upto_batch is not None else "")
        )
    stats = _batch_stats(spark, corpus_dir, ids)
    manifest = {
        "format": SNAPSHOT_FORMAT,
        "name": name,
        "batches": _manifest_entries(stats, ids),
    }
    return _write_manifest(corpus_dir, name, manifest)


def amend_snapshot(
    spark: SparkSession,
    corpus_dir: str,
    base: str,
    name: str,
    erasure_ids: list[int],
) -> dict:
    """The post-sweep SUCCESSOR pin: re-fingerprint exactly the batch
    dirs ``base`` pins (dir names survive a forget sweep; a vanished
    dir fails loudly) into a new manifest recording ``supersedes`` and
    the erasure request's hash — so the terminal ok=false audit of the
    swept ``base`` has a sanctioned continuation, and "S2 = S1 minus
    erasure E" is a pinned, re-derivable statement rather than a
    hand-built pin with no lineage. Same cost shape as
    :func:`create_snapshot`: one pruned scan, decision-sized manifest.
    Idempotent-iff-identical under the same pinned-name contract."""
    ids = _pinned_ids(corpus_dir, base)
    missing = [b for b in ids if not _has_batch(corpus_dir, b)]
    if missing:
        raise ValueError(
            f"snapshot {base!r} pins batch dirs that no longer exist: "
            f"{missing} — cannot amend a pin whose dirs are gone"
        )
    erasure = ",".join(str(i) for i in sorted(set(int(i) for i in erasure_ids)))
    stats = _batch_stats(spark, corpus_dir, ids)
    manifest = {
        "format": SNAPSHOT_FORMAT,
        "name": name,
        "supersedes": base,
        "erasure_sha256": hashlib.sha256(erasure.encode()).hexdigest(),
        "batches": _manifest_entries(stats, ids),
    }
    return _write_manifest(corpus_dir, name, manifest)


def load_manifest(corpus_dir: str, name: str) -> dict:
    path = _snap_path(corpus_dir, name)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"no snapshot {name!r} under {corpus_dir!r} "
            f"(have: {list_snapshots(corpus_dir)})"
        )
    with open(path) as f:
        manifest = json.load(f)
    if manifest.get("format") != SNAPSHOT_FORMAT:
        raise ValueError(
            f"snapshot {name!r} has format {manifest.get('format')!r}, "
            f"expected {SNAPSHOT_FORMAT!r}"
        )
    return manifest


def _pinned_ids(corpus_dir: str, name: str) -> list[int]:
    return [e["batch_id"] for e in load_manifest(corpus_dir, name)["batches"]]


def _has_batch(corpus_dir: str, batch_id: int) -> bool:
    return os.path.isdir(os.path.join(corpus_dir, f"batch_id={batch_id}"))


def list_snapshots(corpus_dir: str) -> list[str]:
    d = os.path.join(corpus_dir, SNAPSHOTS_SUBDIR)
    if not os.path.isdir(d):
        return []
    return sorted(
        f[: -len(".json")] for f in os.listdir(d) if f.endswith(".json")
    )


def manifests_df(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The snapshot LINEAGE relation: one row per pin under the corpus
    — (snapshot, n_batches, rows, supersedes, erasure_sha256) — the
    ledger an operator reads to answer "which pins exist, how big, and
    which erasure produced which successor". Driver-trivial by design:
    manifests are decision-sized JSON; no corpus scan."""
    rows = []
    for nm in list_snapshots(corpus_dir):
        m = load_manifest(corpus_dir, nm)
        rows.append(
            {
                "snapshot": nm,
                "n_batches": len(m["batches"]),
                "rows": sum(int(e["rows"]) for e in m["batches"]),
                "supersedes": m.get("supersedes"),
                "erasure_sha256": m.get("erasure_sha256"),
            }
        )
    return local_df(
        spark,
        rows,
        "snapshot string, n_batches int, rows long, "
        "supersedes string, erasure_sha256 string",
    )


def read_snapshot(
    spark: SparkSession, corpus_dir: str, name: str, verify: bool = False
) -> DataFrame:
    """The pinned corpus as a DataFrame — exactly the manifest's batch
    dirs, ``batch_id`` retained as a partition column. ``verify=True``
    runs the immutability audit first and raises on any divergence
    (default off: re-fingerprinting on every read is an audit's cost,
    not a read's)."""
    manifest = load_manifest(corpus_dir, name)
    if verify:
        bad = [
            r
            for r in verify_snapshot(spark, corpus_dir, name).collect()
            if not r["ok"]
        ]
        if bad:
            raise ValueError(
                f"snapshot {name!r} failed immutability verification on "
                f"batches {[int(r['batch_id']) for r in bad]} — the corpus "
                "was mutated under the pin (e.g. a forget sweep); this "
                "snapshot can no longer reproduce its corpus (amend_snapshot "
                "pins the swept successor)"
            )
    ids = [e["batch_id"] for e in manifest["batches"]]
    missing = [b for b in ids if not _has_batch(corpus_dir, b)]
    if missing:
        raise ValueError(
            f"snapshot {name!r} pins batch dirs that no longer exist: "
            f"{missing}"
        )
    return _read_batches(spark, corpus_dir, ids)


def verify_snapshot(
    spark: SparkSession, corpus_dir: str, name: str
) -> DataFrame:
    """The immutability audit relation: one row per pinned batch —
    (snapshot, batch_id, rows, rows_actual, ok). ``ok`` requires the
    row count and BOTH content fingerprints to match; a vanished dir
    reports rows_actual = -1. One partition-pruned scan.

    Guarantee (documented, r12 advice): this is a MUTATION detector,
    not a tamper-proof seal — xxhash64 is non-cryptographic, the xor
    is multiset-xor (blind to even-multiplicity changes on its own —
    which is why the exact sum rides alongside), and an adversary who
    can rewrite the dirs can rewrite the manifest too. It reliably
    catches what it exists to catch: in-place rewrites by the estate's
    own operators (forget sweeps, botched compactions, re-drains)."""
    manifest = load_manifest(corpus_dir, name)
    present = [
        e["batch_id"] for e in manifest["batches"]
        if _has_batch(corpus_dir, e["batch_id"])
    ]
    actual = _batch_stats(spark, corpus_dir, present) if present else {}
    rows = []
    for e in manifest["batches"]:
        b = e["batch_id"]
        got = actual.get(b)
        # pre-r13 manifests carry no fingerprint_sum; the xor still
        # audits them (the sum check arms only when the key is pinned)
        sum_ok = (
            "fingerprint_sum" not in e
            or (got is not None and got[2] == e["fingerprint_sum"])
        )
        rows.append(
            {
                "snapshot": name,
                "batch_id": b,
                "rows": e["rows"],
                "rows_actual": got[0] if got else -1,
                "ok": bool(
                    got
                    and got[0] == e["rows"]
                    and got[1] == e["fingerprint"]
                    and sum_ok
                ),
            }
        )
    return local_df(
        spark,
        rows,
        "snapshot string, batch_id int, rows long, rows_actual long, ok boolean",
    )


def snapshot_diff(
    spark: SparkSession, corpus_dir: str, base: str, target: str
) -> DataFrame:
    """Rows admitted between two pins: the batch dirs in ``target``
    and not in ``base``. Requires ``base``'s batch set ⊆ ``target``'s
    (corpus batches are append-only under the drains; a non-nested pair
    means the pins came from different corpora — fail loud, an id-level
    anti-join would silently 'work' and hide that). Reads ONLY the
    delta dirs."""
    ids_b = set(_pinned_ids(corpus_dir, base))
    ids_t = set(_pinned_ids(corpus_dir, target))
    if not ids_b <= ids_t:
        raise ValueError(
            f"snapshot {base!r} pins batches {sorted(ids_b - ids_t)} that "
            f"{target!r} does not — not an append lineage, refusing to diff"
        )
    delta = sorted(ids_t - ids_b)
    if not delta:
        return _read_batches(spark, corpus_dir, sorted(ids_t)).limit(0)
    return _read_batches(spark, corpus_dir, delta)


# -- pin-aware serving: an index that knows which pin it serves --------------


def index_pin(index_dir: str) -> dict:
    """The pin marker a pin-built index carries (text or media):
    ``{"corpus_dir": ..., "snapshot": ...}``, plus ``"pending"`` while
    an advance is in flight. Fail-loud when absent — advancing an index
    that never declared its corpus version would silently mix
    lineages."""
    p = os.path.join(index_dir, PIN_META)
    if not os.path.exists(p):
        raise ValueError(
            f"{index_dir!r} carries no {PIN_META} — not a pin-built "
            "index. Build it with build_index_at_pin so the corpus "
            "version it serves is recorded beside the store."
        )
    with open(p) as f:
        return json.load(f)


def _write_pin(
    index_dir: str, corpus_dir: str, snapshot: str, pending: dict | None = None
) -> None:
    marker = {"corpus_dir": os.path.abspath(corpus_dir), "snapshot": snapshot}
    if pending is not None:
        marker["pending"] = pending
    p = os.path.join(index_dir, PIN_META)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(marker, f)
    os.replace(tmp, p)


def build_index_at_pin(
    spark: SparkSession,
    corpus_dir: str,
    snapshot: str,
    index_dir: str,
    modality: str,
    **build_kwargs,
) -> None:
    """Build a ``modality`` ANN index (the modality's public writer,
    sinks/text_index.write_text_index or sinks/media_index.
    write_media_index, with ``build_kwargs``) from EXACTLY the pinned
    corpus — the manifest-pruned read, no corpus listing — and record
    the pin beside the store. The quantizers train on the pin's rows;
    later :func:`advance_index_to_pin` appends with those parameters
    frozen (the store's documented quantizer-drift trade, measured by
    the recall audit and repaired by the rebuild-if-stale loop). For
    media, the pinned rows must carry the columns the codec featurizes
    (kind/payload/meta) — i.e. a multimodal drain's out_dir."""
    pinned = read_snapshot(spark, corpus_dir, snapshot)
    _si.public(modality, "write")(pinned.drop("batch_id"), index_dir, **build_kwargs)
    _write_pin(index_dir, corpus_dir, snapshot)


def advance_index_to_pin(
    spark: SparkSession,
    corpus_dir: str,
    index_dir: str,
    target: str,
    batch_id: int | None = None,
    **append_kwargs,
) -> dict:
    """Advance a pin-built index from the pin it serves to ``target``
    by appending ONLY the snapshot diff — the incremental refresh a
    pin-move implies, at the delta's cost: the diff read opens exactly
    the new batch dirs, and the append (the public appender of the
    modality the index's own meta names, with ``append_kwargs``)
    featurizes them with the index's frozen featurizer and encodes
    against its frozen quantizers, incl. the fail-loud live-tombstone
    guard. A zero-delta move (e.g. onto an :func:`amend_snapshot`
    successor, whose batch SET is unchanged) advances the marker
    without touching the store — erasure reaches indexes through
    sinks/forget.forget, not through pin-moves. Non-lineage moves
    (target missing one of base's batches) fail loud in
    :func:`snapshot_diff`.

    Retry-safe: before appending, the marker records the target and
    the delta's batch id as ``pending`` (an ad-hoc id is chosen up
    front), and the final marker drops it. A process that dies between
    the append and the marker move leaves ``pending`` behind, and the
    retry rewrites the same batch dir instead of appending the diff a
    second time. While an advance is pending, moving to another target
    or under another explicit ``batch_id`` raises. Returns
    ``{"base", "target", "appended_batches"}``."""
    pin = index_pin(index_dir)
    base, pending = pin["snapshot"], pin.get("pending")
    if pending is not None and (
        pending["target"] != target or batch_id not in (None, pending["batch_id"])
    ):
        raise ValueError(
            f"{index_dir!r} has an interrupted advance to "
            f"{pending['target']!r} (batch_id={pending['batch_id']}) — "
            "re-run that advance before moving the pin elsewhere"
        )
    if base == target:
        return {"base": base, "target": target, "appended_batches": []}
    delta = snapshot_diff(spark, corpus_dir, base, target)
    appended = sorted(
        set(_pinned_ids(corpus_dir, target)) - set(_pinned_ids(corpus_dir, base))
    )
    if appended:
        modality = _si.modality_of(index_dir)
        if pending is not None:
            batch_id = pending["batch_id"]
        elif batch_id is None:
            kind = _si.index_meta(index_dir, modality)["kind"]
            batch_id = _vi.next_batch_id(_vi.store_dir(index_dir, kind))
        _write_pin(
            index_dir, corpus_dir, base, {"target": target, "batch_id": batch_id}
        )
        _si.public(modality, "append")(
            delta.drop("batch_id"), index_dir, batch_id=batch_id,
            **append_kwargs,
        )
    _write_pin(index_dir, corpus_dir, target)
    return {"base": base, "target": target, "appended_batches": appended}
