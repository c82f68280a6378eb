"""Persisted vector indexes: build once, append deltas, query many times
with partition pruning.

``ivf_knn`` (operators/similarity.py) recomputes centroids and the
corpus assignment on every call — right for one-shot queries, wrong
for a served index over a 100 TB corpus. This sink persists three
store kinds, declared once in :data:`KINDS`:

* ``ivf`` — ``<path>/centroids`` (cell, cv) plus ``<path>/postings``
  (neighbor_id, embedding, cell);
* ``ivfpq`` — ``centroids/``, ``codebooks/`` and ``<path>/codes``
  (neighbor_id, sub, code, cell): m small ints per vector instead of d
  floats;
* ``binary`` — ``<path>/sigs`` (neighbor_id, sig array<bigint>), the
  32x-compressed sign-bit form, with no trained parameters at all.

Each kind's query runs the probe its in-memory operator runs
(``similarity.ivf_probe`` / ``ivfpq_probe`` / ``hamming_probe``, all
cut by ``similarity.top_k``) on the relations read from disk; this
module scores nothing itself.

Every data store is a counting_state SET store (``batch_id=<i>/…``
dirs — build writes batch 0, each append adds the next batch id). The
IVF stores partition each batch dir **by cell**, so a query probing
``n_probe`` cells reads only those directories — real partition
pruning, verified by plan assertions in tests/test_vector_index.py.
The binary store keeps no inner partitioning: its Hamming scan reads
every signature by design. Each store carries counting_state's
``_meta.json`` format marker, and :func:`compact_store` folds the batch
dirs into one generation via ``counting_state.compact_counts(
agg="distinct")`` with the kind's partitioning — the dir listing stays
bounded across appends without giving up pruned probes, and the
generation's subsumption manifest keeps the probe path's RAW reader
(no per-query distinct shuffle) exact across a crash-interrupted GC.

Centroids come from :func:`kmeans_refine` (deterministic Lloyd steps)
so a rebuilt index on the same corpus is byte-identical — the property
that makes index builds idempotent and diffable across runs.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import (
    binary_sigs,
    exact_l2_topk_set,
    hamming_probe,
    ivf_assign,
    ivf_centroids,
    ivf_probe,
    ivfpq_encode,
    ivfpq_probe,
    kmeans_refine,
    pq_codebooks,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs

# Stream-owned batch ids live at STREAM_ID_BASE + <micro-batch id> so a
# stream and ad-hoc appends can share one store without colliding: the
# ad-hoc path allocates below the base, the stream's checkpoint-monotonic
# ids map above it, and generations stay negative.
STREAM_ID_BASE = 1_000_000_000


def store_dir(path: str, kind: str) -> str:
    """The data store dir of the ``kind`` index at ``path``."""
    return f"{path}/{KINDS[kind].subdir}"


def store_meta(path: str, kind: str) -> dict:
    """The ``kind`` store's ``_meta.json`` format marker ({} for a
    pre-marker store)."""
    p = os.path.join(store_dir(path, kind), _cs.META)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def next_batch_id(store: str) -> int:
    """The next free AD-HOC batch id of ``store`` (always below
    STREAM_ID_BASE). It must clear the newest generation's manifest
    too, not just the live listing: after a compaction the folded ids
    are SUBSUMED (readers exclude them and the next compaction
    GC-deletes their dirs), so reusing one would silently disappear the
    delta."""
    used = set(_cs.state_subdirs(store).values()) | _cs.subsumed_ids(store)
    return max((i for i in used if 0 <= i < STREAM_ID_BASE), default=-1) + 1


def _write_delta(
    rows: DataFrame,
    store: str,
    batch_id: int | None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Write a delta as a batch dir (``partition_by`` names the inner
    partitioning). ``batch_id=None`` takes :func:`next_batch_id`; an
    EXPLICIT id is the streaming caller's idempotence hook — a retried
    micro-batch overwrites its own dir instead of minting a new one
    (the counting_state retry contract)."""
    if batch_id is None:
        batch_id = next_batch_id(store)
    writer = rows.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(store, f"batch_id={batch_id}"))


def _replace_store(path: str, kind: str, rows: DataFrame, **marker) -> None:
    """The writers' shared tail. A rebuild REPLACES the store: clear it
    so the fresh marker + batch 0 are the whole state (stamp before
    writing — stamp_meta refuses marker-less non-empty stores by
    design)."""
    store = store_dir(path, kind)
    shutil.rmtree(store, ignore_errors=True)
    _cs.stamp_meta(store, {"format": KINDS[kind].fmt, **marker})
    _write_delta(rows, store, 0, KINDS[kind].partition_by)


def _reject_legacy_flat_store(store: str) -> None:
    """A pre-store index laid its postings out as top-level ``cell=*``
    dirs with no ``batch_id=*`` level. :func:`read_store` still reads
    that layout, but APPENDING a batch dir beside it would give the
    directory two conflicting partition structures ({cell} vs
    {batch_id, cell}) and brick every subsequent read — so refuse
    loudly and direct the caller to rebuild. A no-op for the flat sig
    store, which never has ``cell=*`` dirs."""
    if not os.path.isdir(store):
        return
    has_cells = any(
        d.startswith("cell=") and os.path.isdir(os.path.join(store, d))
        for d in os.listdir(store)
    )
    if has_cells and not _cs.state_subdirs(store):
        raise ValueError(
            f"{store} uses the legacy flat cell=* layout — appending a "
            "batch_id=* dir beside it would corrupt partition "
            "discovery. Rebuild the index (write_*_index) to migrate "
            "it to the batch-dir store"
        )


def _append_delta(
    new_vectors: DataFrame,
    path: str,
    kind: str,
    id_col: str,
    batch_id: int | None,
    encode: Callable[[SparkSession], DataFrame],
) -> None:
    """The appends' shared frame: guard live tombstones, encode the
    delta against the index's frozen parameters, refuse the legacy
    layout, stamp, and write the delta as the store's next batch dir.

    The append contract, for every kind: the delta is encoded against
    the index's own persisted quantizers (broadcast, map-only), so an
    append is exactly equivalent to having built with the union corpus
    from the start — literally so for the binary store, which has no
    trained parameters; for IVF/IVFPQ quantizer drift is the accepted
    trade (same as FAISS's ``add`` after ``train``) until the recall
    audit (:func:`index_recall`) triggers a rebuild. Prior batch dirs
    and generations are never touched, and the idempotent per-dir
    overwrite makes a retried append converge; :func:`compact_store`
    folds the listing back to one generation. Caller contract: delta
    ids must be disjoint from the indexed ids (dedup upstream, or the
    reader sees duplicates, exactly as with any append-only store), and
    appending an id with a LIVE tombstone raises (see
    :func:`_guard_live_tombstones`)."""
    _guard_live_tombstones(new_vectors, path, id_col)
    rows = encode(new_vectors.sparkSession)
    store = store_dir(path, kind)
    _reject_legacy_flat_store(store)
    _cs.stamp_meta(store, {"format": KINDS[kind].fmt})
    _write_delta(rows, store, batch_id, KINDS[kind].partition_by)


def _read_live(spark: SparkSession, store: str) -> DataFrame:
    """A RAW scan over a store's live dirs: the batch ids the newest
    generation's manifest subsumes are excluded, nothing else is
    folded, and ``batch_id`` is dropped. No per-query distinct shuffle:
    the append contract (delta ids disjoint from indexed ids) plus the
    manifest keep live rows exact, so a probe pays only the pruned
    scan. A plain directory with no ``batch_id=*`` level (the pre-store
    layout, hand-built test fixtures) reads unchanged."""
    df = spark.read.parquet(store)
    excluded = _cs.subsumed_ids(store)
    if excluded:
        df = df.filter(~F.col("batch_id").isin([int(i) for i in excluded]))
    if "batch_id" in df.columns:
        df = df.drop("batch_id")
    return df


def read_store(spark: SparkSession, path: str, kind: str) -> DataFrame:
    """The live relation of the ``kind`` index at ``path`` — postings
    (neighbor_id, embedding, cell), codes (neighbor_id, sub, code,
    cell) or sigs (neighbor_id, sig) — with live tombstones applied."""
    return _apply_tombstones(_read_live(spark, store_dir(path, kind)), spark, path)


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    return read_store(spark, path, "ivf")


def read_codes(spark: SparkSession, path: str) -> DataFrame:
    return read_store(spark, path, "ivfpq")


def read_sigs(spark: SparkSession, path: str) -> DataFrame:
    return read_store(spark, path, "binary")


def compact_store(
    spark: SparkSession, path: str, kind: str, exclude_from: int | None = None
) -> None:
    """Fold the ``kind`` store's batch dirs into ONE generation —
    counting_state.compact_counts in ``distinct`` mode, partitioned the
    way the kind partitions its batch dirs (by cell for IVF/IVFPQ, so
    probes keep their pruning), physically dropping tombstoned rows,
    then GC the absorbed tombstone dirs — but ONLY when the fold covered
    every live data dir (``exclude_from=None``): an excluded in-flight
    dir keeps its rows raw, so its tombstones must stay live or the
    delete would silently resurrect. Crash-safety: tombstone deletion is
    pure GC — a crash before it leaves the tombstones live and the
    anti-join re-applies them (idempotent)."""
    store = store_dir(path, kind)
    tdirs = _cs.state_subdirs(_tomb_store(path)) if exclude_from is None else {}
    drop = (
        spark.read.parquet(*tdirs.keys()).select("neighbor_id").distinct()
        if tdirs
        else None
    )
    df = spark.read.parquet(store)
    fields = [f for f in df.schema.fields if f.name != "batch_id"]
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    folded = _cs.compact_counts(
        spark,
        store,
        schema,
        [f.name for f in fields],
        None,
        exclude_from=exclude_from,
        agg="distinct",
        partition_by=list(KINDS[kind].partition_by) or None,
        drop_keys=drop,
    )
    if folded and tdirs:
        # the folded generation no longer contains the dropped ids and
        # the append contract forbids id reuse — the snapshot of
        # tombstone dirs read above is fully absorbed. Dirs appended
        # AFTER the snapshot stay live for the next cycle.
        for p in tdirs:
            shutil.rmtree(p, ignore_errors=True)


# -- ivf: raw vectors in cell-partitioned postings -----------------------------


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    refine_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and persist the index. ``refine_iters=0`` keeps the raw
    seeded centroids (cheapest build); ≥1 runs deterministic Lloyd
    refinement first."""
    if refine_iters > 0:
        cents = kmeans_refine(corpus, n_cells, refine_iters, id_col, vec_col)
    else:
        cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    # seeds are float vectors, refined centroids double — store double
    cents = cents.select("cell", F.col("cv").cast("array<double>").alias("cv"))
    assigned = ivf_assign(corpus, cents, id_col, vec_col, out_id="neighbor_id")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    _replace_store(path, "ivf", assigned, n_cells=n_cells)


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Assign a delta to the index's FROZEN centroids and append it
    (the :func:`_append_delta` contract; ``tests/test_vector_index.py``
    pins append == build with the union corpus)."""
    _append_delta(
        new_vectors, path, "ivf", id_col, batch_id,
        lambda spark: ivf_assign(
            new_vectors, spark.read.parquet(f"{path}/centroids"),
            id_col, vec_col, out_id="neighbor_id",
        ),
    )


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, score): similarity.ivf_probe — the probe
    ivf_knn runs — over the persisted centroids and postings. The
    ``cell IN (probed)`` join key reaches the postings scan as a
    partition filter — only the probed directories are read."""
    cents = spark.read.parquet(f"{path}/centroids")
    postings = read_postings(spark, path)
    return ivf_probe(cents, postings, queries, n_probe, k, id_col, vec_col)


# -- ivfpq: the coarse cells prune, the PQ codes shrink each posting to m
# small ints — the layout a billion-vector served index actually stores.


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and persist the IVFPQ index (similarity.ivfpq_topk's
    non-residual contract): ``centroids/`` (coarse seed cells),
    ``codebooks/`` (per-subspace PQ codebooks), and the ``codes/``
    store."""
    cents = ivf_centroids(corpus, n_cells, id_col, vec_col)
    cb = pq_codebooks(corpus, m, n_codes, iters, id_col, vec_col)
    codes = ivfpq_encode(corpus, cents, cb, m, id_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    _replace_store(path, "ivfpq", codes, n_cells=n_cells, m=m, n_codes=n_codes)


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Encode a delta against the index's FROZEN centroids and
    codebooks and append it (the :func:`_append_delta` contract)."""

    def encode(spark: SparkSession) -> DataFrame:
        cents = spark.read.parquet(f"{path}/centroids")
        cb = spark.read.parquet(f"{path}/codebooks")
        m = _codes_m(spark, path, cb)
        return ivfpq_encode(new_vectors, cents, cb, m, id_col, vec_col)

    _append_delta(new_vectors, path, "ivfpq", id_col, batch_id, encode)


def _codes_m(spark: SparkSession, path: str, cb: DataFrame) -> int:
    """The index's subspace count: from the codes store's format
    marker when present (no job), else one tiny distinct over the
    broadcastable codebooks (pre-marker stores)."""
    m = store_meta(path, "ivfpq").get("m")
    return int(m) if m is not None else cb.select("sub").distinct().count()


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, dist): similarity.ivfpq_probe — the probe
    ivfpq_topk runs — over the persisted centroids, codebooks and
    codes. The ``cell`` membership of the probed set reaches the codes
    scan as a partition filter, and each surviving candidate costs m
    lookup-table additions."""
    cents = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks")
    m = _codes_m(spark, path, cb)
    return ivfpq_probe(
        cents, cb, read_codes(spark, path), queries, m, n_probe, k, id_col, vec_col
    )


# -- binary: sign-bit signatures (operators/similarity.sign_signature). The
# sign function is frozen by definition, so appends are EXACTLY a fresh
# build on the union corpus, and the Hamming scan deliberately reads every
# signature: XOR+popcount over m words is the cheapest whole-corpus metric,
# which is why the store keeps no inner partitioning to prune by.


def write_binary_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and persist the ``sigs/`` signature store."""
    _replace_store(path, "binary", binary_sigs(corpus, id_col, vec_col), word_bits=32)


def append_to_binary_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Append a delta's signatures (the :func:`_append_delta` contract;
    an appended store is EXACTLY a fresh build on the union corpus —
    pinned by tests/test_vector_index.py)."""
    _append_delta(
        new_vectors, path, "binary", id_col, batch_id,
        lambda spark: binary_sigs(new_vectors, id_col, vec_col),
    )


def query_binary_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, hamming): similarity.hamming_probe — the
    probe binary_hamming_topk runs — over the stored signatures. For
    the exact-rerank funnel, feed these candidates to
    similarity.exact_l2_rerank with the caller's raw corpus."""
    return hamming_probe(read_sigs(spark, path), queries, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# Tombstone deletes — the GDPR-erasure path (reference theme: salted
# hashing of user identifiers, README.md:328). A served corpus must be
# able to forget a vector without a full index rebuild: deletes land as
# id-tombstone batch dirs in a sibling ``<path>/tombstones`` store
# (same counting_state delta machinery as the data stores), every
# probe reader anti-joins the live tombstones, and the next full
# compaction PHYSICALLY drops tombstoned rows from the folded
# generation and garbage-collects the absorbed tombstone dirs.
# ---------------------------------------------------------------------------

_TOMB_FORMAT = "index-tombstones/v1"


def _tomb_store(path: str) -> str:
    return f"{path}/tombstones"


def delete_from_index(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    batch_id: int | None = None,
) -> None:
    """Mark ids deleted in the index at ``path`` (works identically for
    IVF, IVFPQ, and binary stores — tombstones are index-agnostic id
    lists). Same delta contract as the appends: idempotent per-dir
    overwrite (an explicit ``batch_id`` is the streaming/retry hook),
    prior dirs untouched.

    Semantics: a tombstone shadows its id from every subsequent read
    until a FULL compaction (``exclude_from=None``) physically drops
    the rows and absorbs the tombstone. Re-adding a deleted id while
    its tombstone is live is unsupported (the anti-join would shadow
    the new row too) — erase, compact, then re-add; the appends
    ENFORCE this by raising on any live-tombstoned id in the batch
    (:func:`_guard_live_tombstones`)."""
    rows = ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    store = _tomb_store(path)
    _cs.stamp_meta(store, {"format": _TOMB_FORMAT})
    _write_delta(rows, store, batch_id)


def read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The live deleted-id relation (neighbor_id), or None when the
    index has no tombstone store / no live tombstone dirs."""
    store = _tomb_store(path)
    if not _cs.state_subdirs(store):
        return None
    return _read_live(spark, store).select("neighbor_id")


def _apply_tombstones(df: DataFrame, spark: SparkSession, path: str) -> DataFrame:
    """Anti-join the live tombstones onto a data-store read. No forced
    broadcast: the erasure backlog is USUALLY tiny between compactions
    (AQE will pick a broadcast join on its own), but it is unbounded in
    the worst case — a quarter's GDPR queue drained right before a
    compaction — and :func:`compact_store` already lets AQE choose for
    exactly that reason; forcing the hint here would pin two code paths
    to contradictory assumptions about the same relation (r10 ADVICE).
    The data side's partition pruning (cell dirs) is untouched by an
    anti-join on neighbor_id."""
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return df
    return df.join(tomb, "neighbor_id", "left_anti")


def _guard_live_tombstones(new_vectors: DataFrame, path: str, id_col: str) -> None:
    """Fail-loud re-add guard shared by the appends: an appended id
    whose tombstone is still live would be SILENTLY shadowed by every
    read until the next full compaction physically drops it — data
    loss from the caller's perspective. The documented contract (erase
    → full compact → re-add) is therefore enforced, matching the repo's
    fail-loud discipline for ragged/null vectors (r10 verdict #2).
    Cost: zero when the index has no live tombstone dirs (one directory
    listing); otherwise one semi-join of the bounded append batch
    against the bounded erasure backlog."""
    spark = new_vectors.sparkSession
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return
    hit = (
        new_vectors.select(F.col(id_col).alias("neighbor_id"))
        .join(tomb, "neighbor_id", "semi")
        .limit(5)
        .collect()
    )
    if hit:
        ids = sorted(r["neighbor_id"] for r in hit)
        raise ValueError(
            f"append to {path!r} contains ids with LIVE tombstones "
            f"(sample: {ids}) — the rows would be invisibly shadowed "
            "until the next full compaction drops them. Erase, run a "
            "full compaction, then re-add (delete_from_index contract)."
        )


# ---------------------------------------------------------------------------
# The kind table — THE one place the ivf | ivfpq | binary → store layout /
# function mapping lives. The streaming drains, the modality lifecycle
# (sinks/served_index.py) and the estate catalog, forget sweep and
# maintenance executor all consume it; encoding the mapping locally in
# each consumer is how a fourth store kind ends up batch-appendable but
# not streamable (r11 review catch).
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Kind:
    subdir: str  # the data store dir under the index path
    fmt: str  # the store's _meta.json format marker
    partition_by: tuple[str, ...]  # inner partitioning of each batch dir
    write: Callable[..., None]
    append: Callable[..., None]
    query: Callable[..., DataFrame]


KINDS = {
    "ivf": Kind(
        "postings", "ivf-postings/v1", ("cell",),
        write_ivf_index, append_to_ivf_index, query_ivf_index,
    ),
    "ivfpq": Kind(
        "codes", "ivfpq-codes/v1", ("cell",),
        write_ivfpq_index, append_to_ivfpq_index, query_ivfpq_index,
    ),
    "binary": Kind(
        "sigs", "binary-sigs/v1", (),
        write_binary_index, append_to_binary_index, query_binary_index,
    ),
}


def check_kind(kind: str) -> str:
    """Validate a store kind against the kind table, fail-loud."""
    if kind not in KINDS:
        raise ValueError(f"unknown index kind {kind!r} (ivf | ivfpq | binary)")
    return kind


def built_kinds(path: str) -> list[str]:
    """The kinds whose store dir exists under ``path``."""
    return [
        k for k, row in KINDS.items() if os.path.isdir(os.path.join(path, row.subdir))
    ]


# -- staleness audit + drift-triggered rebuild --------------------------------
#
# Appends encode against FROZEN quantizers — the accepted trade of every
# streaming maintainer above. The rebuild SIGNAL has always been "the
# recall audit", but nothing made that signal operational: measure the
# served store against exact ground truth, and retrain + replace only
# when it has actually gone stale.


def infer_kind(path: str) -> str:
    """Which store kind lives at ``path``, from the store layout itself
    (exactly one of postings/ codes/ sigs/ exists for a built index).
    Fail-loud on none or several — a path that isn't a single built
    index must not be silently audited as one."""
    found = built_kinds(path)
    if len(found) != 1:
        raise ValueError(
            f"{path!r} holds {found or 'no'} store dirs — expected exactly "
            "one of postings/codes/sigs (a single built index)"
        )
    return found[0]


def index_recall(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    kind: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **probe_kwargs,
) -> float:
    """Recall@k of the PERSISTED store's probe against the exact-L2
    truth set over ``corpus`` (similarity.exact_l2_topk_set — the same
    ground-truth definition every registry recall audit uses). The
    probe runs the store's own pruned read path; the truth set
    broadcasts the bounded query set; the returned scalar is the only
    driver-side materialization."""
    kind = check_kind(kind or infer_kind(path))
    approx = KINDS[kind].query(
        spark, path, queries, k=k, id_col=id_col, vec_col=vec_col, **probe_kwargs
    ).select("query_id", "neighbor_id")
    exact = exact_l2_topk_set(corpus, queries, k, id_col, vec_col)
    # ONE action: the exact truth set (broadcast join + per-query window
    # over the full corpus) is the expensive relation here, and the
    # staleness loop evaluates recall repeatedly — hits and total come
    # out of a single left-join aggregate instead of two jobs that each
    # recompute it (r11 review).
    hit = approx.dropDuplicates(["query_id", "neighbor_id"]).withColumn(
        "__hit", F.lit(1)
    )
    row = (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .agg(F.count("*").alias("total"), F.count("__hit").alias("hits"))
        .first()
    )
    return row["hits"] / row["total"] if row["total"] else 1.0


def rebuild_index_if_stale(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    min_recall: float,
    k: int = 5,
    kind: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_kwargs: dict | None = None,
    build_kwargs: dict | None = None,
) -> dict:
    """The drift-triggered rebuild loop, closed: measure
    :func:`index_recall` on a probe set; if it clears ``min_recall``
    leave the store untouched, otherwise retrain quantizers and rewrite
    the store from ``corpus`` (the writers' documented REPLACE
    semantics — rebuilds on the same corpus are deterministic, so the
    swap is idempotent) and re-measure.

    ``corpus`` must be the SURVIVING corpus (the same relation a
    rebuild-equivalence compaction would keep): after the new store
    lands, the tombstone dir is GC'd — every erased id is already
    physically absent from a store rebuilt from survivors, and a
    tombstone left live would silently shadow a legitimately re-added
    id (the fail-loud append guard keys off live tombstones). The GC
    runs AFTER the write so a crash mid-rebuild never leaves deleted
    ids un-shadowed.

    Returns ``{"kind", "recall", "rebuilt", "recall_after"}`` —
    ``recall_after`` is None when no rebuild ran. Single-writer
    discipline: don't run concurrently with an append/delete stream on
    the same store (the compaction rule)."""
    kind = check_kind(kind or infer_kind(path))
    probe_kwargs = probe_kwargs or {}

    def _recall() -> float:
        return index_recall(
            spark, path, corpus, queries, k, kind, id_col, vec_col,
            **probe_kwargs,
        )

    return staleness_rebuild(
        path,
        kind,
        min_recall,
        _recall,
        lambda: KINDS[kind].write(
            corpus, path, id_col=id_col, vec_col=vec_col,
            **(build_kwargs or {}),
        ),
    )


def staleness_rebuild(
    path: str,
    kind: str,
    min_recall: float,
    recall_fn,
    rebuild_fn,
) -> dict:
    """THE one copy of the staleness loop's measure → compare → rebuild
    → GC-tombstones → re-measure skeleton (r11 review: the raw-vector,
    text, and media wrappers each encoded it separately). The ordering
    contract that matters for correctness lives here exactly once: the
    tombstone dir is GC'd strictly AFTER ``rebuild_fn`` has landed the
    new store, so a crash mid-rebuild never leaves erased ids
    un-shadowed. ``rebuild_fn`` must write from the SURVIVING corpus
    (the wrappers' documented contract)."""
    before = recall_fn()
    if before >= min_recall:
        return {"kind": kind, "recall": before, "rebuilt": False,
                "recall_after": None}
    rebuild_fn()
    shutil.rmtree(_tomb_store(path), ignore_errors=True)
    return {"kind": kind, "recall": before, "rebuilt": True,
            "recall_after": recall_fn()}


def index_stats(spark: SparkSession, path: str, kind: str | None = None) -> dict:
    """The served store's ops view, decision-sized: per-cell posting/
    code counts (fill skew is what degrades probe latency — a hot cell
    makes every n_probe read pay for it), live batch-dir count (the
    compaction trigger), tombstone backlog (the erasure SLA meter and
    the anti-join size every probe pays until the next full
    compaction), and total live rows. One aggregate job over the pruned
    raw reader; the returned dict is ≤ n_cells entries — the dashboard
    relation for a store, computed by the store's own read path.

    Returns ``{"kind", "rows", "live_dirs", "tombstones", "cells":
    {cell: n, ...} | None}`` — ``cells`` is None for the flat binary
    store (no cell level to skew)."""
    kind = check_kind(kind or infer_kind(path))
    df = read_store(spark, path, kind)
    if not KINDS[kind].partition_by:
        rows = df.count()
        cells = None
    else:
        # ivfpq counts CODE rows per cell; normalize to vectors by the
        # distinct neighbor count per cell (m sub-codes per vector)
        per = (
            df.select("cell", "neighbor_id")
            .distinct()
            .groupBy("cell")
            .count()
            .collect()
        )
        cells = {int(r["cell"]): int(r["count"]) for r in per}
        rows = sum(cells.values())
    return {
        "kind": kind,
        "rows": rows,
        "live_dirs": _cs.live_dir_count(store_dir(path, kind)),
        "tombstones": (
            0 if (tomb := read_tombstones(spark, path)) is None
            else tomb.count()
        ),
        "cells": cells,
    }
