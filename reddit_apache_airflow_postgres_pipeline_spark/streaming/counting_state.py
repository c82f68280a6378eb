"""Shared crash-safe COUNTING-state store for streaming sketches —
the generation-folding layout behind the CMS stream (cms_stream.py)
and the quantile-sketch stream (qsketch_stream.py), generalized over
the cell key columns.

Layout contract (streaming/drain.py's, plus the manifest):
per-micro-batch parquet dirs under ``state_dir/batch_id=<i>`` with
idempotent overwrite; compaction folds live dirs into a new generation
dir (negative batch_id). Because SUM-merged counting state has no
duplicate absorption (a generation PLUS a lingering folded dir
double-counts — unlike the HLL stream's max-merge), every generation
commits with a ``_subsumed.json`` manifest atomic with the generation
rename; readers take the NEWEST generation's manifest as the exclusion
set, making post-rename deletes pure GC. Spark's parquet reader skips
``_``-prefixed files, so the manifest lives inside the generation dir.

At 100 TB/day: each batch contributes one bounded dir (the batch's own
aggregation is the only shuffle), and compaction is a key-wise sum over
≤(dirs × cells) rows — trivially parallel, no single-task fold.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

# the per-batch layout lives in streaming/drain.py; re-exported here
# because the counting stores' callers address it through this module
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (  # noqa: F401
    MANIFEST,
    live_dir_count,
    state_subdirs,
    subsumed_ids,
)

META = "_meta.json"

# every gate drain stamps its out_dir with this marker so the admitted
# corpus classifies as a first-class estate member (sinks/catalog.py):
# the forget sweep reaches the payloads themselves and the snapshot
# layer (sinks/snapshots.py) knows which id column it is pinning
CORPUS_FORMAT = "admitted-corpus/v1"


def stamp_corpus_meta(out_dir: str, id_col: str, modality: str) -> None:
    """Mark a drain's out_dir as an admitted corpus (same stamp-once /
    verify-later contract as :func:`stamp_meta` — a drain restarted
    with a different id column or modality onto the same corpus fails
    at the marker instead of silently mixing schemas)."""
    stamp_meta(
        out_dir,
        {"format": CORPUS_FORMAT, "id_col": id_col, "modality": modality},
    )


def stamp_meta(state_dir: str, meta: dict, migrate: bool = False) -> None:
    """Write the store's format marker (atomic tmp→rename) on first
    write; on later writes verify it. Guards against silently merging
    state persisted under a different geometry/hash format — e.g. an
    HLL store written by the pre-60-bit hash code passes the runtime
    register/rank guard but hashes keys to different registers, so the
    mismatch must be caught HERE, at the store boundary (ADVICE r6).

    A store that already holds ``batch_id=*`` dirs but NO marker is a
    legacy store of unknown format: stamping it would bless whatever
    is in there as the caller's format (the exact silent-merge the
    marker exists to stop), so that is refused unless the caller
    passes ``migrate=True`` to assert the legacy state really was
    written under ``meta`` (ADVICE r7). Empty/new stores auto-stamp."""
    os.makedirs(state_dir, exist_ok=True)
    path = os.path.join(state_dir, META)
    if os.path.exists(path):
        check_meta(state_dir, meta)
        return
    if state_subdirs(state_dir) and not migrate:
        raise ValueError(
            f"state store {state_dir} holds batch dirs but no {META} "
            "marker — its format is unknown, so refusing to stamp it "
            f"as {meta!r}. Pass migrate=True only if the existing "
            "state is known to have been written under this format; "
            "otherwise rebuild the store"
        )
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, path)


def check_meta(state_dir: str, expected: dict) -> None:
    """Reject a store whose marker disagrees with ``expected`` on any
    shared key. A store with NO marker passes (pre-marker stores and
    empty dirs) — the writer stamps on every run, so any store this
    code ever wrote carries one."""
    path = os.path.join(state_dir, META)
    if not os.path.exists(path):
        return
    with open(path) as f:
        found = json.load(f)
    bad = {
        k: (found.get(k), v)
        for k, v in expected.items()
        if k in found and found[k] != v
    }
    if bad:
        detail = ", ".join(
            f"{k}: store has {a!r}, caller expects {b!r}"
            for k, (a, b) in sorted(bad.items())
        )
        raise ValueError(
            f"state store {state_dir} format mismatch ({detail}) — "
            "rebuild the store instead of merging incompatible state"
        )


def read_counts(
    spark: SparkSession,
    state_dir: str,
    cell_schema: str,
    key_cols: list[str],
    value_col: str | None,
    before_batch: int | None = None,
    agg: str = "sum",
) -> DataFrame:
    """The current folded state: key-wise fold over every live dir —
    live = not named by the newest generation's manifest, and (on the
    retry path) not written by batch ids ≥ ``before_batch``;
    generations (negative ids) always pass the retry filter.
    ``agg``: "sum" (counting state — needs the manifest), "max"
    (absorbing state, e.g. HLL registers — manifest-free), or
    "distinct" (SET state, e.g. heavy-hitter candidates or IVF
    postings — pass ``value_col=None``; duplicate dirs absorb, and
    compaction ALSO writes the manifest for raw set-readers)."""
    if agg == "distinct" and value_col is not None:
        raise ValueError("distinct state has no value column")
    try:
        df = spark.read.schema(
            cell_schema + ", batch_id long"
        ).parquet(state_dir)
    except AnalysisException:
        return local_df(spark, [], cell_schema)
    excluded = subsumed_ids(state_dir)
    if excluded:
        df = df.filter(~F.col("batch_id").isin([int(i) for i in excluded]))
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < before_batch)
    if agg == "distinct":
        return df.select(*key_cols).distinct()
    fold = {"sum": F.sum, "max": F.max}[agg]
    return df.groupBy(*key_cols).agg(fold(value_col).alias(value_col))


def compact_counts(
    spark: SparkSession,
    state_dir: str,
    cell_schema: str,
    key_cols: list[str],
    value_col: str | None,
    exclude_from: int | None = None,
    agg: str = "sum",
    partition_by: list[str] | None = None,
    drop_keys: "DataFrame | None" = None,
    drop_on: list[str] | None = None,
) -> bool:
    """Fold live dirs (and prior generations) into one new generation.
    Returns True iff a fold actually happened (callers gate follow-up
    GC — e.g. tombstone-dir deletion — on it).

    1. finish any interrupted GC (dirs already named by the newest
       manifest are invisible to readers — deleting them is safe and
       keeps the listing bounded across crash-restart cycles);
    2. sum the live cells (excluding the in-flight batch via
       ``exclude_from`` so its dir survives for retry exclusion) into
       a tmp dir OUTSIDE the store;
    3. drop the transitive subsumed-id manifest into the tmp dir;
    4. rename tmp into the store as ``batch_id=<next_gen>`` — manifest
       and folded counts become visible atomically;
    5. delete the subsumed dirs — pure GC: a crash anywhere after (4)
       changes nothing a reader computes.

    With ``agg="max"`` (absorbing VALUE state, e.g. HLL registers) the
    manifest is SKIPPED: a folded dir surviving beside its generation
    cannot change a max, so the deletes are crash-safe without it and
    no reader bypasses the fold. ``agg="distinct"`` also absorbs, but
    SET stores have raw readers that skip the fold entirely (the IVF
    postings probe path reads live dirs without a per-query distinct
    shuffle), so distinct generations DO carry the manifest — for
    read_counts it changes nothing (exclusion before an absorbing
    fold), for raw readers it keeps a crash-interrupted GC invisible.

    ``partition_by`` writes the generation partitioned on those key
    columns (must be a subset of ``key_cols``; enforced) and clusters
    the fold on them, preserving partition-pruned reads with one file
    per partition dir — the IVF postings store's cell layout.
    """
    if partition_by and not set(partition_by) <= set(key_cols):
        raise ValueError(
            f"partition_by {partition_by} must be a subset of "
            f"key_cols {key_cols}"
        )
    dirs = state_subdirs(state_dir)
    prior = subsumed_ids(state_dir)
    for p, i in list(dirs.items()):
        if i in prior:
            shutil.rmtree(p, ignore_errors=True)
            del dirs[p]
    fold_ids = {
        i
        for i in dirs.values()
        if i < 0 or exclude_from is None or i < exclude_from
    }
    if len(fold_ids) < 2 and drop_keys is None:
        return False
    if not fold_ids:
        return False
    next_gen = min(min(dirs.values()), 0) - 1
    folded = read_counts(
        spark, state_dir, cell_schema, key_cols, value_col,
        before_batch=exclude_from, agg=agg,
    )
    if drop_keys is not None:
        # physically drop rows matching drop_keys (index tombstones):
        # an anti-join on the fold, not on reads — reads stay raw. The
        # drop side is the deleted-id relation; no forced broadcast
        # (at serving scale an erasure backlog can be large — let AQE
        # pick the join strategy).
        folded = folded.join(
            drop_keys, on=list(drop_on or []), how="left_anti"
        )
    tmp = state_dir.rstrip("/") + "__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cluster = partition_by if partition_by else key_cols
    writer = folded.repartition(*cluster).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if agg != "max":
        with open(os.path.join(tmp, MANIFEST), "w") as f:
            json.dump(sorted(prior | fold_ids), f)
    os.replace(tmp, os.path.join(state_dir, f"batch_id={next_gen}"))
    for p, i in dirs.items():
        if i in fold_ids:
            shutil.rmtree(p, ignore_errors=True)
    return True
