"""Every per-batch state store a drain keeps between micro-batches, as
rows of one :class:`Store` table over one live read and one generation
fold.

A store is a mergeable summary: a row schema, fold keys and a merge —
``sum`` (counts: CMS cells, quantile-sketch bins, span gram counts),
``max`` (HLL registers) or ``distinct`` (sets: heavy-hitter
candidates, the admission gates' band keys and signatures). The rows
here are the sketch stores; the gate stores are
``signature_gate.STATES``, the same type plus the estate catalog's
modality. The served-index stores (sinks/vector_index.py) infer their
schema per kind but fold through the same :func:`compact_counts`.

Layout contract (streaming/drain.py's, plus the manifest):
per-micro-batch parquet dirs under ``state_dir/batch_id=<i>`` with
idempotent overwrite; compaction folds live dirs into a new generation
dir (negative batch_id). A SUM-merged store has no duplicate
absorption — a generation PLUS a lingering folded dir double-counts —
so sum and distinct generations commit with a ``_subsumed.json``
manifest atomic with the generation rename; the live read
(:func:`read_live`) takes the NEWEST generation's manifest as the
exclusion set, making post-rename deletes pure GC. Set stores have raw
readers that skip the distinct (the gates' probes, the IVF postings
scan), and the manifest keeps a crash leftover invisible to them too.
Max state absorbs duplicates, so its generations carry none. Spark's
parquet reader skips ``_``-prefixed files, so the manifest lives
inside the generation dir.

At 100 TB/day: each batch contributes one bounded dir (the batch's own
aggregation is the only shuffle), and compaction is a key-wise fold
over ≤(dirs × cells) rows — trivially parallel, no single-task fold.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

# the per-batch layout lives in streaming/drain.py; re-exported here
# because the stores' callers address it through this module
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (  # noqa: F401
    MANIFEST,
    compact_if_due,
    drain,
    live_dir_count,
    state_subdirs,
    subsumed_ids,
    write_batch,
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


def read_live(
    spark: SparkSession,
    state_dir: str,
    schema: str,
    before_batch: int | None = None,
    since: int | None = None,
) -> DataFrame:
    """THE live read: a store's raw rows (``batch_id`` dropped), empty
    while nothing was written. Live = not named by the newest
    generation's manifest. ``before_batch`` excludes state written by
    batch ids ≥ that id: a RETRIED micro-batch must not see its own
    failed attempt's rows (a gate would reject every one of its docs as
    a duplicate of itself, a counter would count the batch twice).
    ``since`` keeps ids ≥ that id. Generations (negative ids) fold only
    batches that committed earlier, so ``before_batch=0`` reads exactly
    the generations and ``since=0`` exactly the per-batch tail."""
    try:
        df = spark.read.schema(schema + ", batch_id long").parquet(state_dir)
    except AnalysisException:
        return local_df(spark, [], schema)
    excluded = subsumed_ids(state_dir)
    if excluded:
        df = df.filter(~F.col("batch_id").isin([int(i) for i in excluded]))
    if since is not None:
        df = df.filter(F.col("batch_id") >= since)
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < before_batch)
    return df.drop("batch_id")


def read_counts(
    spark: SparkSession,
    state_dir: str,
    cell_schema: str,
    key_cols: list[str],
    value_col: str | None,
    before_batch: int | None = None,
    agg: str = "sum",
) -> DataFrame:
    """The current folded state: :func:`read_live` plus the key-wise
    merge. ``agg``: "sum" (counting state), "max" (absorbing state,
    e.g. HLL registers) or "distinct" (SET state — pass
    ``value_col=None``)."""
    if agg == "distinct" and value_col is not None:
        raise ValueError("distinct state has no value column")
    df = read_live(spark, state_dir, cell_schema, before_batch)
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
    drop_keys: DataFrame | None = None,
    cluster_by: list[str] | None = None,
    num_partitions: int | None = None,
) -> bool:
    """THE generation fold: live dirs (and prior generations) become one
    new generation. Returns True iff a fold actually happened (callers
    gate follow-up GC — e.g. tombstone-dir deletion — on it).

    1. finish any interrupted GC (dirs already named by the newest
       manifest are invisible to readers — deleting them is safe and
       keeps the listing bounded across crash-restart cycles);
    2. fold the live rows (excluding the in-flight batch via
       ``exclude_from`` so its dir survives for retry exclusion) into
       a tmp dir OUTSIDE the store;
    3. drop the transitive subsumed-id manifest into the tmp dir;
    4. rename tmp into the store as ``batch_id=<next_gen>`` — manifest
       and folded rows become visible atomically;
    5. delete the subsumed dirs — pure GC: a crash anywhere after (4)
       changes nothing a reader computes.

    With ``agg="max"`` the manifest is SKIPPED: a folded dir surviving
    beside its generation cannot change a max, and no reader bypasses
    the fold. Sum and distinct generations carry it (see the module
    docstring).

    ``drop_keys`` physically drops the rows matching it on its columns
    (index tombstones, the forget sweep's erased docs) — an anti-join
    on the fold, not on reads; with it, even a single dir is folded.
    ``partition_by`` writes the generation partitioned on those key
    columns (a subset of ``key_cols``; enforced) and clusters the fold
    on them, preserving partition-pruned reads with one file per
    partition dir — the IVF postings store's cell layout.
    ``cluster_by`` clusters the fold on the store's probe key instead
    of its fold keys (a gate store's ``bk`` / ``doc``, so the folded
    history is pre-clustered for the bucketed layout). With
    ``num_partitions=None`` AQE sizes the shuffle by bytes; an explicit
    count pins the task count.
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
    if not fold_ids or (len(fold_ids) < 2 and drop_keys is None):
        return False
    next_gen = min(min(dirs.values()), 0) - 1
    folded = read_counts(
        spark, state_dir, cell_schema, key_cols, value_col,
        before_batch=exclude_from, agg=agg,
    )
    if drop_keys is not None:
        # the drop side is the deleted-id relation; no forced broadcast
        # (at serving scale an erasure backlog can be large — let AQE
        # pick the join strategy)
        folded = folded.join(drop_keys, on=drop_keys.columns, how="left_anti")
    tmp = state_dir.rstrip("/") + "__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    cluster = partition_by or cluster_by or key_cols
    if num_partitions is not None:
        folded = folded.repartition(num_partitions, *cluster)
    else:
        folded = folded.repartition(*cluster)
    writer = folded.write.mode("overwrite")
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


@dataclass(frozen=True)
class Store:
    """One per-batch store format. ``p`` is the caller's parameter dict:
    the stamped marker params plus whatever else shapes the rows (an
    HLL store's ``group_cols``)."""

    fmt: str  # the format marker
    params: tuple[str, ...]  # the params its marker stamps
    schema: Callable[[dict], str]  # p -> the row schema, fold keys first
    merge: str  # sum | max | distinct
    value: str | None = None  # the merged column (None: a set store)
    key: str | None = None  # the fold's cluster key (None: the fold keys)
    modality: str | None = None  # gate stores: the estate catalog's modality

    def meta(self, p: dict) -> dict:
        """The store's marker: format plus every given marker param."""
        return {
            "format": self.fmt,
            **{k: p[k] for k in self.params if p.get(k) is not None},
        }

    def stamp(self, state_dir: str, p: dict) -> None:
        stamp_meta(state_dir, self.meta(p))

    def check(self, state_dir: str, p: dict) -> None:
        check_meta(state_dir, self.meta(p))

    def cols(self, p: dict) -> list[str]:
        # the schemas here are flat "name type" lists
        return [c.split()[0] for c in self.schema(p).split(", ")]

    def keys(self, p: dict) -> list[str]:
        return [c for c in self.cols(p) if c != self.value]

    def load(
        self,
        spark: SparkSession,
        state_dir: str,
        p: dict,
        before_batch: int | None = None,
        since: int | None = None,
    ) -> DataFrame:
        """The raw live rows (:func:`read_live`)."""
        return read_live(spark, state_dir, self.schema(p), before_batch, since)

    def read(
        self,
        spark: SparkSession,
        state_dir: str,
        p: dict,
        before_batch: int | None = None,
    ) -> DataFrame:
        """The folded state (:func:`read_counts`)."""
        return read_counts(
            spark, state_dir, self.schema(p), self.keys(p), self.value,
            before_batch, self.merge,
        )

    def compact(
        self,
        spark: SparkSession,
        state_dir: str,
        p: dict,
        exclude_from: int | None = None,
        drop_keys: DataFrame | None = None,
        num_partitions: int | None = None,
    ) -> bool:
        """One generation fold (:func:`compact_counts`)."""
        return compact_counts(
            spark, state_dir, self.schema(p), self.keys(p), self.value,
            exclude_from, self.merge, drop_keys=drop_keys,
            cluster_by=[self.key] if self.key else None,
            num_partitions=num_partitions,
        )

    def drain(
        self,
        spark: SparkSession,
        input_dir: str,
        schema: str,
        state_dir: str,
        checkpoint_dir: str,
        p: dict,
        build: Callable[[DataFrame], DataFrame],
        compact_after_dirs: int,
    ) -> None:
        """THE sketch drain body: stamp the marker, then per micro-batch
        write ``build(batch)`` as the batch's dir and fold once the
        store holds more than ``compact_after_dirs`` live dirs.
        Per-batch overwrite + the checkpoint give exactly-once state
        across restarts and retries."""
        self.stamp(state_dir, p)

        def _update(batch_df: DataFrame, batch_id: int) -> None:
            write_batch(build(batch_df), state_dir, batch_id)
            compact_if_due(
                state_dir, compact_after_dirs, self.compact,
                batch_df.sparkSession, state_dir, p, exclude_from=batch_id,
            )

        drain(spark, input_dir, schema, checkpoint_dir, _update)


# -- the sketch stores -----------------------------------------------------
# Every marker param is part of the row semantics: merging stores built
# under a different geometry is silent garbage nothing in the rows
# reveals. HLL stamps ``hash_bits`` because the 32→60-bit hash change
# keeps old registers INSIDE the runtime register/rank guard while
# hashing keys to different registers (ADVICE r6); the heavy-hitter
# candidates stamp φ in its quantized K/2³² form (``phi_k``, the value
# the bar compares with); HLL group columns are pinned to string.

CMS = Store("cms-cells", ("d", "w"), lambda p: "row int, col int, c long", "sum", "c")
HLL = Store(
    "hll-registers", ("hash_bits", "p"),
    lambda p: "".join(f"{g} string, " for g in p.get("group_cols") or [])
    + "register int, maxrank int",
    "max", "maxrank",
)
QSKETCH = Store("qsketch-bins", ("lo", "hi", "bins"), lambda p: "bin int, n long", "sum", "n")
SPAN_GRAMS = Store(
    "span-gram-counts", ("k", "min_occurrences"), lambda p: "gram string, c long",
    "sum", "c",
)
HH_CANDIDATES = Store("hh-candidates", ("phi_k",), lambda p: "key string", "distinct")
