"""The availableNow drain every parquet stream in the package runs on,
and the per-batch directory layout its stores share.

One drain is one exactly-once pass over an inbox of parquet files —
the engine's form of the reference pipeline's cron tick (fetch and
combine run every ten minutes, each run consuming whatever has
landed). Files are taken one per micro-batch in modification-time
order (``maxFilesPerTrigger=1``), the checkpoint records which files
were consumed, the ``availableNow`` trigger processes everything that
has landed and then stops, and :func:`drain` blocks until it has.
Re-running on the same checkpoint consumes only files that landed
since.

Per-batch layout, shared by every state store, corpus and log a drain
writes: micro-batch ``i`` owns ``<root>/batch_id=<i>`` and overwrites
it on retry (:func:`write_batch`), so a re-delivered batch replaces
its own failed attempt and readers exclude it via ``before_batch``.
Compaction folds old dirs into generations with negative ids; a fold
that writes a ``_subsumed.json`` manifest names the dirs readers skip
until their deletion finishes. :func:`compact_if_due` is the one
trigger: fold once a store holds more live dirs than its threshold.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# Compact once a store accumulates this many live batch_id=* dirs.
# Without compaction a store grows one directory per micro-batch
# forever and every batch re-lists + re-opens all of them — a listing
# cliff around 10^5 batches.
COMPACT_AFTER_DIRS = 16

MANIFEST = "_subsumed.json"


def write_batch(df: DataFrame, root: str, batch_id: int) -> str:
    """Write ``df`` as micro-batch ``batch_id``'s dir under ``root``,
    replacing any earlier attempt. Returns the dir."""
    path = os.path.join(root, f"batch_id={batch_id}")
    df.write.mode("overwrite").parquet(path)
    return path


def state_subdirs(state_dir: str) -> dict[str, int]:
    """{path: batch_id} for every ``batch_id=*`` dir in the store."""
    if not os.path.isdir(state_dir):
        return {}
    out = {}
    for d in os.listdir(state_dir):
        p = os.path.join(state_dir, d)
        if d.startswith("batch_id=") and os.path.isdir(p):
            out[p] = int(d.split("=", 1)[1])
    return out


def subsumed_ids(state_dir: str) -> set[int]:
    """Exclusion set = the NEWEST (most negative id) generation's
    manifest. Older generations are in that manifest by construction,
    so one file answers for the whole history; no generations → empty.
    Driver-side and file-count sized. Generations written by a
    manifest-FREE store (max-merge or set state that tolerates
    duplicate dirs) carry no manifest file and exclude nothing."""
    gens = {p: i for p, i in state_subdirs(state_dir).items() if i < 0}
    if not gens:
        return set()
    newest = min(gens, key=gens.get)
    path = os.path.join(newest, MANIFEST)
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        return set(json.load(f))


def live_dir_count(state_dir: str) -> int:
    """Number of dirs a reader would actually fold — the compaction
    trigger metric."""
    excluded = subsumed_ids(state_dir)
    return sum(1 for i in state_subdirs(state_dir).values() if i not in excluded)


def compact_if_due(
    store: str, compact_after_dirs: int, compact: Callable, *args, **kwargs
) -> bool:
    """Run ``compact(*args, **kwargs)`` iff ``store`` holds more than
    ``compact_after_dirs`` live dirs; True iff it ran. Drains pass
    ``exclude_from=<in-flight batch id>`` so the batch's own dir stays
    out of the fold and a retry can still exclude it."""
    if live_dir_count(store) <= compact_after_dirs:
        return False
    compact(*args, **kwargs)
    return True


def drain(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
) -> None:
    """Drain the parquet files under ``input_dir`` through
    ``on_batch(batch_df, batch_id)``: one file per micro-batch in
    mtime order, checkpointed under ``checkpoint_dir``, everything
    available now, blocking until done. A batch whose ``on_batch``
    raises is not committed and is re-delivered, with the same id, by
    the next drain on the same checkpoint."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
