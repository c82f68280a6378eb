"""Right-to-be-forgotten across the WHOLE serving estate.

The erasure story so far was per-store: indexes tombstone + compact
(sinks/vector_index.py), and that is where the VECTORS die — but a
forgotten document also survives as MinHash/aHash signatures in the
gates' accepted state and as doc ids in the decision and attribution
logs. An operator honoring an erasure request has to sweep ALL of it,
and has to know what "erase" means for each layout. This module is that
sweep: classify every root with the estate catalog (the same on-disk
markers the read paths verify), dispatch the erasure primitive each
family supports, and return the audit relation compliance wants.

Per family:

- **vector-index** — tombstone the ids, then FULL compaction: the fold
  physically drops the rows and absorbs the tombstone (the documented
  erase → compact → re-add lifecycle, now driven estate-wide).
- **gate-state** — filtered fold: the store's generation fold with the
  ids' signature rows dropped (compaction's crash-safe tmp → rename
  with manifest → delete-subsumed sequence; a crash mid-delete leaves
  folded dirs the manifest already hides, and the next fold GCs them).
- **decision-log / attribution-log** — per-dir rewrite dropping every
  row that MENTIONS a forgotten id (``doc``, and ``odoc`` in
  attribution logs: "your upload duplicated document X" leaks X's
  existence).
- **corpus** — per-dir rewrite of the admitted corpus itself: the
  document PAYLOADS die here (everything above erases derived state).
  Dir names are preserved, so a snapshot pinning a rewritten dir fails
  its immutability audit loudly (sinks/snapshots.py) — erasure beats
  reproducibility by design (and snapshots.amend_snapshot pins the
  swept successor).

**Erasure under an active stream** (r12 verdict): the sweep does NOT
assume quiescent stores. A drain micro-batch committing mid-sweep can
land rows that mention a forgotten id AFTER its store was rewritten (a
re-delivery rejected against not-yet-folded state writes a dup_of row
naming the forgotten doc). forget() therefore sweeps in PASSES until a
full pass removes nothing — each follow-up pass is one cheap filtered
count per store (rewrites only fire where mentions remain) — and fails
loudly (RuntimeError) if writers outpace ``max_passes``: a sweep that
cannot converge must never report success. Interleave behavior is
pinned in tests/test_forget_interleave.py.

Documented consequence (pinned in tests/test_forget.py): erasing a
doc's gate signatures makes its near-copies ADMISSIBLE again — the gate
can no longer remember content it was ordered to forget. That is the
correct reading of erasure, and the operator sees it in the audit
relation rather than discovering it in production.

Scale posture: an erasure request is decision-sized (a list of ids —
the reference's analog is a row-level GDPR delete against the loaded
table); every data-sized operation below is one filtered scan + one
write per store, shuffled only where the store's own compactor already
shuffles. All log and corpus rewrite temp dirs are underscore-prefixed
INSIDE the store root and carry no "=" (Spark's file index exempts
=-bearing names from its underscore filter), so a crash mid-rewrite
leaves nothing Spark listing, catalog._batch_dirs, or
snapshots._corpus_batch_ids can mistake for a live batch dir (r12
advice); a fold's temp dir sits beside the store, as in compaction.
"""

from __future__ import annotations

import json
import operator
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sinks import catalog as _cat
from reddit_apache_airflow_postgres_pipeline_spark.sinks import (
    vector_index as _vi,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    signature_gate as _sg,
)

_TMP_PREFIX = "_forget_tmp_"


def _clean_stray_tmps(path: str) -> None:
    """Remove leftovers of a crashed rewrite. They are underscore-
    prefixed so every reader already ignores them; cleaning keeps the
    store tidy and the retry deterministic."""
    if not os.path.isdir(path):
        return
    for d in os.listdir(path):
        if d.startswith(_TMP_PREFIX):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def _erase_gate_state(
    spark: SparkSession, path: str, kind: str, params: dict, ids: list[int]
) -> int:
    """Filtered fold of a gate state store: the store's one generation
    fold (counting_state.compact_counts) with the forgotten docs as
    ``drop_keys``, so they are dropped BEFORE the rename. Skips the fold
    entirely when no forgotten row is live (the re-sweep passes' cheap
    probe). Returns rows removed."""
    state = _sg.STATES[kind]
    removed = state.load(spark, path, params).filter(F.col("doc").isin(ids)).count()
    if removed:
        drop = local_df(spark, [(int(i),) for i in ids], "doc long")
        state.compact(spark, path, params, drop_keys=drop)
    return removed


def _erase_rows(
    spark: SparkSession, path: str, ids: list[int], cols: list[str]
) -> int:
    """Rewrite every batch dir of a log or corpus WITHOUT the rows whose
    ``cols`` mention a forgotten id (a column a dir lacks is skipped).
    Per-dir tmp → rename keeps the store readable throughout; dir names
    (and so batch attribution) are preserved. Returns rows removed.

    On the admitted corpus this is where the payloads themselves die
    (signatures die in the gate states, vectors in the indexes; a sweep
    that spares the corpus has erased everything except the document).
    Any snapshot pinning a rewritten dir now FAILS its immutability
    audit (sinks/snapshots.verify_snapshot) — the documented collision:
    the right to be forgotten beats reproducibility, loudly (and
    amend_snapshot pins the swept successor)."""
    _clean_stray_tmps(path)
    removed = 0
    for d in sorted(os.listdir(path)):
        if not d.startswith("batch_id="):
            continue
        sub = os.path.join(path, d)
        df = spark.read.parquet(sub)
        cond = reduce(
            operator.or_, [F.col(c).isin(ids) for c in cols if c in df.columns]
        )
        n = df.filter(cond).count()
        if n == 0:
            continue
        removed += n
        tmp = os.path.join(path, _TMP_PREFIX + d.replace("=", "_"))
        df.filter(~cond).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(sub)
        os.replace(tmp, sub)
    return removed


def _erase_index(
    spark: SparkSession, path: str, kind: str, ids: list[int]
) -> int:
    """Tombstone + FULL compaction: rows physically dropped, tombstone
    absorbed, ids re-addable. Probes the live rows first and no-ops at
    zero (a re-sweep pass must not accrete tombstones for absent ids).
    Returns rows removed (live rows the ids actually had)."""
    live = (
        _vi.read_store(spark, path, kind)
        .filter(F.col("neighbor_id").isin(ids))
        .select("neighbor_id")
        .distinct()
        .count()
    )
    if live == 0:
        return 0
    before = _vi.index_stats(spark, path, kind)["rows"]
    id_df = local_df(spark, [(int(i),) for i in ids], "vec_id long")
    _vi.delete_from_index(id_df, path, id_col="vec_id")
    _vi.compact_store(spark, path, kind)
    return before - _vi.index_stats(spark, path, kind)["rows"]


def forget(
    spark: SparkSession,
    roots: dict[str, str],
    ids: list[int],
    max_passes: int = 5,
    on_store_swept=None,
) -> DataFrame:
    """Erase ``ids`` from every member of the estate and return the
    audit relation (name, category, action, rows_removed) — one row per
    root, catalog order, rows_removed summed across passes. Fail-loud
    on an unclassifiable root (the catalog's own contract): a store the
    sweep cannot classify is a store the erasure did NOT reach, and
    that must never be reported as success. ``ids`` is an erasure
    REQUEST — decision-sized by nature — so the list rides into
    filters/isin as literals; the data-sized work is one filtered scan
    + rewrite per store per pass (follow-up passes rewrite nothing when
    quiescent — they are the convergence proof).

    ``on_store_swept(name, path)`` fires after each store in each pass
    — a progress hook, and the interleave point the stream-safety tests
    use. Classification happens ONCE (a drain cannot change what a
    store IS); only the erasure re-runs."""
    if not ids:
        raise ValueError("forget() with no ids — nothing to erase")
    ents = {
        name: _cat.catalog_entry(spark, name, path)
        for name, path in sorted(roots.items())
    }
    totals: dict[str, int] = {name: 0 for name in ents}
    actions: dict[str, str] = {}
    converged = False
    for _pass in range(max_passes):
        pass_removed = 0
        for name, path in sorted(roots.items()):
            ent = ents[name]
            cat = ent["category"]
            if cat == "vector-index":
                n = _erase_index(spark, path, ent["kind"], ids)
                actions[name] = "tombstone+full-compact"
            elif cat == "gate-state":
                n = _erase_gate_state(
                    spark, path, ent["kind"], json.loads(ent["params"]), ids
                )
                actions[name] = "filtered-fold"
            elif cat in ("decision-log", "attribution-log"):
                # "your upload duplicated document X" leaks X's existence
                cols = ["doc", "odoc"] if cat == "attribution-log" else ["doc"]
                n = _erase_rows(spark, path, ids, cols)
                actions[name] = "log-rewrite"
            elif cat == "corpus":
                id_col = json.loads(ent["params"])["id_col"]
                n = _erase_rows(spark, path, ids, [id_col])
                actions[name] = "corpus-rewrite"
            else:  # pragma: no cover — catalog_entry fails loud first
                raise ValueError(f"unclassifiable estate member {name!r}")
            totals[name] += int(n)
            pass_removed += int(n)
            if on_store_swept is not None:
                on_store_swept(name, path)
        if pass_removed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"forget() did not converge after {max_passes} passes — "
            "writers are landing rows that mention the forgotten ids "
            "faster than the sweep erases them; quiesce the drains (or "
            "raise max_passes) and re-run. Partial progress is safe: "
            "every completed rewrite already excludes the ids."
        )
    out = [
        {
            "name": name,
            "category": ents[name]["category"],
            "action": actions[name],
            "rows_removed": totals[name],
        }
        for name in sorted(roots)
    ]
    return local_df(
        spark,
        out, "name string, category string, action string, rows_removed long"
    )
