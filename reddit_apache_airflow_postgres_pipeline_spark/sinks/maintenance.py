"""Maintenance planner + executor over the estate catalog.

The catalog (sinks/catalog.py) answers "what lives where and how
healthy is it"; this module answers the operator's NEXT question —
"what should I do about it" — as a relation, then does it. The planner
is a pure DataFrame transform over the catalog (first-match rule
chain, every threshold explicit in the output row), so an operator can
diff today's plan against yesterday's, and the oracle can replay the
whole decision from the documents table. The executor dispatches each
planned action to the store family's own maintenance primitive — the
same compactors the drains and the operational-loop tests already use
— so "the plan said COMPACT" and "what COMPACT means for this store"
can never drift apart.

Rules (first match wins, severity order):

1. ``COMPACT`` / batch-dir accretion — an index or gate-state store
   whose live dir count exceeds ``max_live_dirs``. At 100 TB the
   listing itself is the cliff (the drains fold at 16 dirs for the
   same reason); a store the drain doesn't own still needs the fold.
2. ``COMPACT`` / tombstone backlog — a vector index whose tombstone
   backlog exceeds ``max_tombstone_ratio`` of its live+dead rows.
   Every probe pays the anti-join until a FULL fold physically drops
   the dead rows (vector_index compaction GCs tombstones only when the
   fold covers every live dir — which this action performs).
3. ``INVESTIGATE`` / admission floor — a gate decision log whose
   admitted/total rate fell below ``min_admission_rate``. A rejection
   spike is the #1 real-world dedup-gate incident (reference analog:
   the combine task's used/skipped accounting,
   Combine_send_to_postgresql.py:151-166); there is no mechanical fix,
   so the action is a flag, not a mutation.
4. ``OK`` — nothing to do. Admitted-corpus stores land here BY DESIGN
   even when their batch dirs accrete: corpus ``batch_id=`` dirs are
   provenance (snapshots pin them, as-of reads and diffs prune by
   them), so folding them would destroy the version history. The
   listing-cliff pressure is answered by snapshot-manifest reads
   (sinks/snapshots.py), which never list the corpus root at all.

Scale posture: the planner input is the catalog — one row per store —
so planning is driver-trivial by design; all data-sized work stays in
the executor's compactors, which shuffle once on each store's probe
key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PLAN_SCHEMA = (
    "name string, category string, kind string, modality string, "
    "action string, reason string, metric double, threshold double"
)

DEFAULT_POLICY = {
    "max_live_dirs": 16,
    "max_tombstone_ratio": 0.2,
    "min_admission_rate": 0.5,
}


def maintenance_plan(cat: DataFrame, policy: dict | None = None) -> DataFrame:
    """The action relation: one row per catalog row, schema
    ``PLAN_SCHEMA``. NULL-metric cells (a gate state has no tombstones,
    an attribution log has no admission rate) make their rule a
    non-match, exactly as in the SQL replay."""
    p = {**DEFAULT_POLICY, **(policy or {})}
    live = F.col("live_dirs").cast("double")
    tomb_ratio = F.col("tombstones") / (F.col("n_rows") + F.col("tombstones"))
    adm_rate = F.col("n_admitted") / F.col("n_rows")

    accrete = F.col("category").isin("vector-index", "gate-state") & (
        F.col("live_dirs") > F.lit(p["max_live_dirs"])
    )
    backlog = (
        (F.col("category") == "vector-index")
        & (F.col("tombstones") > 0)
        & (tomb_ratio > F.lit(p["max_tombstone_ratio"]))
    )
    floor = (F.col("category") == "decision-log") & (
        adm_rate < F.lit(p["min_admission_rate"])
    )

    action = (
        F.when(accrete, F.lit("COMPACT"))
        .when(backlog, F.lit("COMPACT"))
        .when(floor, F.lit("INVESTIGATE"))
        .otherwise(F.lit("OK"))
    )
    reason = (
        F.when(accrete, F.lit("batch-dir accretion"))
        .when(backlog, F.lit("tombstone backlog"))
        .when(floor, F.lit("admission rate below floor"))
        .otherwise(F.lit("healthy"))
    )
    metric = (
        F.when(accrete, live)
        .when(backlog, tomb_ratio)
        .when(floor, adm_rate)
        .otherwise(F.lit(None).cast("double"))
    )
    threshold = (
        F.when(accrete, F.lit(float(p["max_live_dirs"])))
        .when(backlog, F.lit(float(p["max_tombstone_ratio"])))
        .when(floor, F.lit(float(p["min_admission_rate"])))
        .otherwise(F.lit(None).cast("double"))
    )
    return cat.select(
        "name",
        "category",
        "kind",
        "modality",
        action.alias("action"),
        reason.alias("reason"),
        metric.alias("metric"),
        threshold.alias("threshold"),
    )


def _compact_for(spark: SparkSession, row, path: str) -> None:
    """Dispatch COMPACT to the store family's own primitive."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import (
        vector_index as _vi,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        signature_gate as _sg,
    )

    if row["category"] == "vector-index":
        _vi.compact_store(spark, path, row["kind"])
        return
    if row["category"] == "gate-state":
        # the fold's kind and frozen params come from the store's own
        # stamped meta (caught by q_ops_maintenance_fixedpoint: a fold
        # without the signature store's num_hashes cannot read it)
        _sg.compact_gate_state(spark, path)
        return
    raise ValueError(
        f"COMPACT planned for uncompactable category {row['category']!r} "
        f"({row['name']!r}) — the planner only emits COMPACT for "
        "vector-index/gate-state rows, so this plan row was not produced "
        "by maintenance_plan"
    )


def execute_maintenance(
    spark: SparkSession,
    roots: dict[str, str],
    plan: DataFrame,
    handlers: dict[str, object] | None = None,
) -> list[dict]:
    """Apply a maintenance plan. COMPACT rows run the store family's
    own compactor; INVESTIGATE rows run the caller's handler for that
    store if one is given (e.g. wiring the decision log into the
    PSI/KS admission-drift monitor), else are recorded unhandled; OK
    rows are no-ops. Fail-loud on a plan row whose name is not in
    ``roots`` — executing someone else's plan is how an operator
    compacts the wrong estate.

    Returns the execution log: ``[{"name", "action", "status"}, ...]``
    in plan order (deterministic: the plan is catalog-ordered). The
    plan relation is decision-sized (one row per store), so the collect
    here is the sanctioned driver-side kind."""
    handlers = handlers or {}
    out = []
    for row in plan.collect():
        name, action = row["name"], row["action"]
        if action != "OK" and name not in roots:
            raise ValueError(
                f"plan row {name!r} is not in roots — refusing to "
                "execute a plan against an estate it was not made from"
            )
        if action == "COMPACT":
            _compact_for(spark, row, roots[name])
            status = "compacted"
        elif action == "INVESTIGATE":
            if name in handlers:
                handlers[name](spark, roots[name])
                status = "handled"
            else:
                status = "unhandled"
        else:
            status = "none"
        out.append({"name": name, "action": action, "status": status})
    return out
