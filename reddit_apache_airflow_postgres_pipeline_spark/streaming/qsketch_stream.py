"""Streaming maintenance of the binned quantile sketch
(operators/sketches.qsketch_*) over an unbounded stream — corpus-scale
value-distribution quantiles kept queryable while data arrives, in
O(bins) state.

Fourth member of the streaming sketch family (dedup gate: membership;
CMS: frequency; HLL: cardinality; this: distribution/quantiles), and
the second client of the shared counting-state store
(streaming/counting_state.py): bin counts SUM-merge exactly like CMS
cells, so they need the same ``_subsumed.json`` manifest discipline —
one abstraction, two sketches, identical crash-safety argument.

Each micro-batch contributes a ≤ bins-row (bin, n) dir; the folded
state feeds sketches.qsketch_quantiles unchanged (read_sketch returns
the same relation shape the batch operator produces). At 100 TB/day
nothing here is corpus-sized: the batch's own bin aggregation is the
only shuffle and every store dir is bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import qsketch_build
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)

_CELLS = "bin int, n long"
_KEYS = ["bin"]

_state_subdirs = _cs.state_subdirs
_subsumed_ids = _cs.subsumed_ids


def _meta(
    lo: float | None = None, hi: float | None = None, bins: int | None = None
) -> dict:
    """Store format marker (counting_state.stamp_meta): bin counts are
    meaningless outside their (lo, hi, bins) geometry, and NOTHING in
    the (bin, n) rows themselves reveals a mismatch — only the marker
    does."""
    m: dict = {"format": "qsketch-bins"}
    if lo is not None:
        m["lo"] = float(lo)
    if hi is not None:
        m["hi"] = float(hi)
    if bins is not None:
        m["bins"] = bins
    return m


def read_sketch(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
    lo: float | None = None,
    hi: float | None = None,
    bins: int | None = None,
) -> DataFrame:
    """The current stream sketch as the standard (bin, n) relation —
    drop-in input for sketches.qsketch_quantiles/qsketch_merge. Pass
    the geometry to reject a store stamped with a different one."""
    _cs.check_meta(state_dir, _meta(lo, hi, bins))
    return _cs.read_counts(
        spark, state_dir, _CELLS, _KEYS, "n", before_batch=before_batch
    )


def compact_state(
    spark: SparkSession, state_dir: str, exclude_from: int | None = None
) -> None:
    """Generation fold with the transitive manifest; see
    counting_state.compact_counts."""
    _cs.compact_counts(
        spark, state_dir, _CELLS, _KEYS, "n", exclude_from=exclude_from
    )


def run_qsketch_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 256,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain ``input_dir`` (parquet files) into the sketch store with an
    availableNow trigger: each batch's values bin into [lo, hi) (edge
    bins clamp outliers) and land as one ≤ bins-row dir. Per-batch
    overwrite + the checkpoint give exactly-once counting across
    restarts and retries."""
    _cs.stamp_meta(state_dir, _meta(lo, hi, bins))

    def _update(batch_df: DataFrame, batch_id: int) -> None:
        write_batch(
            qsketch_build(batch_df, value_col, lo, hi, bins), state_dir, batch_id
        )
        compact_if_due(
            state_dir, compact_after_dirs, compact_state,
            batch_df.sparkSession, state_dir, exclude_from=batch_id,
        )

    drain(spark, input_dir, schema, checkpoint_dir, _update)
