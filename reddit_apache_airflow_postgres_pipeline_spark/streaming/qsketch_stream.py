"""Streaming maintenance of the binned quantile sketch
(operators/sketches.qsketch_*) over an unbounded stream — corpus-scale
value-distribution quantiles kept queryable while data arrives, in
O(bins) state.

Fourth member of the streaming sketch family (dedup gate: membership;
CMS: frequency; HLL: cardinality; this: distribution/quantiles), and
the ``QSKETCH`` row of the per-batch store table
(streaming/counting_state.py): bin counts SUM-merge exactly like CMS
cells, so they need the same ``_subsumed.json`` manifest discipline —
one fold, identical crash-safety argument.

Each micro-batch contributes a ≤ bins-row (bin, n) dir; the folded
state feeds sketches.qsketch_quantiles unchanged (read_sketch returns
the same relation shape the batch operator produces). At 100 TB/day
nothing here is corpus-sized: the batch's own bin aggregation is the
only shuffle and every store dir is bounded by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import (
    qsketch_build,
    qsketch_geometry,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
)


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
    _cs.QSKETCH.check(state_dir, {"lo": lo, "hi": hi, "bins": bins})
    return _cs.QSKETCH.read(spark, state_dir, {}, before_batch)


def compact_state(
    spark: SparkSession, state_dir: str, exclude_from: int | None = None
) -> None:
    """Generation fold with the transitive manifest; see
    counting_state.compact_counts."""
    _cs.QSKETCH.compact(spark, state_dir, {}, exclude_from)


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
    # validated before the marker is stamped: a geometry every batch
    # would reject must not claim the state dir
    qsketch_geometry(lo, hi, bins)
    _cs.QSKETCH.drain(
        spark, input_dir, schema, state_dir, checkpoint_dir,
        {"lo": float(lo), "hi": float(hi), "bins": bins},
        lambda b: qsketch_build(b, value_col, lo, hi, bins),
        compact_after_dirs,
    )
