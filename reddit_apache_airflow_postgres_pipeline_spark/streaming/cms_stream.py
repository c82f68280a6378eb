"""Streaming maintenance of a count-min sketch over an unbounded
document stream — corpus-scale token/key frequencies kept queryable
while data arrives, in O(d×w) state.

Follows the dedup-gate state discipline (streaming/dedup_gate.py):
per-micro-batch parquet dirs under ``state_dir/batch_id=<i>`` with
idempotent overwrite (a retried batch rewrites its own dir and excludes
its failed attempt on read), checkpointed exactly-once file handling,
and generation-folding compaction bounding listing cost.

**The counting-state twist.** The dedup gate's fold is crash-safe
because its state is a SET consumed through distinct semi-joins —
duplicate rows never change a decision, so "write generation, then
delete subsumed dirs" tolerates a crash between the two steps. A
counting state has no such absorption: a generation PLUS a lingering
subsumed dir double-counts. The store is streaming/counting_state.py's
``CMS`` row, whose generation fold carries the manifest handling that;
this module supplies the per-batch sketch builder.

At 100 TB/day the same layout holds: each micro-batch contributes a
≤(d×w)-row sketch (the batch's own aggregation is the only shuffle,
keyed on d×w cells), the store grows one bounded dir per batch, and
compaction is a cell-wise sum over ≤(dirs × d × w) rows — trivially
parallel, no single-task fold. Reference scope: the reference has no
streaming or sketches; this extends the engine per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import cms_build
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
)


def occurrences_from_batch(
    batch_df: DataFrame, key_col: str, text_col: str | None
) -> DataFrame:
    """The engine-wide streaming occurrence contract, shared by every
    sketch-maintenance stream (CMS, HH): tokenize ``text_col`` under
    the whitespace contract when given (each token = one occurrence),
    else one occurrence per row of ``key_col``. Output column name =
    ``key_col``."""
    if text_col is not None:
        from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens

        return batch_df.select(F.explode(tokens(text_col)).alias(key_col))
    return batch_df.select(F.col(key_col))


def read_sketch(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
    d: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """The current corpus sketch: cell-wise sum over every live state
    dir — see counting_state.read_counts for the liveness/retry
    contract. Pass ``d``/``w`` to reject a store stamped with a
    different geometry."""
    _cs.CMS.check(state_dir, {"d": d, "w": w})
    return _cs.CMS.read(spark, state_dir, {}, before_batch)


def compact_state(
    spark: SparkSession, state_dir: str, exclude_from: int | None = None
) -> None:
    """Fold live dirs (and prior generations) into one new generation
    with a transitive ``_subsumed.json`` manifest; see
    counting_state.compact_counts for the crash-safety argument."""
    _cs.CMS.compact(spark, state_dir, {}, exclude_from)


def run_cms_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "tok",
    text_col: str | None = None,
    d: int = 4,
    w: int = 256,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain ``input_dir`` (parquet files) into the sketch store with an
    availableNow trigger. When ``text_col`` is given, each row's text is
    tokenized (the engine-wide whitespace contract) and every token is
    one count increment; otherwise each input row is one occurrence of
    its ``key_col`` value. Per-batch overwrite + the checkpoint give
    exactly-once counting across restarts and retries."""
    _cs.CMS.drain(
        spark, input_dir, schema, state_dir, checkpoint_dir, {"d": d, "w": w},
        lambda b: cms_build(
            occurrences_from_batch(b, key_col, text_col), key_col, d=d, w=w
        ),
        compact_after_dirs,
    )
