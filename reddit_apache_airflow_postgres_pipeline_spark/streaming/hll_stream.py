"""Streaming maintenance of a HyperLogLog sketch over an unbounded
document stream — corpus-scale distinct-key cardinality kept queryable
while data arrives, in O(2^p) state per group.

Completes the streaming sketch trio beside the MinHash admission gate
(streaming/dedup_gate.py — set membership) and the count-min stream
(streaming/cms_stream.py — frequencies): this one answers "how many
DISTINCT keys has the stream seen?" without ever shuffling or storing
the raw keys.

Same store layout as the siblings: per-micro-batch parquet dirs under
``state_dir/batch_id=<i>`` with idempotent overwrite (a retried batch
rewrites its own dir and excludes its failed attempt on read),
checkpointed exactly-once file handling, and generation-folding
compaction bounding listing cost.

**The max-merge simplification.** The CMS stream's counting state needs
a ``_subsumed.json`` manifest because a generation PLUS a lingering
folded dir double-COUNTS. HLL state is register-wise MAX — an ABSORBING
merge: a folded dir surviving beside the generation that subsumed it
changes no register's max, so "write generation, then delete subsumed
dirs" is crash-safe with no manifest at all, exactly like the dedup
gate's set state. Readers just max over whatever dirs exist.

At 100 TB/day the same layout holds: each micro-batch contributes a
≤(groups × 2^p)-row sketch (the batch's own aggregation is the only
shuffle, keyed on (group, register)), the store grows one bounded dir
per batch, and compaction is a register-wise max over
≤(dirs × groups × 2^p) rows — trivially parallel, no single-task fold.
Reference scope: the reference has no streaming or sketches; this
extends the engine per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import _HLL_BITS, hll_build
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
)


def _params(p: int | None, group_cols: list[str] | None) -> dict:
    return {"hash_bits": _HLL_BITS, "p": p, "group_cols": group_cols or []}


def read_sketch(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str] | None = None,
    before_batch: int | None = None,
    p: int | None = None,
) -> DataFrame:
    """The current stream sketch: register-wise max over every state dir
    — delegated to counting_state.read_counts(agg="max"), which skips
    manifest bookkeeping because max absorbs duplicate dirs (see module
    docstring). ``before_batch`` (the in-flight batch id on the retry
    path) excludes the failed attempt's own dir; generations (negative
    ids) always pass, as in cms_stream. Pass ``p`` to also reject a
    store stamped with a different precision."""
    _cs.HLL.check(state_dir, _params(p, group_cols))
    return _cs.HLL.read(spark, state_dir, _params(p, group_cols), before_batch)


def compact_state(
    spark: SparkSession,
    state_dir: str,
    group_cols: list[str] | None = None,
    exclude_from: int | None = None,
) -> None:
    """Fold every foldable dir (prior generations included) into one new
    generation, then delete the folded dirs — counting_state.
    compact_counts(agg="max"), which writes NO manifest: a crash
    between the rename and any delete leaves folded dirs beside the
    generation, and register-wise max over both is identical to either
    alone — the absorption the CMS stream's counting state lacks.
    ``exclude_from`` keeps the in-flight batch's dir out of the fold so
    it survives for retry exclusion."""
    _cs.HLL.compact(spark, state_dir, _params(None, group_cols), exclude_from)


def run_hll_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "tok",
    text_col: str | None = None,
    group_cols: list[str] | None = None,
    p: int = 5,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain ``input_dir`` (parquet files) into the sketch store with an
    availableNow trigger. When ``text_col`` is given, each row's text is
    tokenized (the engine-wide whitespace contract) and every token is
    one key occurrence; otherwise each input row is one occurrence of
    its ``key_col`` value. Per-batch overwrite + the checkpoint give
    exactly-once semantics across restarts and retries — and max-merge
    would forgive even a double-applied batch."""
    group_cols = group_cols or []
    # group columns are pinned to string in the store schema: cast them
    # where the batch is written, or a non-string group column writes
    # dirs the store can never read back
    groups = [F.col(g).cast("string").alias(g) for g in group_cols]

    def _build(batch_df: DataFrame) -> DataFrame:
        if text_col is not None:
            from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens

            occ = batch_df.select(
                *groups, F.explode(tokens(text_col)).alias(key_col)
            )
        else:
            occ = batch_df.select(*groups, key_col)
        return hll_build(occ, key_col, group_cols, p=p)

    _cs.HLL.drain(
        spark, input_dir, schema, state_dir, checkpoint_dir,
        _params(p, group_cols), _build, compact_after_dirs,
    )
