"""Streaming exact duplicated-substring (span) admission gate: the
online form of operators/curation.dedup_spans (Lee et al. ExactSubstr),
keyed on the SAME k-gram universe so batch and stream agree on what a
duplicated span is.

Semantics — **first-wins, like the rest of the engine's dedup family**:
a k-gram's effective occurrence count for batch ``i`` is (cumulative
count from batches < i) + (its count within batch i). Tokens covered by
a gram meeting ``min_occurrences`` are dropped from the batch's docs
before they are emitted. The divergence from the monolithic batch
operator is deliberate and one-sided: dedup_spans drops ALL copies of a
duplicated span, but an online gate cannot revise documents it already
flushed — so the FIRST copy (emitted while the gram was still below the
bar) survives and every later copy is dropped. A single-batch drain is
exactly the batch operator (tests pin both properties).

State = corpus-wide ``(gram, c)`` counts, the ``SPAN_GRAMS`` row of the
per-batch store table (streaming/counting_state.py, ``sum``): per-batch
idempotent dirs, retry exclusion via ``before_batch``, manifest-guarded
generation folds, and a format marker carrying ``k`` so stores built
under a different gram width refuse to merge. The state is
gram-vocabulary-sized — exactly the batch operator's count relation,
which IS the ExactSubstr memory footprint (the paper pays a suffix
array for the same information); at 100 TB the store becomes a
``gram``-bucketed table and the per-batch join prunes to matching
grams, the dedup_gate posture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import dedup_spans, kgrams
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)


def read_gram_counts(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
) -> DataFrame:
    """The cumulative ``(gram, c)`` corpus counts: key-wise sum over
    every live state dir — counting_state.read_counts' liveness/retry
    contract."""
    return _cs.SPAN_GRAMS.read(spark, state_dir, {}, before_batch)


def gate_batch(
    batch_df: DataFrame,
    prior_counts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Apply the span gate to one (batch, state) pair.

    Returns (cleaned_docs, batch_gram_counts): the first is
    dedup_spans' output relation (doc_id, n_tokens, dropped_tokens,
    text_clean) with the occurrence bar shifted by ``prior_counts``;
    the second is the batch's raw ``(gram, c)`` counts — what the
    caller appends to the state store (raw, not post-drop: the batch
    operator counts over the raw corpus, and first-wins needs every
    sighting on the books). Pure DataFrame logic so the batch path is
    unit-testable without a stream — and replayable as the parity
    test's sequential batch form.

    The gram counts are computed ONCE (checkpointed — they're bounded
    by the batch's gram vocabulary and get persisted as state anyway)
    and fed to dedup_spans as its count source, so the per-batch gram
    fan-out and count shuffle are not paid twice."""
    counts = (
        kgrams(batch_df, id_col, text_col, k)
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    cleaned = dedup_spans(
        batch_df,
        id_col,
        text_col,
        k=k,
        min_occurrences=min_occurrences,
        prior_counts=prior_counts,
        batch_counts=counts,
    )
    return cleaned, counts


def run_span_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_occurrences: int = 2,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
) -> None:
    """Drain ``input_dir`` (parquet files) through the span gate with an
    availableNow trigger. Cleaned docs land under
    ``out_dir/batch_id=<i>/``, the batch's gram counts under
    ``state_dir/batch_id=<i>/`` — per-batch overwrite makes a retried
    micro-batch idempotent (its failed attempt's counts are excluded on
    read via ``before_batch``), and the checkpoint guarantees each
    input file is gated exactly once across restarts."""
    p = {"k": k, "min_occurrences": min_occurrences}
    _cs.SPAN_GRAMS.stamp(state_dir, p)

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            prior = read_gram_counts(
                batch_df.sparkSession, state_dir, before_batch=batch_id
            )
            cleaned, counts = gate_batch(
                batch_df, prior, id_col, text_col, k, min_occurrences
            )
            write_batch(cleaned, out_dir, batch_id)
            write_batch(counts, state_dir, batch_id)
            compact_if_due(
                state_dir, compact_after_dirs, _cs.SPAN_GRAMS.compact,
                batch_df.sparkSession, state_dir, p, exclude_from=batch_id,
            )
        finally:
            batch_df.unpersist()

    drain(spark, input_dir, schema, checkpoint_dir, _gate)
