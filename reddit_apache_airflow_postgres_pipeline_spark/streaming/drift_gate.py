"""Streaming distribution-drift admission gate: PSI-gate every incoming
micro-batch against a frozen reference snapshot before it may join the
training corpus.

The third ingest monitor beside the content gate (dedup_gate.py — "have
we seen this document?") and the count sketch (cms_stream.py — "how
often does this key occur?"): this one asks "does this BATCH still look
like the corpus we validated?" — the guard that catches a broken
crawler, a feed switched to another language, or a spam flood, none of
which per-document filters see because every individual document looks
fine.

Mechanics: the reference is a persisted PRE-AGGREGATED ``(bin, n)``
count relation of ≤ ``bins`` rows (built once from a validated snapshot
with the same binning expression — never one row per document, so a
batch decision never re-scans the validated corpus); each micro-batch
bins its docs, runs :func:`curation.psi_drift_counts` against it, and
admits the batch iff total PSI ≤ ``threshold`` (the
industry 0.1/0.25 convention — 0.25 here, the "major drift" line).
Admitted batches land under ``out_dir/admitted/batch_id=<i>``,
quarantined ones under ``out_dir/quarantined/batch_id=<i>`` (kept, not
dropped — drift is a signal to INSPECT, not silently discard), and
every decision appends a (batch_id, psi, admitted, n_docs) row to
``out_dir/decisions`` for the monitoring dashboard. Per-batch-dir
overwrite + the checkpoint give the same exactly-once/retry contract as
the sibling gates.

The feed key is a parameter, not a second gate: with ``group_col`` the
reference holds one ``(group, bin, n)`` distribution per feed, each feed
is judged against its own (curation's kernels with ``key=(group_col,)``),
only the drifted feeds' rows quarantine, and the decision log carries
one row per (batch, feed). Without it (``key=()``) one pooled feed is
judged and the whole batch is routed as one.

The one driver-side value is the (psi, n_docs) pair per batch (a 1-row
aggregate collected to make the admit/quarantine control-flow decision
— decision-sized, like the file-name lists in combine_stream.py; the
binning and PSI math run distributed). At 100 TB/day the reference IS
≤ bins rows on disk and every batch reduces to ≤ bins rows before the
compare — nothing corpus-scale crosses the driver. Each micro-batch is
persisted at gate entry, so its source files are scanned exactly once:
the decision aggregate populates the cache and the admit/quarantine
write replays from it (the r5 three-pass shape is gone).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import (
    ks_drift_counts,
    psi_drift_counts,
    refreshed_reference_counts,
)
from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    drain,
    write_batch,
)

_PSI_THRESHOLD = 0.25  # the "major drift" alerting line


def _key(group_col: str | None) -> tuple[str, ...]:
    """The feed key the gate judges apart: () for one pooled feed."""
    return () if group_col is None else (group_col,)


def _bin(
    text_col: str, bin_width: int, bins: int, metric: Column | None = None
) -> Column:
    """The gates' ``bin`` column: ``metric`` (default the token count
    of ``text_col``, the float-boundary-free contract
    q_corpus_psi_drift uses) in fixed-width integer bins, the last one
    open-ended. Every document lands in a bin in [0, bins) — the
    metric is never NULL — so Σ bin-counts = document count.

    ``metric`` is the seam that lets the SAME gate monitor non-text
    modalities: :func:`payload_size_metric` bins binary payload sizes,
    and any never-NULL integer Column works. The metric is part of the
    reference's identity exactly like bin_width: a reference and its
    gate must bin the same scalar."""
    m = metric if metric is not None else token_count(text_col)
    return F.least((m / bin_width).cast("int"), F.lit(bins - 1)).alias("bin")


def payload_size_metric(payload_col: str = "payload") -> Column:
    """The media gate's binning metric: payload size in bytes — the
    first distribution a broken media feed disturbs (truncated files,
    switched codec/resolution), computable JVM-side on BinaryType with
    no decode, exactly as token counts are for text."""
    return F.length(payload_col)


def reference_counts(
    df: DataFrame,
    text_col: str = "text",
    bin_width: int = 20,
    bins: int = 10,
    metric: Column | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """A snapshot's binned distribution as a ``(*key, bin, n)`` count
    relation of ≤ ``bins`` rows per key value — the gate's
    persisted-reference form. The key is ``group_col`` (one
    distribution per feed) or nothing (one pooled distribution)."""
    key = _key(group_col)
    return (
        df.select(*key, _bin(text_col, bin_width, bins, metric))
        .groupBy(*key, "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def write_reference(
    df: DataFrame,
    ref_path: str,
    text_col: str = "text",
    bin_width: int = 20,
    bins: int = 10,
    metric: Column | None = None,
    group_col: str | None = None,
) -> None:
    """Freeze a validated snapshot's binned distribution (per
    ``group_col`` value, when given) as the gate's pre-aggregated
    reference relation."""
    reference_counts(df, text_col, bin_width, bins, metric, group_col).write.mode(
        "overwrite"
    ).parquet(ref_path)


def _admitted_rows(
    spark: SparkSession, out_dir: str, window: int, min_batches: int
) -> DataFrame | None:
    """A refresh's input: the gate's admitted rows, ``batch_id``
    inferred from the partition dirs — None while nothing was
    admitted."""
    if window <= 0 or min_batches <= 0:
        # mirror curation.refreshed_reference_counts: min_batches<=0
        # would make the hysteresis check pass vacuously and overwrite
        # the frozen reference with counts from zero batches
        raise ValueError(
            f"window and min_batches must be positive, got {window}, "
            f"{min_batches}"
        )
    adm_dir = os.path.join(out_dir, "admitted")
    if not os.path.isdir(adm_dir):
        return None
    return spark.read.parquet(adm_dir)


def refresh_reference(
    spark: SparkSession,
    out_dir: str,
    ref_path: str,
    window: int = 5,
    min_batches: int = 3,
    text_col: str = "text",
    bin_width: int = 20,
    bins: int = 10,
    metric: Column | None = None,
    group_col: str | None = None,
) -> bool:
    """Re-baseline the gate's frozen reference from the newest
    ``window`` ADMITTED batches in ``out_dir`` — the refresh policy a
    real corpus monitor runs on a schedule: distributions legitimately
    move (seasonality, new sources), and a reference frozen forever
    eventually quarantines the new normal. With ``group_col`` each
    feed re-baselines on its own.

    Hysteresis: a feed keeps its frozen rows unless at least
    ``min_batches`` of its admitted batches exist in the window — a
    gate that has been quarantining nearly everything (or one feed in
    a quarantine storm) must not re-baseline from the trickle that got
    through. Returns True only when the new reference actually DIFFERS
    from the frozen one (r10 ADVICE — callers keying re-gating or
    alerts off the bool get one semantics); no admitted output, or a
    refresh that reproduces the old counts, leaves the file
    byte-untouched and returns False.

    The policy relation is :func:`curation.refreshed_reference_counts`
    (oracle-paired in the registry as q_drift_ref_refresh and
    q_drift_ref_refresh_by_group) over the admitted rows' per-batch
    ``(*key, b, bin, n)`` counts; this wrapper only does the store
    plumbing. Every relation past the admitted scan is bins-, keys- or
    window-sized, and the no-op check stays Spark-side
    (:func:`_swap_if_changed`) — same scan economics as
    :func:`write_reference`."""
    adm = _admitted_rows(spark, out_dir, window, min_batches)
    if adm is None:
        return False
    key = _key(group_col)
    per_batch = (
        adm.select(
            *key, F.col("batch_id").alias("b"), _bin(text_col, bin_width, bins, metric)
        )
        .groupBy(*key, "b", "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    new_ref = refreshed_reference_counts(
        per_batch, spark.read.parquet(ref_path), window, min_batches, key=key
    )
    return _swap_if_changed(spark, new_ref, ref_path)


def _swap_if_changed(spark: SparkSession, new_ref: DataFrame, ref_path: str) -> bool:
    """The refresh's store plumbing: write the candidate reference to
    a sibling tmp dir, compare the two FILES Spark-side (exceptAll
    emptiness both ways — multiset equality, no driver materialization
    of either relation: references are bins- or groups×bins-sized
    today but grow with features in a real deployment, r10 verdict
    watch #2), and swap the tmp dir into place only on a real change.
    Writing BEFORE comparing also breaks any lazy-lineage dependence of
    the candidate on the live file, so the swap never overwrites a
    relation it is still reading. Crash between rmtree and rename loses
    the old file but the fully-written tmp dir is adjacent for manual
    recovery — same exposure window as the previous overwrite-in-place."""
    tmp = ref_path.rstrip("/") + ".refresh-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    new_ref.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(ref_path) or os.path.isfile(ref_path):
        old = spark.read.parquet(ref_path)
        new = spark.read.parquet(tmp)
        if new.exceptAll(old).isEmpty() and old.exceptAll(new).isEmpty():
            shutil.rmtree(tmp, ignore_errors=True)
            return False
        if os.path.isfile(ref_path):
            # a single-file reference (Spark reads those fine) —
            # rmtree raises NotADirectoryError on it (r11 review catch)
            os.remove(ref_path)
        else:
            shutil.rmtree(ref_path)
    os.rename(tmp, ref_path)
    return True


def batch_stats(
    batch_df: DataFrame,
    ref_counts: DataFrame,
    text_col: str = "text",
    bin_width: int = 20,
    bins: int = 10,
    metric: Column | None = None,
    group_col: str | None = None,
    ks: bool = False,
) -> DataFrame:
    """(*key, psi, [ks,] n_docs): one batch's drift against the
    reference counts, one row per key value present in the batch — or,
    without ``group_col``, exactly one pooled row (also for an empty
    batch). ``psi`` is the total PSI (curation.psi_drift_counts);
    ``ks=True`` adds the KS statistic max|ΔCDF|
    (curation.ks_drift_counts) from the SAME binned counts: PSI is loud
    on per-bin density ratios, and a small location shift of the whole
    mass moves KS first. Every doc lands in a spine bin, so Σ n_cur is
    the batch's document count. A key value the reference has never
    seen scores against an all-epsilon reference — maximally drifted,
    the conservative admission default. Bounded: nothing past the
    first aggregate exceeds keys × bins rows. A pure function of two
    relations, so the batch path is unit-testable without a stream."""
    key = _key(group_col)
    cur = reference_counts(batch_df, text_col, bin_width, bins, metric, group_col)
    terms = psi_drift_counts(ref_counts, cur, bins, key)
    aggs = [F.round(F.sum("psi_term"), 6).alias("psi")]
    if ks:
        terms = terms.join(
            ks_drift_counts(ref_counts, cur, bins, key).select(
                *key, "bin", "ks_term"
            ),
            [*key, "bin"],
        )
        aggs.append(F.round(F.max("ks_term"), 6).alias("ks"))
    stats = terms.groupBy(*key).agg(
        *aggs, F.sum("n_cur").cast("bigint").alias("n_docs")
    )
    return stats.filter(F.col("n_docs") > 0) if key else stats


def run_drift_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    ref_path: str,
    checkpoint_dir: str,
    text_col: str = "text",
    bin_width: int = 20,
    bins: int = 10,
    threshold: float = _PSI_THRESHOLD,
    ks_threshold: float | None = None,
    refresh_every: int | None = None,
    refresh_window: int = 5,
    refresh_min_batches: int = 3,
    metric: Column | None = None,
    group_col: str | None = None,
) -> None:
    """Drain ``input_dir`` (parquet files) through the gate with an
    availableNow trigger; see the module docstring for the layout.

    ``group_col`` judges each feed against its OWN reference (written
    by :func:`write_reference` with the same ``group_col``): every
    micro-batch is split so only the DRIFTED feeds' rows quarantine and
    the rest of the batch is admitted — one broken feed must not
    quarantine the other 99. Decision rows then carry the feed column,
    typed as in the batch, one row per (batch, feed); rows with a NULL
    feed quarantine (no reference to judge them against). Without it
    the whole batch is admitted or quarantined as one.

    ``ks_threshold`` arms the second drift metric: admission then
    requires psi <= threshold AND ks <= ks_threshold, and the decision
    rows gain a ``ks`` column (None leaves schema and semantics exactly
    as before — existing decision readers are unaffected).

    ``refresh_every`` arms PERIODIC RE-BASELINING inside the drain —
    the maintenance loop a long-running gate actually operates: after
    every ``refresh_every``-th micro-batch's decision is committed,
    :func:`refresh_reference` re-baselines the frozen reference (per
    feed, with ``group_col``) from the newest ``refresh_window``
    ADMITTED batches (hysteresis: ``refresh_min_batches``), and
    subsequent batches gate against the refreshed file — so a
    legitimately-moving distribution keeps flowing instead of sliding
    into a quarantine storm, while the min-batch hysteresis still
    blocks re-baselining onto a trickle. Equivalence with the manual
    sequence (drain → refresh_reference → drain) and the admission
    flip itself are pinned by tests/test_drift_gate.py. Crash
    contract: the refresh is DERIVED state (recomputable from admitted
    dirs) — a crash between the decision commit and the refresh skips
    that boundary, and the next one re-derives from the same windows;
    decisions themselves stay exactly-once via the per-dir overwrite +
    checkpoint.

    The batch is persisted while it is judged and routed: the decision
    aggregate populates the cache and the writes replay from it — ONE
    scan of the batch's source files instead of three (ADVICE r5)."""
    key = _key(group_col)
    ref = _load_reference(spark, ref_path, key)
    armed = ks_threshold is not None

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal ref
        sp = batch_df.sparkSession
        batch_df.persist()
        try:
            decision = []
            for r in batch_stats(
                batch_df, ref, text_col, bin_width, bins, metric, group_col, armed
            ).collect():
                ks = [r["ks"]] if armed else []
                ok = r["psi"] <= threshold and all(k <= ks_threshold for k in ks)
                decision.append(
                    (*(r[c] for c in key), r["psi"], *ks, ok, r["n_docs"])
                )
            for dest, rows in _routes(batch_df, group_col, decision):
                write_batch(rows, os.path.join(out_dir, dest), batch_id)
            # batch_id lives in the partition dir name — readers of the
            # decisions log get it back as the inferred partition column
            write_batch(
                local_df(sp, decision, _decision_schema(batch_df, key, armed)),
                os.path.join(out_dir, "decisions"), batch_id,
            )
        finally:
            batch_df.unpersist()
        if refresh_every and (batch_id + 1) % refresh_every == 0:
            if refresh_reference(
                sp, out_dir, ref_path, refresh_window, refresh_min_batches,
                text_col, bin_width, bins, metric, group_col,
            ):
                ref = sp.read.parquet(ref_path)

    drain(spark, input_dir, schema, checkpoint_dir, _gate)


def _routes(
    batch_df: DataFrame, group_col: str | None, decision: list[tuple]
) -> list[tuple[str, DataFrame]]:
    """(subdir, rows) for one judged batch. Pooled: the whole batch
    goes to exactly one of ``admitted``/``quarantined`` — one route dir
    per batch, never an empty one. Keyed: the batch splits by the
    admitted key values, and NULL-key rows quarantine."""
    if group_col is None:
        ((*_, ok, _n),) = decision
        return [("admitted" if ok else "quarantined", batch_df)]
    adm = F.col(group_col).isin([d[0] for d in decision if d[-2]])
    return [
        ("admitted", batch_df.filter(adm)),
        ("quarantined", batch_df.filter(~adm | F.col(group_col).isNull())),
    ]


def _load_reference(
    spark: SparkSession, ref_path: str, key: tuple[str, ...]
) -> DataFrame:
    """Read the gate's frozen reference, failing loud when it lacks a
    ``(*key, bin, n)`` column — the r5 format persisted one (bin) row
    per DOCUMENT, and a pooled reference has no feed column; rather
    than crash opaquely on every micro-batch, say what to do."""
    cols = [*key, "bin", "n"]
    ref = spark.read.parquet(ref_path)
    if not set(cols) <= set(ref.columns):
        raise ValueError(
            f"reference at {ref_path!r} has columns {ref.columns} — "
            f"expected the pre-aggregated ({', '.join(cols)}) counts form. "
            "Rebuild it once with write_reference() on the validated "
            "snapshot."
        )
    return ref


def _decision_schema(
    batch_df: DataFrame, key: tuple[str, ...], ks: bool
) -> StructType:
    """Decision-log row schema: the key columns typed as in the batch,
    psi, ks when armed, the admission flag and the batch's document
    count."""
    tail = StructType.fromDDL(
        f"psi double, {'ks double, ' if ks else ''}admitted boolean, n_docs long"
    )
    return StructType([batch_df.schema[c] for c in key] + tail.fields)
