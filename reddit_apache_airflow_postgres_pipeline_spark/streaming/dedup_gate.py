"""Streaming near-duplicate admission gate: MinHash-LSH bucket filtering
of a document stream against the already-accepted corpus.

The LLM-ingest shape: documents arrive continuously; a doc is admitted
only if none of its MinHash band buckets has been claimed by an
earlier-accepted doc. Bucket state lives in a parquet directory keyed by
micro-batch (idempotent overwrite per batch id — a retried batch
rewrites its own subdirectory, so the sink is exactly-once alongside the
checkpoint), and the band-key definition is shared with the batch miner
(operators/neardup.py:minhash_band_keys), so streaming and batch agree
on the bucket universe.

Admission policy — **pessimistic first-wins**, deterministic and
order-free within a batch: a doc is REJECTED iff one of its band buckets
(a) exists in the accepted-state store (claimed by an earlier batch /
the seeded corpus), or (b) is shared with a smaller ``doc_id`` inside
its own batch — whether or not that smaller doc is itself admitted.
(b) makes the rule slightly stricter than a sequential greedy scan on
collision *chains* (A–B, B–C, no A–C: greedy would re-admit C), in
exchange for being computable as two joins with no per-doc iteration —
the property that lets one micro-batch of a million docs gate in a
single shuffle round.

Scale posture: state is touched only through (bucket-key) semi/anti
joins on skinny strings; the stream side is map work (signatures) plus
one self-agg per batch. At 100 TB of accepted corpus, the state store
becomes a bucketed table on ``bk`` so the per-batch semi-join prunes to
matching buckets.

The signature-VERIFIED text gate further down is the text row of
streaming/signature_gate.py's modality table; its kernel, drain body
and state lifecycle live there, and its state store is one row of that
module's gate-state table beside this gate's ``dedup-gate/v1`` store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    minhash_band_keys,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as _cs,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    signature_gate as _sg,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)


def _load_state(
    spark: SparkSession, state_dir: str, before_batch: int | None = None
) -> DataFrame:
    """Read the accepted-band-key store (counting_state.read_live: empty
    while nothing was written, a retried batch's own rows excluded)."""
    return _sg.RAW_STATE.load(spark, state_dir, {}, before_batch)


def compact_state(
    spark: SparkSession,
    state_dir: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold the raw gate's (doc, bk) store — counting_state.compact_counts
    clustered on the bucket key, the store's probe key."""
    _sg.RAW_STATE.compact(
        spark, state_dir, {}, exclude_from, num_partitions=num_partitions
    )


def bucket_state(
    spark: SparkSession,
    state_dir: str,
    table: str,
    path: str,
    num_buckets: int = 8,
) -> DataFrame:
    """Materialize the raw gate's accepted-band store as an EXTERNAL
    bucketed + sorted table on ``bk`` — the module docstring's 100 TB
    layout made real instead of documented. Every per-batch probe
    (``keys ⟕ state.select("bk").distinct()``) against the returned
    table reads co-located buckets: the state-side distinct runs
    partial+final over the bucketed scan with NO Exchange, so the
    dominant per-batch cost stops being a full-store shuffle and
    becomes a scan of only the state's own files (tests/test_dedup_gate
    asserts the plan). Re-run after compactions to refresh; admission
    decisions are IDENTICAL to the flat layout (the state is a set —
    same rows, different physical clustering)."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.bucketed import (
        write_bucketed,
    )

    write_bucketed(
        _load_state(spark, state_dir).select("doc", "bk"),
        table, ["bk"], num_buckets, path, sort_cols=["bk"],
    )
    return spark.table(table)


def gate_batch(
    batch_df: DataFrame,
    state: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    min_quality: float | None = None,
    keys: DataFrame | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Apply the admission policy to one (batch, state) pair.

    Returns (accepted_rows, accepted_band_keys) — the second is what the
    caller appends to the state store. Pure DataFrame logic so the batch
    path is unit-testable without a stream.

    ``min_quality`` prepends the curation quality filter
    (operators/textstats.quality_score) to admission: a doc scoring
    below the floor is rejected BEFORE its band keys are computed, so —
    exactly like near-dup rejects — it claims no buckets and a later
    higher-quality near-copy can still be admitted. This composes the
    two ingest stages (quality filter → dedup gate) in one map pass
    over the batch; the filter is a codegen column expression, adding
    zero shuffles.

    ``keys`` optionally supplies the batch's PRECOMPUTED (doc, bk) band
    keys (same contract as gate_batch_verified's ``sig``: a replay over
    many batches of one corpus derives them once); must equal
    ``minhash_band_keys(batch_df, ...)`` under the same geometry.

    ``broadcast_batch`` flips the state probe for the BIG-state regime:
    the default form distincts the state's bucket keys before the
    semi-join — a full-store SHUFFLE every micro-batch, the cost that
    dominates once accepted history is orders of magnitude larger than
    a batch. The flipped form broadcasts the batch's keys and STREAMS
    the state through a map-side hash join (state scanned, never
    shuffled or aggregated; the distinct folds the join's output, which
    is batch-sized). Decisions are identical — it is the same semi-join
    evaluated from the other side; composes with a bucketed/columnar
    state layout for scan pruning."""
    if min_quality is not None:
        from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
            quality_score,
        )

        batch_df = batch_df.filter(
            quality_score(text_col) >= F.lit(float(min_quality))
        )
        if keys is not None:
            keys = keys.join(
                batch_df.select(F.col(id_col).alias("doc")), "doc", "left_semi"
            )
    if keys is None:
        keys = minhash_band_keys(
            batch_df, id_col, text_col, n, num_hashes, bands
        )
    if broadcast_batch:
        hit_prev = (
            state.select("bk")
            .join(F.broadcast(keys.select("doc", "bk")), "bk")
            .select("doc")
            .distinct()
        )
    else:
        hit_prev = (
            keys.join(state.select("bk").distinct(), "bk", "left_semi")
            .select("doc")
            .distinct()
        )
    min_per_bucket = keys.groupBy("bk").agg(F.min("doc").alias("min_doc"))
    hit_batch = (
        keys.join(min_per_bucket, "bk")
        .filter(F.col("doc") > F.col("min_doc"))
        .select("doc")
        .distinct()
    )
    rejected = hit_prev.unionAll(hit_batch).distinct()
    accepted = batch_df.join(
        rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
    )
    accepted_keys = keys.join(rejected, "doc", "left_anti")
    return accepted, accepted_keys


def run_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
    min_quality: float | None = None,
    decisions_dir: str | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` (parquet files) through the gate with an
    availableNow trigger. Accepted rows land under
    ``out_dir/batch_id=<i>/``, their band keys under
    ``state_dir/batch_id=<i>/`` — per-batch overwrite makes a retried
    micro-batch idempotent, and the checkpoint guarantees each input
    file is gated exactly once across restarts. When the state store
    exceeds ``compact_after_dirs`` directories it is folded into a
    single generation (:func:`compact_state`), bounding per-batch
    listing/open cost over an unbounded run. ``decisions_dir`` arms the
    family's monitoring log — per-batch (doc, admitted) under
    ``decisions_dir/batch_id=<i>`` with the same exactly-once per-dir
    overwrite, derived from the COMMITTED accepted dir (one id
    anti-join against what was just written, never a gate recompute) so
    the raw bucket policy feeds :func:`admission_rate_drift` exactly
    like the verified and media gates.

    The gate's geometry is stamped into the state meta exactly as the
    verified gate's is (r11 review: the guard was one-directional — a
    verified store re-drained under the DEFAULT bucket policy read
    signature rows with a (doc, bk) schema, got all-NULL keys, silently
    admitted every duplicate of history, and then corrupted the store
    with bucket rows; now either direction of a policy or geometry
    switch fails loudly at the marker). Pre-marker bucket stores are
    legacy state of unknown geometry — rebuild them, or stamp once via
    counting_state.stamp_meta(..., migrate=True) if their parameters
    are known."""
    _sg.RAW_STATE.stamp(
        state_dir, {"n": n, "num_hashes": num_hashes, "bands": bands}
    )
    _cs.stamp_corpus_meta(out_dir, id_col, "text")

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        state = _load_state(
            batch_df.sparkSession, state_dir, before_batch=batch_id
        )
        accepted, accepted_keys = gate_batch(
            batch_df, state, id_col, text_col, n, num_hashes, bands,
            min_quality=min_quality, broadcast_batch=broadcast_batch,
        )
        out_sub = write_batch(accepted, out_dir, batch_id)
        write_batch(accepted_keys, state_dir, batch_id)
        if decisions_dir is not None:
            sp = batch_df.sparkSession
            gated = batch_df
            if min_quality is not None:
                # the family contract: a quality-dropped doc never
                # reached the gate, so it has no decision row (same as
                # gate_batch_verified's filtered decisions)
                from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
                    quality_score,
                )

                gated = gated.filter(
                    quality_score(text_col) >= F.lit(float(min_quality))
                )
            acc_ids = sp.read.parquet(out_sub).select(
                F.col(id_col).alias("doc"), F.lit(True).alias("__a")
            )
            dec = (
                gated.select(F.col(id_col).alias("doc"))
                .join(acc_ids, "doc", "left")
                .select(
                    "doc",
                    F.coalesce(F.col("__a"), F.lit(False)).alias("admitted"),
                )
            )
            write_batch(dec, decisions_dir, batch_id)
        compact_if_due(
            state_dir, compact_after_dirs, compact_state,
            batch_df.sparkSession, state_dir, exclude_from=batch_id,
        )

    drain(spark, input_dir, schema, checkpoint_dir, _gate)


# -- signature-VERIFIED admission ---------------------------------------------
#
# The text row of signature_gate.MODALITIES: full MinHash signatures
# are the state, and a band-bucket candidate rejects only when its
# matching-position estimate clears ``threshold`` — bucket collision
# proposes, signature agreement disposes. The kernel, the drain body
# and the state lifecycle are signature_gate's; these are the text
# gate's public names over them.


def gate_batch_verified(
    batch_df: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    sig: DataFrame | None = None,
    min_quality: float | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply the VERIFIED admission policy to one (batch, state) pair:
    a doc is rejected iff a band-bucket candidate — from the accepted
    store, or a smaller doc id inside its own batch (admitted or not,
    the same pessimistic-on-chains rule as :func:`gate_batch`) — agrees
    with it on ≥ ``threshold`` of the k signature positions.

    Returns (accepted_rows, accepted_sigs, decisions): the second is
    what the caller appends to the signature store; the third is the
    full (doc, admitted) relation for decision auditing. Docs whose
    text yields no shingle have no signature, claim no buckets, and are
    admitted — identical to the raw gate's contract.

    ``sig`` optionally supplies the batch's PRECOMPUTED signature
    relation (doc, mh_0..mh_{k-1}) so a caller replaying many batches
    from one corpus scans and aggregates it once instead of once per
    batch; it must equal ``minhash_signature(batch_df, ...)`` under the
    same geometry. ``min_quality`` prepends the curation quality floor
    exactly as in :func:`gate_batch` (a below-floor doc claims no
    buckets, so a later higher-quality near-copy can still be
    admitted)."""
    acc, sigs, dec, _ = gate_batch_verified_attributed(
        batch_df, state_sigs, id_col, text_col, n, num_hashes, bands,
        threshold, sig=sig, min_quality=min_quality,
        broadcast_batch=broadcast_batch,
    )
    return acc, sigs, dec


def gate_batch_verified_attributed(
    batch_df: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    sig: DataFrame | None = None,
    min_quality: float | None = None,
    checkpoint_blockers: bool = False,
    state_keys: DataFrame | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`gate_batch_verified` plus the BLOCKER relation: the fourth
    element is (doc, odoc, est) — every above-threshold pair that was
    eligible to reject ``doc`` (state signatures, or a smaller id in
    its own batch). A doc appears iff it was rejected, so
    ``blockers.select("doc").distinct()`` IS the rejected set; the
    drain persists this relation so "why was my doc dropped" is a read
    against the decision logs, not a replay (the reference logs
    per-file used/skipped attribution at every combine run —
    Combine_send_to_postgresql.py:151-166).

    ``checkpoint_blockers``, ``state_keys`` (the state's precomputed
    (doc, bk) band keys, e.g. signature_gate.bucket_gate_state's
    bucketed table) and ``broadcast_batch`` (the big-state probe flip,
    plan-asserted in tests/test_dedup_gate.py) are
    signature_gate.gate_signatures'."""
    p = dict(
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        min_quality=min_quality,
    )
    side = _sg.Side(_sg.MODALITIES["text"], p, state_sigs, state_keys, sig)
    acc, (sigs,), dec, blk = _sg.gate_signatures(
        batch_df, [side], id_col, text_col, checkpoint_blockers,
        broadcast_batch,
    )
    return acc, sigs, dec, blk


def run_verified_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
    min_quality: float | None = None,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    bucketed: dict | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` through the VERIFIED gate with an availableNow
    trigger — same exactly-once layout as :func:`run_gate_available_now`
    (accepted rows under ``out_dir/batch_id=<i>``, state under
    ``state_dir/batch_id=<i>``, per-batch overwrite, checkpointed input),
    but the state rows are full signatures and admission requires the
    estimate to clear ``threshold``.

    ``bucketed`` — ``{"table_prefix": str, "path": str, "num_buckets":
    int}`` — arms the hybrid state layout (signature_gate.load_state):
    the folded history is probed through bucketed tables, only the
    post-fold tail dirs are read flat, and each compaction refreshes
    the tables; a stale/missing marker falls back to the flat read, so
    admissions are identical to the flat layout (parity pinned in
    tests/test_dedup_gate.py). ``dup_of_dir`` persists the BLOCKER
    relation (doc, odoc, est) per batch, so rejection attribution
    against the LIVE stream state is a read (the replay query
    q_neardup_gate_dup_of answers the same question analytically).

    The gate's geometry (shingle n, k, bands, threshold) is stamped into
    the state store's meta on first run and verified on every later one
    (counting_state.stamp_meta): a restarted drain cannot drift the
    policy. Compaction folds per-batch dirs into a negative-id
    generation exactly like the raw gate."""
    p = dict(
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        min_quality=min_quality,
    )
    _sg.run_signature_gate(
        spark, input_dir, schema, out_dir, checkpoint_dir,
        [(_sg.MODALITIES["text"], p, state_dir)], id_col, text_col,
        compact_after_dirs, decisions_dir, dup_of_dir, bucketed,
        broadcast_batch,
    )


# -- admission-rate drift: the decision logs feeding the drift machinery -----
#
# A sudden rejection spike is the #1 real-world dedup-gate incident (a
# re-crawled shard, a broken upstream dedup, a feed looping on itself).
# The gates already persist per-batch (doc, admitted) decision logs;
# these hooks run the standard PSI monitor (operators/curation.psi_drift
# — the same smoothing/rounding contract every drift gate shares) over
# the admitted/rejected distribution of a reference batch window vs the
# current one, so the alert is a read over decision-sized logs, never a
# replay of the gate.


def admission_rate_drift(
    spark: SparkSession,
    decisions_dir: str,
    ref_max_batch: int,
    cur_min_batch: int | None = None,
) -> DataFrame:
    """PSI relation (bin, n_ref, n_cur, p_ref, p_cur, psi_term) over
    the 2-bin admitted/rejected distribution: reference = decisions
    with ``batch_id <= ref_max_batch``, current = decisions with
    ``batch_id > (cur_min_batch or ref_max_batch)``. Total PSI =
    Σ psi_term; 0.25 is the family's major-drift convention."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import (
        psi_drift,
    )

    dec = spark.read.parquet(decisions_dir).select(
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("admitted").cast("int").alias("bin"),
    )
    ref = dec.filter(F.col("batch_id") <= ref_max_batch)
    cur = dec.filter(
        F.col("batch_id")
        > (ref_max_batch if cur_min_batch is None else cur_min_batch - 1)
    )
    return psi_drift(ref.select("bin"), cur.select("bin"), bins=2)


def admission_drift_alert(
    spark: SparkSession,
    decisions_dir: str,
    ref_max_batch: int,
    threshold: float = 0.25,
    cur_min_batch: int | None = None,
) -> dict:
    """The operational form — the gate-side analog of
    sinks/vector_index.rebuild_index_if_stale's measure-then-act loop:
    one decision-sized aggregate over the logs, returning
    ``{"psi", "drifted", "n_ref", "n_cur"}``. An operator wires
    ``drifted`` to its remediation (quarantine the feed, refresh the
    drift reference, or trigger the index rebuild ladder) — measuring
    is this function's whole job, deciding what to do is the caller's."""
    rel = admission_rate_drift(
        spark, decisions_dir, ref_max_batch, cur_min_batch
    )
    row = rel.agg(
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cur").alias("n_cur"),
    ).collect()[0]
    psi = float(row["psi"] or 0.0)
    return {
        "psi": psi,
        "drifted": psi > threshold,
        "n_ref": int(row["n_ref"] or 0),
        "n_cur": int(row["n_cur"] or 0),
    }
