"""Unified MULTIMODAL admission gate: one stream of documents that
carry BOTH a text body and a media payload, admitted atomically against
both modalities' accepted history.

The gate family's composition point. Running the text gate and the
media gate as separate drains on the same feed is NOT the same policy:
a doc rejected as a media near-dup would still enter the text gate's
accepted state (and vice versa), so later arrivals would be blocked by
items the unified corpus never admitted. This kernel evaluates both
modalities' blocker relations against the SAME batch and rejects iff
EITHER fires — the accepted set (and therefore both signature states)
is one corpus, which is exactly what a multimodal training-data ingest
needs: an image-dup of an accepted item must not re-enter just because
its caption was rewritten, and a text-dup must not re-enter behind a
re-encoded payload.

Mechanics are entirely the family's existing primitives — MinHash
band-keys + matching-position verification for text
(dedup_gate._est_blockers), aHash pigeonhole + popcount verification
for media (media_gate._ham_blockers) — so state stays signatures-only
(~8 B media + k×8 B text per accepted doc at 100 TB), candidates stay
banded (never all-pairs, never a history re-read), and the two state
stores keep their OWN on-disk formats (verified-dedup-gate/v1,
media-gate/v1): the estate catalog, compactors, and bucketed layouts
all apply unchanged. Batch replay oracle-paired as
plans/registry_mm.q_multimodal_gate_replay (the shared unrolled
generation chain over the UNION of the two candidate relations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.multimodal import (
    ahash_signatures,
)
from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    band_keys_of_signature,
    minhash_signature,
    signature_band_keys,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as _cs,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.dedup_gate import (
    _est_blockers,
    _load_sig_state,
    compact_sig_state,
    verified_gate_meta,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.media_gate import (
    _ham_blockers,
    _load_media_state,
    compact_media_state,
    media_gate_meta,
)


def gate_multimodal_batch_attributed(
    batch_df: DataFrame,
    text_state_sigs: DataFrame,
    media_state_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    bits: int = 60,
    max_hamming: int = 5,
    tsig: DataFrame | None = None,
    msig: DataFrame | None = None,
    checkpoint_blockers: bool = False,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Apply the unified admission policy to one (batch, states) pair:
    a doc is rejected iff its TEXT has a verified MinHash blocker
    (estimate ≥ ``threshold`` against the accepted text signatures, or
    a smaller id in its own batch) OR its MEDIA payload has an aHash
    blocker (≤ ``max_hamming`` bits, same directions). Admission is
    atomic: a doc rejected by either modality enters NEITHER state.

    Returns (accepted_rows, accepted_text_sigs, accepted_media_sigs,
    decisions, blockers); ``blockers`` is (doc, odoc, modality, score)
    — modality 'text' carries the MinHash estimate, 'media' the Hamming
    distance as double — the unified attribution relation the drain
    persists. ``tsig``/``msig`` optionally supply precomputed signature
    relations (the family's replay contract); ``broadcast_batch`` flips
    BOTH modalities' cross-state probes for the big-state regime."""
    if tsig is None:
        tsig = minhash_signature(batch_df, id_col, text_col, n, num_hashes)
    tkeys = band_keys_of_signature(tsig, num_hashes, bands)
    tskeys = band_keys_of_signature(text_state_sigs, num_hashes, bands)
    tblk = _est_blockers(
        tkeys, tsig, tskeys, text_state_sigs, num_hashes, threshold,
        ordered=False, broadcast_batch=broadcast_batch,
    ).unionAll(
        _est_blockers(
            tkeys, tsig, tkeys, tsig, num_hashes, threshold, ordered=True
        )
    )
    if msig is None:
        msig = ahash_signatures(
            batch_df.select(
                F.col(id_col).alias("media_id"), "kind", "payload", "meta"
            ),
            n=bits,
        ).select(F.col("media_id").alias("doc"), "sig")
    mkeys = signature_band_keys(msig, bits, max_hamming)
    mskeys = signature_band_keys(media_state_sigs, bits, max_hamming)
    mblk = _ham_blockers(
        mkeys, msig, mskeys, media_state_sigs, max_hamming, ordered=False,
        broadcast_batch=broadcast_batch,
    ).unionAll(
        _ham_blockers(mkeys, msig, mkeys, msig, max_hamming, ordered=True)
    )
    blockers = tblk.select(
        "doc", "odoc", F.lit("text").alias("modality"),
        F.col("est").alias("score"),
    ).unionAll(
        mblk.select(
            "doc", "odoc", F.lit("media").alias("modality"),
            F.col("dist").cast("double").alias("score"),
        )
    )
    if checkpoint_blockers:
        blockers = blockers.localCheckpoint()
    rejected = blockers.select("doc").distinct()
    accepted = batch_df.join(
        rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
    )
    accepted_tsigs = tsig.join(rejected, "doc", "left_anti")
    accepted_msigs = msig.join(rejected, "doc", "left_anti")
    decisions = batch_df.select(F.col(id_col).alias("doc")).join(
        rejected.withColumn("__rej", F.lit(True)), "doc", "left"
    ).select(
        "doc", (~F.coalesce(F.col("__rej"), F.lit(False))).alias("admitted")
    )
    return accepted, accepted_tsigs, accepted_msigs, decisions, blockers


def gate_multimodal_batch(
    batch_df: DataFrame,
    text_state_sigs: DataFrame,
    media_state_sigs: DataFrame,
    **kwargs,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`gate_multimodal_batch_attributed` without the blocker
    relation: (accepted_rows, accepted_text_sigs, accepted_media_sigs,
    decisions)."""
    acc, ts, ms, dec, _ = gate_multimodal_batch_attributed(
        batch_df, text_state_sigs, media_state_sigs, **kwargs
    )
    return acc, ts, ms, dec


def run_multimodal_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    text_state_dir: str,
    media_state_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    bits: int = 60,
    max_hamming: int = 5,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` (parquet files of multimodal document rows:
    id + text + kind/payload/meta) through the unified gate with an
    availableNow trigger — the family's exactly-once layout. Each
    modality's signatures land in ITS OWN state store under its own
    stamped format (verified-dedup-gate/v1 on ``text_state_dir``,
    media-gate/v1 on ``media_state_dir``), so the estate catalog,
    compactors, geometry guards, and bucketed layouts apply to each
    unchanged — the unification is the admission decision, not a new
    state format. ``decisions_dir`` / ``dup_of_dir`` arm the family's
    monitoring logs; the attribution rows carry the ``modality`` column
    so "what blocked my doc" distinguishes a text dup from a media
    dup."""
    _cs.stamp_meta(
        text_state_dir, verified_gate_meta(n, num_hashes, bands, threshold)
    )
    _cs.stamp_meta(media_state_dir, media_gate_meta(bits, max_hamming))
    _cs.stamp_corpus_meta(out_dir, id_col, "multimodal")

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        tstate = _load_sig_state(
            sp, text_state_dir, num_hashes, before_batch=batch_id
        )
        mstate = _load_media_state(sp, media_state_dir, before_batch=batch_id)
        acc, tsigs, msigs, dec, blk = gate_multimodal_batch_attributed(
            batch_df, tstate, mstate, id_col, text_col, n, num_hashes,
            bands, threshold, bits, max_hamming,
            checkpoint_blockers=dup_of_dir is not None,
            broadcast_batch=broadcast_batch,
        )
        write_batch(acc, out_dir, batch_id)
        write_batch(tsigs, text_state_dir, batch_id)
        write_batch(msigs, media_state_dir, batch_id)
        if decisions_dir is not None:
            write_batch(dec, decisions_dir, batch_id)
        if dup_of_dir is not None:
            write_batch(blk, dup_of_dir, batch_id)
        compact_if_due(
            text_state_dir, compact_after_dirs, compact_sig_state,
            sp, text_state_dir, num_hashes, exclude_from=batch_id,
        )
        compact_if_due(
            media_state_dir, compact_after_dirs, compact_media_state,
            sp, media_state_dir, exclude_from=batch_id,
        )

    drain(spark, input_dir, schema, checkpoint_dir, _gate)
