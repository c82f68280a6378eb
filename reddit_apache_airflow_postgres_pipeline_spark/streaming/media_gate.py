"""Streaming MEDIA near-duplicate admission gate: aHash pigeonhole
banding of a binary-payload stream against the already-accepted corpus.

The dedup gate family's third member — exact content keys
(dedup_gate.gate_batch's MinHash buckets on text), estimate-verified
signatures (gate_batch_verified), and now perceptual signatures for the
media modality: each arriving image/audio/video payload is aHashed
(operators/multimodal.ahash_signatures — first ``bits`` decoded samples
mean-thresholded into one packed long, through the real Arrow-batched
codec stage) and REJECTED iff a banded candidate from the accepted
state, or a smaller id inside its own batch (pessimistic-on-chains, the
family rule), sits within ``max_hamming`` bits.

Candidate generation is the pigeonhole machinery every bit-signature
path shares (neardup.signature_band_keys: distance ≤ d ⇒ one of d+1
bands equal — LOSSLESS, so the relational replay's direct quadratic
filter defines the identical pair set), and verification is one
``bit_count(xor)`` on packed longs — never a payload comparison, never
a cross join. State is one long per accepted media item: at 100 TB of
accepted media the store is ~8 bytes/item of signatures, the property
that makes incremental media dedup against ALL history feasible.
Batch replay oracle-paired as plans/registry_mm.q_media_gate_replay.

The gate is the media row of streaming/signature_gate.py's modality
table; the kernel, the drain body and the state lifecycle live there,
and this module holds the media gate's public names over them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    signature_gate as _sg,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
)


def gate_media_batch(
    batch_df: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "media_id",
    bits: int = 60,
    max_hamming: int = 5,
    sig: DataFrame | None = None,
    min_bytes: int | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply the media admission policy to one (batch, state) pair:
    rejected iff a banded candidate — from the accepted store, or a
    smaller id in its own batch (admitted or not) — is within
    ``max_hamming`` bits of the item's aHash.

    Returns (accepted_rows, accepted_sigs, decisions). ``sig``
    optionally supplies the batch's precomputed (doc, sig) relation
    (the replay contract shared with the text kernels); the policy
    stays defined here either way. Every media row has a signature
    (zero-length payloads hash to sig 0 and therefore dedup against
    each other — the first empty payload wins, the rest are rejected
    as its duplicates). ``min_bytes`` is the media quality floor (the
    text kernels' min_quality analog on the modality's cheapest
    health signal, payload size): a below-floor item is dropped BEFORE
    signatures exist, claims no buckets, and a later full-size
    near-copy can still be admitted. ``broadcast_batch`` flips the
    cross-state probes for the big-state regime
    (signature_gate.blockers); identical admissions by construction."""
    acc, sigs, dec, _ = gate_media_batch_attributed(
        batch_df, state_sigs, id_col, bits, max_hamming, sig=sig,
        min_bytes=min_bytes, broadcast_batch=broadcast_batch,
    )
    return acc, sigs, dec


def gate_media_batch_attributed(
    batch_df: DataFrame,
    state_sigs: DataFrame,
    id_col: str = "media_id",
    bits: int = 60,
    max_hamming: int = 5,
    sig: DataFrame | None = None,
    checkpoint_blockers: bool = False,
    min_bytes: int | None = None,
    state_keys: DataFrame | None = None,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`gate_media_batch` plus the BLOCKER relation (doc, odoc,
    dist): every within-distance pair eligible to reject ``doc``, so
    rejection attribution ("which accepted item is my upload a
    duplicate of") is persisted by the drain and readable without a
    replay. ``checkpoint_blockers``, ``state_keys`` (the state's
    precomputed (doc, bk) band keys, e.g.
    signature_gate.bucket_gate_state's bucketed table) and
    ``broadcast_batch`` are signature_gate.gate_signatures'. Any
    ``id_col`` works: the codec stage reads it as ``media_id``."""
    p = dict(bits=bits, max_hamming=max_hamming, min_bytes=min_bytes)
    side = _sg.Side(_sg.MODALITIES["media"], p, state_sigs, state_keys, sig)
    acc, (sigs,), dec, blk = _sg.gate_signatures(
        batch_df, [side], id_col,
        checkpoint_blockers=checkpoint_blockers,
        broadcast_batch=broadcast_batch,
    )
    return acc, sigs, dec, blk


def run_media_gate_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    bits: int = 60,
    max_hamming: int = 5,
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    min_bytes: int | None = None,
    bucketed: dict | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` (parquet files of media rows) through the
    media gate with an availableNow trigger — the family's exactly-once
    layout (accepted rows under ``out_dir/batch_id=<i>``, signatures
    under ``state_dir/batch_id=<i>``, per-batch overwrite, checkpointed
    input). Geometry (bits, max_hamming) is stamped into the state meta
    on first run and verified on every later one — a redeployed drain
    cannot silently re-band the state. ``decisions_dir`` arms the
    monitoring log (the family contract): every batch's full
    (doc, admitted) relation lands under ``decisions_dir/batch_id=<i>``
    with the same exactly-once per-dir overwrite; ``dup_of_dir``
    likewise persists the blocker relation (doc, odoc, dist) so "what
    is my upload a duplicate of" reads from the log, never replays.
    ``bucketed`` arms the hybrid state layout exactly as the verified
    text drain's (signature_gate.load_state): it can change the
    physical plan but never an admission."""
    p = dict(bits=bits, max_hamming=max_hamming, min_bytes=min_bytes)
    _sg.run_signature_gate(
        spark, input_dir, schema, out_dir, checkpoint_dir,
        [(_sg.MODALITIES["media"], p, state_dir)], id_col,
        compact_after_dirs=compact_after_dirs, decisions_dir=decisions_dir,
        dup_of_dir=dup_of_dir, bucketed=bucketed,
        broadcast_batch=broadcast_batch,
    )
