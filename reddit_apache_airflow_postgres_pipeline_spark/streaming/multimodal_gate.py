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

Mechanics are entirely the family's existing primitives — the kernel
of streaming/signature_gate.py over BOTH rows of its modality table
(MinHash band-keys + matching-position verification for text, aHash
pigeonhole + popcount verification for media) — so state stays
signatures-only
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

from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    signature_gate as _sg,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
)


def _params(n, num_hashes, bands, threshold, bits, max_hamming) -> list[dict]:
    return [
        dict(n=n, num_hashes=num_hashes, bands=bands, threshold=threshold),
        dict(bits=bits, max_hamming=max_hamming),
    ]


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
    tp, mp = _params(n, num_hashes, bands, threshold, bits, max_hamming)
    sides = [
        _sg.Side(_sg.MODALITIES["text"], tp, text_state_sigs, sig=tsig),
        _sg.Side(_sg.MODALITIES["media"], mp, media_state_sigs, sig=msig),
    ]
    acc, (tsigs, msigs), dec, blk = _sg.gate_signatures(
        batch_df, sides, id_col, text_col, checkpoint_blockers,
        broadcast_batch,
    )
    return acc, tsigs, msigs, dec, blk


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
    stamped format (the text row's on ``text_state_dir``, the media
    row's on ``media_state_dir``), so the estate catalog, compactors,
    geometry guards, and bucketed layouts apply to each unchanged — the
    unification is the admission decision, not a new state format.
    ``decisions_dir`` / ``dup_of_dir`` arm the family's monitoring
    logs; the attribution rows carry the ``modality`` column so "what
    blocked my doc" distinguishes a text dup from a media dup."""
    tp, mp = _params(n, num_hashes, bands, threshold, bits, max_hamming)
    _sg.run_signature_gate(
        spark, input_dir, schema, out_dir, checkpoint_dir,
        [
            (_sg.MODALITIES["text"], tp, text_state_dir),
            (_sg.MODALITIES["media"], mp, media_state_dir),
        ],
        id_col, text_col, compact_after_dirs, decisions_dir, dup_of_dir,
        broadcast_batch=broadcast_batch,
    )
