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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.multimodal import ahash_signatures
from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    signature_band_keys,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming.dedup_gate import (
    _fold_state_dirs,
    _load_hybrid,
    _read_state,
    _refresh_bucketed,
    _write_bucketed_pair,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)

_SIG_SCHEMA = "doc long, sig long"

# the state store's format marker (counting_state.stamp_meta); the
# estate sinks classify, fold and erase media gate state by it
MEDIA_GATE_FORMAT = "media-gate/v1"


def media_gate_meta(bits: int, max_hamming: int) -> dict:
    """The media gate's state marker: format plus banding geometry."""
    return {
        "format": MEDIA_GATE_FORMAT, "bits": bits, "max_hamming": max_hamming,
    }


def _load_media_state(
    spark: SparkSession, state_dir: str, before_batch: int | None = None
) -> DataFrame:
    """Read the accepted-signature store (the family's retry-exclusion
    contract — dedup_gate._read_state)."""
    return _read_state(spark, state_dir, _SIG_SCHEMA, before_batch)


def _ham_blockers(
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    max_hamming: int,
    ordered: bool,
    broadcast_batch: bool = False,
) -> DataFrame:
    """(doc, odoc, dist): every within-distance blocking pair — the
    media analog of dedup_gate._est_blockers, exposed so rejection
    attribution (WHY was this item dropped) is a relation, not a
    re-derivation. Banded buckets propose, ``bit_count(xor)`` ≤
    max_hamming disposes. ``ordered=True`` applies the within-batch
    smaller-id rule; the cross-state direction keeps the self-pair
    ``odoc == doc`` so a re-delivered already-accepted media_id is
    blocked by its own prior signature (the family contract —
    dedup_gate._est_blockers documents the failure mode).

    ``broadcast_batch`` flips both state-side joins for the big-state
    regime exactly as dedup_gate._est_blockers does: the batch's band
    keys broadcast into the candidate join, the batch-sized
    candidates-with-signatures relation broadcasts into the Hamming
    verification join, and the accepted-media store is SCANNED through
    map-side hash joins — never shuffled."""
    okeys = other_keys.select(F.col("doc").alias("odoc"), "bk")
    if broadcast_batch:
        cand = okeys.join(
            F.broadcast(keys.select("doc", "bk")), "bk"
        ).select("doc", "odoc")
    else:
        cand = keys.join(okeys, "bk").select("doc", "odoc")
    if ordered:
        cand = cand.filter(F.col("odoc") < F.col("doc"))
    cand = cand.distinct()
    sa = sig.select("doc", F.col("sig").alias("__sa"))
    sb = other_sig.select(F.col("doc").alias("odoc"), F.col("sig").alias("__sb"))
    probe = cand.join(sa, "doc")
    joined = (
        sb.join(F.broadcast(probe), "odoc")
        if broadcast_batch
        else probe.join(sb, "odoc")
    )
    return (
        joined.select(
            "doc",
            "odoc",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("dist"),
        )
        .filter(F.col("dist") <= F.lit(max_hamming))
    )


def _ham_rejections(
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    max_hamming: int,
    ordered: bool,
) -> DataFrame:
    """Docs from (keys, sig) rejected against (other_keys, other_sig) —
    the rejected-doc projection of :func:`_ham_blockers`."""
    return (
        _ham_blockers(keys, sig, other_keys, other_sig, max_hamming, ordered)
        .select("doc")
        .distinct()
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
    cross-state probes for the big-state regime (see
    :func:`_ham_blockers`); identical admissions by construction."""
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
    dist): every within-distance pair eligible to reject ``doc`` —
    the media analog of dedup_gate.gate_batch_verified_attributed, so
    rejection attribution ("which accepted item is my upload a
    duplicate of") is persisted by the drain and readable without a
    replay. ``checkpoint_blockers=True`` localCheckpoints the relation
    before the other three derive from it (one candidate-join pass for
    a four-sink caller).

    ``state_keys`` optionally supplies the state's PRECOMPUTED band-key
    relation (doc, bk) — e.g. :func:`bucket_media_state`'s bucketed
    table, so the candidate probe reads co-located ``bk`` buckets
    instead of re-deriving and re-shuffling keys from the signature
    store every batch; must equal ``signature_band_keys(state_sigs,
    bits, max_hamming)``. ``broadcast_batch`` flips the cross-state
    probes for the big-state regime (see :func:`_ham_blockers`)."""
    if min_bytes is not None:
        batch_df = batch_df.filter(
            F.length(F.col("payload")) >= F.lit(int(min_bytes))
        )
        if sig is not None:
            sig = sig.join(
                batch_df.select(F.col(id_col).alias("doc")), "doc", "left_semi"
            )
    if sig is None:
        sig = ahash_signatures(batch_df, n=bits).select(
            F.col("media_id").alias("doc"), "sig"
        )
    keys = signature_band_keys(sig, bits, max_hamming)
    skeys = (
        state_keys
        if state_keys is not None
        else signature_band_keys(state_sigs, bits, max_hamming)
    )
    blockers = _ham_blockers(
        keys, sig, skeys, state_sigs, max_hamming, ordered=False,
        broadcast_batch=broadcast_batch,
    ).unionAll(_ham_blockers(keys, sig, keys, sig, max_hamming, ordered=True))
    if checkpoint_blockers:
        blockers = blockers.localCheckpoint()
    rejected = blockers.select("doc").distinct()
    accepted = batch_df.join(
        rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
    )
    accepted_sigs = sig.join(rejected, "doc", "left_anti")
    decisions = batch_df.select(F.col(id_col).alias("doc")).join(
        rejected.withColumn("__rej", F.lit(True)), "doc", "left"
    ).select(
        "doc", (~F.coalesce(F.col("__rej"), F.lit(False))).alias("admitted")
    )
    return accepted, accepted_sigs, decisions, blockers


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

    ``bucketed`` — ``{"table_prefix": str, "path": str, "num_buckets":
    int}`` — arms the hybrid state layout exactly as the verified text
    drain's: the folded history is probed through bucketed tables
    (sigs on ``doc``, derived band keys on ``bk`` — no store
    re-shuffle) plus a flat read of only the post-fold tail dirs; each
    compaction refreshes the tables, and a stale/missing marker falls
    back to the flat read, so the hybrid can change the physical plan
    but never an admission. ``broadcast_batch`` flips the cross-state
    probes so the state streams map-side (see :func:`_ham_blockers`)."""
    _cs.stamp_meta(state_dir, media_gate_meta(bits, max_hamming))
    _cs.stamp_corpus_meta(out_dir, id_col, "media")

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if bucketed is None:
            state = _load_media_state(sp, state_dir, before_batch=batch_id)
            skeys = None
        else:
            state, skeys = _load_media_state_hybrid(
                sp, state_dir, bits, max_hamming,
                bucketed["table_prefix"], bucketed["path"],
                before_batch=batch_id,
            )
        accepted, accepted_sigs, decisions, blockers = (
            gate_media_batch_attributed(
                batch_df, state, id_col, bits, max_hamming,
                checkpoint_blockers=dup_of_dir is not None,
                min_bytes=min_bytes, state_keys=skeys,
                broadcast_batch=broadcast_batch,
            )
        )
        write_batch(accepted, out_dir, batch_id)
        write_batch(accepted_sigs, state_dir, batch_id)
        if decisions_dir is not None:
            write_batch(decisions, decisions_dir, batch_id)
        if dup_of_dir is not None:
            write_batch(blockers, dup_of_dir, batch_id)
        if compact_if_due(
            state_dir, compact_after_dirs, compact_media_state,
            sp, state_dir, exclude_from=batch_id,
        ) and bucketed is not None:
            refresh_bucketed_media_state(
                sp, state_dir, bits, max_hamming,
                bucketed["table_prefix"], bucketed["path"],
                bucketed.get("num_buckets", 8),
            )

    drain(spark, input_dir, schema, checkpoint_dir, _gate)


def compact_media_state(
    spark: SparkSession,
    state_dir: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold the media gate's (doc, sig) store —
    dedup_gate._fold_state_dirs on ``doc``, the join key every gate
    batch probes."""
    _fold_state_dirs(
        spark, state_dir, _load_media_state, "doc", exclude_from,
        num_partitions,
    )


# -- bucketed + hybrid state for the MEDIA drain ------------------------------
#
# Same production split as the verified text gate (dedup_gate.py): the
# folded history lives as bucketed external tables the per-batch probes
# scan without re-shuffling — sigs on ``doc`` (the Hamming-verification
# join's key), derived band keys on ``bk`` (the candidate semi-join's
# key) — while only the small post-fold tail of per-batch dirs is read
# flat. The marker/fallback protocol is shared with the text gate, so
# the hybrid is a physical-plan choice that can never change an
# admission.


def bucket_media_state(
    spark: SparkSession,
    state_dir: str,
    bits: int,
    max_hamming: int,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the media gate's CURRENT state as the two bucketed
    tables (``<prefix>_keys`` on bk, ``<prefix>_sigs`` on doc); pass
    them to :func:`gate_media_batch_attributed` as (state_keys,
    state_sigs). Returns (keys_table, sigs_table)."""
    return _write_bucketed_pair(
        spark, _load_media_state(spark, state_dir),
        lambda t: signature_band_keys(t, bits, max_hamming),
        table_prefix, path, num_buckets,
    )


def refresh_bucketed_media_state(
    spark: SparkSession,
    state_dir: str,
    bits: int,
    max_hamming: int,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Rebuild the media gate's bucketed tables from the CURRENT
    generation dirs only and stamp the marker with the generation id
    they mirror — dedup_gate.refresh_bucketed_sig_state's contract for
    the media layout. A no-op when the store has no generation yet."""
    _refresh_bucketed(
        spark, state_dir, _SIG_SCHEMA,
        lambda t: signature_band_keys(t, bits, max_hamming),
        table_prefix, path, num_buckets,
    )


def _load_media_state_hybrid(
    spark: SparkSession,
    state_dir: str,
    bits: int,
    max_hamming: int,
    table_prefix: str,
    path: str,
    before_batch: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(state_sigs, state_keys) for one media gate batch: bucketed
    tables for the folded generation + flat reads for the per-batch
    tail IF the marker proves the tables mirror the store's current
    generation; otherwise the plain flat load (state_keys None → the
    kernel derives them). A crash between fold and refresh degrades to
    the flat plan, never to a wrong admission."""
    return _load_hybrid(
        spark, state_dir, _SIG_SCHEMA,
        lambda bb: _load_media_state(spark, state_dir, bb),
        lambda t: signature_band_keys(t, bits, max_hamming),
        table_prefix, path, before_batch,
    )
