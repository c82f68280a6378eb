"""Signature admission gates: which signature a gate keeps and how it
verifies a candidate pair, as one modality table over one kernel, one
drain body and one gate-state table.

The raw bucket gate (dedup_gate.gate_batch) rejects on ANY shared band
bucket — cheap, but one r-row collision (P ≈ j^r for similarity j,
non-negligible well below the dedup threshold) throws a document away.
At 100 TB the history's payloads are gone, but the signatures are
retained state, so a signature gate stores full signatures and rejects
only when a band-bucket candidate VERIFIES: bucket collision proposes,
signature agreement disposes. :data:`MODALITIES` holds the two
signatures the package keeps:

* ``text`` — MinHash over shingles (``verified-dedup-gate/v1``, frozen
  as ``n, num_hashes, bands, threshold``): band keys from
  neardup.band_keys_of_signature; a pair verifies when the
  matching-position fraction — the unbiased MinHash estimate of
  Jaccard — reaches ``threshold`` (score column ``est``); floor:
  curation ``quality_score ≥ min_quality``.
* ``media`` — aHash of the decoded payload, one packed long
  (``media-gate/v1``, frozen as ``bits, max_hamming``): pigeonhole band
  keys from neardup.signature_band_keys (distance ≤ d ⇒ one of d+1
  bands equal — lossless); a pair verifies when ``bit_count(xor)`` ≤
  ``max_hamming`` (score column ``dist``); floor: payload
  ``length ≥ min_bytes``.

:data:`STATES` is the gate-state table: every gate store kind the
estate sinks meet — the two rows above plus the raw bucket gate's
``dedup-gate/v1`` (doc, bk) store — each a row of the per-batch store
table (counting_state.Store: a set store folded clustered on its probe
key) carrying its catalog modality. forget, maintenance and the catalog
read it instead of importing the gates.

Admission policy (the family rule, identical for every row): a doc is
REJECTED iff a verified blocker exists — from the accepted state, or a
SMALLER doc id inside its own batch, admitted or not (pessimistic on
collision chains, in exchange for two joins and no per-doc iteration).
:func:`gate_signatures` evaluates a list of modalities against one
batch: one modality is a unimodal gate (dedup_gate's verified gate,
media_gate), two are the unified multimodal gate, where a doc rejected
by EITHER modality enters neither state. Every modality keeps its own
store under its own stamped format, so compaction, bucketed layouts
and the estate sinks apply unchanged whatever gate wrote it.

Scale posture: state is touched only through banded equi-joins on
skinny keys and output-proportional signature joins; verification
never reads a payload and never cross-joins.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import reduce
from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    band_keys_of_signature,
    minhash_signature,
    signature_band_keys,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.counting_state import (
    META,
    Store,
    stamp_corpus_meta,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    state_subdirs,
    write_batch,
)


def _est_sql(p: dict) -> str:
    # the k-term match sum is built as one JVM-parsed SQL string: the
    # blockers are built once per micro-batch in the drains (and 3-6x per
    # replay construction), and the Column-API form cost ~100 py4j round
    # trips per call, all of it plan-build time in the Python process
    k = int(p["num_hashes"])
    terms = " + ".join(f"CAST((__a{i} = __b{i}) AS INT)" for i in range(k))
    return f"({terms}) / CAST({float(k)!r} AS DOUBLE)"


def _quality_floor(p: dict, text_col: str) -> Column | None:
    if p.get("min_quality") is None:
        return None
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
        quality_score,
    )

    return quality_score(text_col) >= F.lit(float(p["min_quality"]))


def _ahash(batch_df: DataFrame, id_col: str, text_col: str, p: dict) -> DataFrame:
    # the codec stage's Arrow batches read ``media_id``, so the id column
    # is renamed into that slot on the INPUT; the codec module loads on
    # first use, never with the gates
    from reddit_apache_airflow_postgres_pipeline_spark.operators.multimodal import (
        ahash_signatures,
    )

    media = batch_df.select(
        F.col(id_col).alias("media_id"), "kind", "payload", "meta"
    )
    return ahash_signatures(media, n=p["bits"]).select(
        F.col("media_id").alias("doc"), "sig"
    )


@dataclass(frozen=True)
class Modality:
    name: str
    state: Store
    # (batch, id_col, text_col, p) -> the batch's (doc, signature cols)
    sign: Callable[[DataFrame, str, str, dict], DataFrame]
    band_keys: Callable[[DataFrame, dict], DataFrame]  # -> (doc, bk)
    score: str  # the blocker relation's score column
    score_sql: Callable[[dict], str]  # over the paired columns __a<i>, __b<i>
    keep: Callable[[dict], Column]  # the verify predicate on the score
    floor: Callable[[dict, str], Column | None]  # (p, text_col) -> floor


# a gate store is a SET store (merge ``distinct``) whose fold clusters on
# its probe key: the column every per-batch probe joins on
RAW_STATE = Store(
    "dedup-gate/v1", ("n", "num_hashes", "bands"),
    lambda p: "doc long, bk string", "distinct", key="bk", modality="text",
)

MODALITIES = {
    "text": Modality(
        "text",
        Store(
            "verified-dedup-gate/v1", ("n", "num_hashes", "bands", "threshold"),
            lambda p: "doc long, " + ", ".join(
                f"mh_{i} string" for i in range(int(p["num_hashes"]))
            ),
            "distinct", key="doc", modality="text",
        ),
        lambda b, id_col, text_col, p: minhash_signature(
            b, id_col, text_col, p["n"], p["num_hashes"]
        ),
        lambda sig, p: band_keys_of_signature(sig, p["num_hashes"], p["bands"]),
        "est",
        _est_sql,
        lambda p: F.col("est") >= F.lit(float(p["threshold"])),
        _quality_floor,
    ),
    "media": Modality(
        "media",
        Store(
            "media-gate/v1", ("bits", "max_hamming"),
            lambda p: "doc long, sig long", "distinct", key="doc",
            modality="media",
        ),
        _ahash,
        lambda sig, p: signature_band_keys(sig, p["bits"], p["max_hamming"]),
        "dist",
        lambda p: "bit_count(__a0 ^ __b0)",
        lambda p: F.col("dist") <= F.lit(p["max_hamming"]),
        lambda p, text_col: None if p.get("min_bytes") is None else (
            F.length(F.col("payload")) >= F.lit(int(p["min_bytes"]))
        ),
    ),
}

STATES = {
    s.fmt: s for s in (RAW_STATE, *(m.state for m in MODALITIES.values()))
}


def _stamped(state_dir: str) -> dict:
    with open(os.path.join(state_dir, META)) as f:
        return json.load(f)


# -- state lifecycle ----------------------------------------------------------


def compact_gate_state(
    spark: SparkSession,
    state_dir: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold any stamped gate store, with the kind and frozen params its
    ``_meta.json`` declares: the one generation fold
    (counting_state.compact_counts) in ``distinct`` mode, clustered on
    the store's probe key. ``exclude_from`` (the in-flight batch id on
    the drain path) keeps not-yet-committed state out of the fold so a
    retry can still exclude it."""
    meta = _stamped(state_dir)
    STATES[meta["format"]].compact(
        spark, state_dir, meta, exclude_from, num_partitions=num_partitions
    )


# -- bucketed + hybrid state ---------------------------------------------------
#
# The production split at 100 TB: the folded history (one generation
# dir, ~everything) lives as two bucketed external tables the per-batch
# probes scan without re-shuffling — ``<prefix>_sigs`` on ``doc`` (the
# verification join's key) and the derived band keys as
# ``<prefix>_keys`` on ``bk`` (the candidate join's key) — while only
# the small post-fold tail of per-batch dirs is read flat. Refresh
# happens at compaction time (the only moment the generation changes),
# and a marker records WHICH generation the tables mirror — a stale or
# missing marker falls back to the flat read, so the hybrid path can
# change performance but never admissions.

BUCKETED_MARKER = "_bucketed_gen.json"


def _newest_gen_id(state_dir: str) -> int | None:
    gens = [i for i in state_subdirs(state_dir).values() if i < 0]
    return min(gens, default=None)


def bucket_gate_state(
    spark: SparkSession,
    state_dir: str,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
    before_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Materialize a stamped signature store as the two bucketed
    tables; pass them to a gate kernel as (state_keys, state_sigs):
    per batch, the candidate join reads only matching ``bk`` buckets
    and the signature join only matching ``doc`` buckets, neither side
    re-shuffling the store. ``before_batch`` as in
    :meth:`Store.load <counting_state.Store.load>` (0: the folded generations only, what
    :func:`refresh_bucketed` mirrors). Returns (keys_table,
    sigs_table)."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.bucketed import (
        write_bucketed,
    )

    meta = _stamped(state_dir)
    mod = next(m for m in MODALITIES.values() if m.state.fmt == meta["format"])
    write_bucketed(
        mod.state.load(spark, state_dir, meta, before_batch),
        f"{table_prefix}_sigs", ["doc"], num_buckets,
        os.path.join(path, "sigs"), sort_cols=["doc"],
    )
    sigs_t = spark.table(f"{table_prefix}_sigs")
    write_bucketed(
        mod.band_keys(sigs_t, meta), f"{table_prefix}_keys", ["bk"],
        num_buckets, os.path.join(path, "keys"), sort_cols=["bk"],
    )
    return spark.table(f"{table_prefix}_keys"), sigs_t


def refresh_bucketed(
    spark: SparkSession,
    state_dir: str,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Rebuild the bucketed tables from the CURRENT generation dirs only
    (the folded history — per-batch tail dirs stay flat) and stamp the
    marker with the generation id they mirror. A no-op when the store
    has no generation yet."""
    gen = _newest_gen_id(state_dir)
    if gen is None:
        return
    bucket_gate_state(spark, state_dir, table_prefix, path, num_buckets, 0)
    tmp = os.path.join(path, BUCKETED_MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"gen": gen}, f)
    os.replace(tmp, os.path.join(path, BUCKETED_MARKER))


def _mirrors_generation(bucketed: dict | None, state_dir: str) -> bool:
    if bucketed is None:
        return False
    marker = os.path.join(bucketed["path"], BUCKETED_MARKER)
    gen = _newest_gen_id(state_dir)
    if gen is None or not os.path.exists(marker):
        return False
    with open(marker) as f:
        return json.load(f).get("gen") == gen


def load_state(
    spark: SparkSession,
    state_dir: str,
    mod: Modality,
    p: dict,
    before_batch: int | None = None,
    bucketed: dict | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """(state_sigs, state_keys) for one gate batch. With ``bucketed``
    armed and the marker proving the tables mirror the store's current
    generation: the bucketed tables plus flat reads of the per-batch
    tail. Otherwise the flat store (state_keys None → the kernel
    derives them); a crash between fold and refresh degrades to the
    flat plan, never to a wrong admission."""
    if not _mirrors_generation(bucketed, state_dir):
        return mod.state.load(spark, state_dir, p, before_batch), None
    tail = mod.state.load(spark, state_dir, p, before_batch, since=0)
    sigs_t = spark.table(f"{bucketed['table_prefix']}_sigs")
    keys_t = spark.table(f"{bucketed['table_prefix']}_keys")
    return sigs_t.unionByName(tail), keys_t.unionByName(mod.band_keys(tail, p))


# -- the kernel -----------------------------------------------------------------


def blockers(
    mod: Modality,
    p: dict,
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    ordered: bool,
    broadcast_batch: bool = False,
) -> DataFrame:
    """(doc, odoc, <score>): every verified pair that blocks a doc of
    (keys, sig) against (other_keys, other_sig) — the attribution
    relation, so WHY a doc was rejected is a relation, not a
    re-derivation. The band-bucket join proposes candidate pairs, the
    modality's score over the paired signature columns disposes.
    ``ordered=True`` applies the within-batch first-wins tiebreak (only
    a SMALLER doc id can block).

    The cross-state direction (``ordered=False``) keeps the self-pair
    ``odoc == doc``: a batch doc whose id ALREADY exists in the accepted
    state is a re-delivery (same content, new file name — the
    checkpoint only dedupes files, not rows), and its own prior
    signature must be allowed to block it. Excluding the pair would
    silently admit the re-delivery and land a duplicate row in out/
    and the signature store, diverging from the raw bucket gate (whose
    bk semi-join rejects it). A same-id doc whose content DIFFERS
    beyond the verify bound is admitted as new — id uniqueness upstream
    is the caller's contract.

    ``broadcast_batch`` flips BOTH state-side joins for the big-state
    regime (meaningful only for the cross-state direction): the batch's
    band keys broadcast into the candidate join and the batch-sized
    candidates-with-signatures relation broadcasts into the
    verification join, so the state's keys AND signatures are each
    SCANNED through a map-side hash join — never shuffled. Identical
    pairs — the same equi-joins evaluated from the other side."""
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
    cols = mod.state.cols(p)[1:]  # the signature columns after doc
    sa = sig.selectExpr("doc", *[f"{c} AS __a{i}" for i, c in enumerate(cols)])
    sb = other_sig.selectExpr(
        "doc AS odoc", *[f"{c} AS __b{i}" for i, c in enumerate(cols)]
    )
    probe = cand.join(sa, "doc")
    if broadcast_batch:
        joined = sb.join(F.broadcast(probe), "odoc")
    else:
        joined = probe.join(sb, "odoc")
    return joined.selectExpr(
        "doc", "odoc", f"{mod.score_sql(p)} AS {mod.score}"
    ).filter(mod.keep(p))


class Side(NamedTuple):
    """One modality's part of a gate batch: its frozen params, accepted
    state signatures, and optionally the state's PRECOMPUTED band keys
    (e.g. :func:`bucket_gate_state`'s table) and the batch's
    PRECOMPUTED signatures (a replay over many batches of one corpus
    derives them once). Each must equal what the modality would derive
    under the same params."""

    mod: Modality
    p: dict
    state: DataFrame
    state_keys: DataFrame | None = None
    sig: DataFrame | None = None


def gate_signatures(
    batch_df: DataFrame,
    sides: list[Side],
    id_col: str,
    text_col: str = "text",
    checkpoint_blockers: bool = False,
    broadcast_batch: bool = False,
) -> tuple[DataFrame, list[DataFrame], DataFrame, DataFrame]:
    """Apply the admission policy of every side to one batch: a doc is
    rejected iff ANY side has a blocker for it (:func:`blockers` against
    its state, or a smaller id in its own batch).

    Returns (accepted_rows, accepted_sigs per side, decisions,
    blockers). ``decisions`` is the full (doc, admitted) relation; a
    doc appears in ``blockers`` iff it was rejected. One side's
    blockers keep its native schema (doc, odoc, est|dist); several are
    tagged as (doc, odoc, modality, score), the score as double. Docs
    without a signature (no shingle) claim no buckets and are admitted.

    A side's floor (``min_quality`` / ``min_bytes`` in its params)
    drops below-floor rows BEFORE signatures exist, so they claim no
    buckets, get no decision row, and a later higher-quality near-copy
    can still be admitted. ``checkpoint_blockers=True``
    localCheckpoints the blocker relation before the other outputs
    derive from it (one candidate-join pass for a four-sink caller).
    ``broadcast_batch`` flips every side's cross-state probes."""
    floors = [f for s in sides if (f := s.mod.floor(s.p, text_col)) is not None]
    for f in floors:
        batch_df = batch_df.filter(f)
    sigs, blks = [], []
    for s in sides:
        sig = s.sig
        if sig is not None and floors:
            sig = sig.join(
                batch_df.select(F.col(id_col).alias("doc")), "doc", "left_semi"
            )
        if sig is None:
            sig = s.mod.sign(batch_df, id_col, text_col, s.p)
        keys = s.mod.band_keys(sig, s.p)
        skeys = s.state_keys
        if skeys is None:
            skeys = s.mod.band_keys(s.state, s.p)
        blk = blockers(
            s.mod, s.p, keys, sig, skeys, s.state, ordered=False,
            broadcast_batch=broadcast_batch,
        ).unionAll(blockers(s.mod, s.p, keys, sig, keys, sig, ordered=True))
        if len(sides) > 1:
            blk = blk.select(
                "doc", "odoc", F.lit(s.mod.name).alias("modality"),
                F.col(s.mod.score).cast("double").alias("score"),
            )
        sigs.append(sig)
        blks.append(blk)
    blk = reduce(DataFrame.unionAll, blks)
    if checkpoint_blockers:
        blk = blk.localCheckpoint()
    rejected = blk.select("doc").distinct()
    accepted = batch_df.join(
        rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
    )
    decisions = batch_df.select(F.col(id_col).alias("doc")).join(
        rejected.withColumn("__rej", F.lit(True)), "doc", "left"
    ).select(
        "doc", (~F.coalesce(F.col("__rej"), F.lit(False))).alias("admitted")
    )
    accepted_sigs = [sig.join(rejected, "doc", "left_anti") for sig in sigs]
    return accepted, accepted_sigs, decisions, blk


# -- the drain --------------------------------------------------------------------


def run_signature_gate(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    stores: list[tuple[Modality, dict, str]],
    id_col: str,
    text_col: str = "text",
    compact_after_dirs: int = COMPACT_AFTER_DIRS,
    decisions_dir: str | None = None,
    dup_of_dir: str | None = None,
    bucketed: dict | None = None,
    broadcast_batch: bool = False,
) -> None:
    """Drain ``input_dir`` through :func:`gate_signatures` over
    ``stores`` — (modality, params, state_dir) per side — with an
    availableNow trigger. Accepted rows land under
    ``out_dir/batch_id=<i>``, each side's accepted signatures under its
    ``state_dir/batch_id=<i>``, per-batch overwrite making a retried
    micro-batch idempotent; the checkpoint gates each input file
    exactly once across restarts.

    Each store's params are stamped into its meta on first run and
    verified on every later one (counting_state.stamp_meta): signatures
    written under a different hash family or band split MUST NOT be
    silently merged. ``decisions_dir`` / ``dup_of_dir`` persist the
    per-batch (doc, admitted) and blocker relations with the same
    exactly-once per-dir overwrite, so "what was my upload a duplicate
    of" is a log read, not a replay. A store holding more than
    ``compact_after_dirs`` live dirs is folded
    (:func:`compact_gate_state`); ``bucketed`` — ``{"table_prefix",
    "path", "num_buckets"}`` — arms the hybrid layout
    (:func:`load_state`), refreshed at every fold."""
    for mod, p, state_dir in stores:
        mod.state.stamp(state_dir, p)
    corpus = stores[0][0].name if len(stores) == 1 else "multimodal"
    stamp_corpus_meta(out_dir, id_col, corpus)

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        sides = [
            Side(mod, p, *load_state(sp, sd, mod, p, batch_id, bucketed))
            for mod, p, sd in stores
        ]
        accepted, sigs, decisions, blk = gate_signatures(
            batch_df, sides, id_col, text_col,
            checkpoint_blockers=dup_of_dir is not None,
            broadcast_batch=broadcast_batch,
        )
        write_batch(accepted, out_dir, batch_id)
        for (_, _, state_dir), sig in zip(stores, sigs):
            write_batch(sig, state_dir, batch_id)
        if decisions_dir is not None:
            write_batch(decisions, decisions_dir, batch_id)
        if dup_of_dir is not None:
            write_batch(blk, dup_of_dir, batch_id)
        for mod, p, state_dir in stores:
            if compact_if_due(
                state_dir, compact_after_dirs, mod.state.compact,
                sp, state_dir, p, exclude_from=batch_id,
            ) and bucketed is not None:
                refresh_bucketed(
                    sp, state_dir, bucketed["table_prefix"], bucketed["path"],
                    bucketed.get("num_buckets", 8),
                )

    drain(spark, input_dir, schema, checkpoint_dir, _gate)
