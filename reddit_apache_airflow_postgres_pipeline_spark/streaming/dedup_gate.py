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
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
    band_keys_of_signature,
    minhash_band_keys,
    minhash_signature,
)
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as _cs,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    COMPACT_AFTER_DIRS,
    compact_if_due,
    drain,
    write_batch,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    state_subdirs as _state_subdirs,  # tests and sinks/forget.py use it
)

_BK_SCHEMA = "doc long, bk string"

# the state stores' format markers (counting_state.stamp_meta); the
# estate sinks classify, fold and erase gate state by these names
GATE_FORMAT = "dedup-gate/v1"
VERIFIED_GATE_FORMAT = "verified-dedup-gate/v1"


def gate_meta(n: int, num_hashes: int, bands: int) -> dict:
    """The raw bucket gate's state marker: format plus geometry."""
    return {
        "format": GATE_FORMAT, "n": n, "num_hashes": num_hashes,
        "bands": bands,
    }


def verified_gate_meta(
    n: int, num_hashes: int, bands: int, threshold: float
) -> dict:
    """The verified gate's state marker: format, geometry, threshold."""
    return {
        "format": VERIFIED_GATE_FORMAT, "n": n, "num_hashes": num_hashes,
        "bands": bands, "threshold": threshold,
    }


def _read_state(
    spark: SparkSession,
    state_dir: str,
    schema: str,
    before_batch: int | None = None,
) -> DataFrame:
    """Read a gate's accepted-state store as ``schema`` — empty while
    nothing was written. ``before_batch`` excludes state written by
    batch ids ≥ that id: a RETRIED micro-batch must not see its own
    failed attempt's rows (it would reject every one of its docs as a
    duplicate of itself). Generations (negative ids) are always
    included — they only ever fold batches that committed before the
    current one."""
    try:
        df = spark.read.schema(schema + ", batch_id long").parquet(state_dir)
    except AnalysisException:
        return local_df(spark, [], schema)
    if before_batch is not None:
        df = df.filter(F.col("batch_id") < before_batch)
    return df.drop("batch_id")


def _load_state(
    spark: SparkSession, state_dir: str, before_batch: int | None = None
) -> DataFrame:
    """Read the accepted-band-key store (:func:`_read_state`)."""
    return _read_state(spark, state_dir, _BK_SCHEMA, before_batch)


def _fold_state_dirs(
    spark: SparkSession,
    state_dir: str,
    loader,
    partition_col: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """THE one copy of the gate family's state fold (r11 review: three
    near-verbatim compactors encoded this crash-safety-critical
    sequence separately). Fold per-batch state dirs into one
    generation dir.

    Generations occupy reserved NEGATIVE batch_id partitions (real
    micro-batch ids are checkpoint-monotonic and never negative), each
    one lower than the last, so a generation can never collide with a
    future batch write. The sequence is crash-safe because every gate
    state is a SET consumed through distinct joins — duplicates never
    change admission decisions — so it only needs superset-monotonic
    steps:

    1. read the whole store via ``loader(spark, state_dir,
       before_batch)``, write it (distinct, hash-partitioned on
       ``partition_col`` with normal parallelism — the fold is a full
       shuffle across the cluster, never a single task) to a tmp dir
       OUTSIDE the store;
    2. rename tmp into the store as the new generation (duplicate rows
       now exist — harmless);
    3. delete the subsumed per-batch dirs (a crash mid-delete leaves a
       superset — harmless, next compaction finishes the job).

    Local-FS ops here (the streaming tests' hermetic path); on a real
    deployment these become storage renames/deletes, or the state store
    is a table format (Delta/Iceberg) whose OPTIMIZE does the same fold
    transactionally.

    ``exclude_from`` (set to the in-flight batch id by the streaming
    caller) keeps not-yet-committed state OUT of the fold: the current
    batch's rows must stay in their own ``batch_id=<i>`` dir so a retry
    can still exclude them. With ``num_partitions=None`` AQE sizes the
    shuffle by bytes (locally that may legitimately fold a tiny state
    into one file; on a large store it yields thousands of write
    tasks); an explicit ``num_partitions`` pins the task count.
    Repartitioning on the store's probe key also pre-clusters it for
    the bucketed-table layout the module docstring prescribes at scale.
    """
    ids = _state_subdirs(state_dir)
    old_dirs = [
        d
        for d, i in ids.items()
        if exclude_from is None or i < exclude_from
    ]
    if len(old_dirs) < 2:
        return  # nothing to fold
    next_gen = min(min(ids.values()), 0) - 1
    tmp = state_dir.rstrip("/") + "__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    folded = loader(spark, state_dir, exclude_from).distinct()
    if num_partitions is not None:
        folded = folded.repartition(num_partitions, partition_col)
    else:
        folded = folded.repartition(partition_col)
    folded.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, os.path.join(state_dir, f"batch_id={next_gen}"))
    for d in old_dirs:
        shutil.rmtree(d, ignore_errors=True)


def compact_state(
    spark: SparkSession,
    state_dir: str,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold the raw gate's (doc, bk) store — :func:`_fold_state_dirs`
    on the bucket key, the store's probe key."""
    _fold_state_dirs(
        spark, state_dir, _load_state, "bk", exclude_from, num_partitions
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


def bucket_sig_state(
    spark: SparkSession,
    state_dir: str,
    num_hashes: int,
    bands: int,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The VERIFIED gate's bucketed layout: TWO external tables —
    ``<prefix>_sigs`` bucketed on ``doc`` (the verification joins'
    probe key) and ``<prefix>_keys``, the DERIVED band keys bucketed on
    ``bk`` (the candidate semi-join's probe key). Pass them to
    :func:`gate_batch_verified_attributed` as (state_keys, state_sigs):
    per batch, the candidate join reads only matching ``bk`` buckets
    and the signature join only matching ``doc`` buckets, neither side
    re-shuffling the store. Returns (keys_table, sigs_table)."""
    return _write_bucketed_pair(
        spark, _load_sig_state(spark, state_dir, num_hashes),
        lambda t: band_keys_of_signature(t, num_hashes, bands),
        table_prefix, path, num_buckets,
    )


# -- hybrid bucketed + flat state for the VERIFIED drain ----------------------
#
# The production split at 100 TB: the folded history (one generation
# dir, ~everything) lives as bucketed tables the per-batch probes scan
# without re-shuffling; only the small post-fold tail of per-batch dirs
# is read flat. Refresh happens at compaction time (the only moment the
# generation changes), and a marker records WHICH generation the tables
# mirror — a stale or missing marker falls back to the flat read, so
# the hybrid path can change performance but never admissions.

_BUCKETED_MARKER = "_bucketed_gen.json"


def _newest_gen_id(state_dir: str) -> int | None:
    gens = [i for i in _state_subdirs(state_dir).values() if i < 0]
    return min(gens, default=None)


def _write_bucketed_pair(
    spark: SparkSession,
    sigs: DataFrame,
    band_keys: Callable[[DataFrame], DataFrame],
    table_prefix: str,
    path: str,
    num_buckets: int,
) -> tuple[DataFrame, DataFrame]:
    """Write a signature relation as the hybrid layout's two external
    tables — ``<prefix>_sigs`` bucketed on ``doc`` and its derived
    ``band_keys`` as ``<prefix>_keys`` bucketed on ``bk``. Shared by
    the verified text gate and the media gate, which differ only in
    the signature schema and band-key function. Returns (keys_table,
    sigs_table)."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.bucketed import (
        write_bucketed,
    )

    write_bucketed(
        sigs, f"{table_prefix}_sigs", ["doc"], num_buckets,
        os.path.join(path, "sigs"), sort_cols=["doc"],
    )
    sigs_t = spark.table(f"{table_prefix}_sigs")
    write_bucketed(
        band_keys(sigs_t), f"{table_prefix}_keys", ["bk"], num_buckets,
        os.path.join(path, "keys"), sort_cols=["bk"],
    )
    return spark.table(f"{table_prefix}_keys"), sigs_t


def _refresh_bucketed(
    spark: SparkSession,
    state_dir: str,
    sig_schema: str,
    band_keys: Callable[[DataFrame], DataFrame],
    table_prefix: str,
    path: str,
    num_buckets: int,
) -> None:
    """Rebuild the bucketed tables from the CURRENT generation dirs
    only (the folded history — per-batch tail dirs stay flat) and
    stamp the marker with the generation id they mirror. A no-op when
    the store has no generation yet."""
    gen = _newest_gen_id(state_dir)
    if gen is None:
        return
    sigs = (
        spark.read.schema(sig_schema + ", batch_id long")
        .parquet(state_dir)
        .filter(F.col("batch_id") < 0)
        .drop("batch_id")
    )
    _write_bucketed_pair(
        spark, sigs, band_keys, table_prefix, path, num_buckets
    )
    tmp = os.path.join(path, _BUCKETED_MARKER + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"gen": gen}, f)
    os.replace(tmp, os.path.join(path, _BUCKETED_MARKER))


def _load_hybrid(
    spark: SparkSession,
    state_dir: str,
    sig_schema: str,
    load_flat: Callable[[int | None], DataFrame],
    band_keys: Callable[[DataFrame], DataFrame],
    table_prefix: str,
    path: str,
    before_batch: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(state_sigs, state_keys) for one gate batch: bucketed tables for
    the folded generation + flat reads for the per-batch tail, IF the
    marker proves the tables mirror the store's current generation;
    otherwise ``load_flat(before_batch)`` (state_keys None → the
    kernel derives them). The fallback means a crash between fold and
    refresh degrades to the flat plan, never to a wrong admission."""
    marker = os.path.join(path, _BUCKETED_MARKER)
    gen = _newest_gen_id(state_dir)
    if gen is None or not os.path.exists(marker):
        return load_flat(before_batch), None
    with open(marker) as f:
        mirrored = json.load(f).get("gen")
    if mirrored != gen:
        return load_flat(before_batch), None
    tail = (
        spark.read.schema(sig_schema + ", batch_id long")
        .parquet(state_dir)
        .filter(F.col("batch_id") >= 0)
    )
    if before_batch is not None:
        tail = tail.filter(F.col("batch_id") < before_batch)
    tail = tail.drop("batch_id")
    sigs_t = spark.table(f"{table_prefix}_sigs")
    keys_t = spark.table(f"{table_prefix}_keys")
    return sigs_t.unionByName(tail), keys_t.unionByName(band_keys(tail))


def refresh_bucketed_sig_state(
    spark: SparkSession,
    state_dir: str,
    num_hashes: int,
    bands: int,
    table_prefix: str,
    path: str,
    num_buckets: int = 8,
) -> None:
    """Rebuild the verified gate's bucketed tables from the current
    generation (:func:`_refresh_bucketed`)."""
    _refresh_bucketed(
        spark, state_dir, _sig_schema(num_hashes),
        lambda t: band_keys_of_signature(t, num_hashes, bands),
        table_prefix, path, num_buckets,
    )


def _load_sig_state_hybrid(
    spark: SparkSession,
    state_dir: str,
    num_hashes: int,
    bands: int,
    table_prefix: str,
    path: str,
    before_batch: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """The verified gate's hybrid state read (:func:`_load_hybrid`)."""
    return _load_hybrid(
        spark, state_dir, _sig_schema(num_hashes),
        lambda bb: _load_sig_state(spark, state_dir, num_hashes, bb),
        lambda t: band_keys_of_signature(t, num_hashes, bands),
        table_prefix, path, before_batch,
    )


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
    _cs.stamp_meta(state_dir, gate_meta(n, num_hashes, bands))
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


# -- signature-VERIFIED admission -------------------------------------------
#
# The raw bucket gate above rejects on ANY shared band bucket — cheap,
# but one r-row collision (P ≈ j^r for similarity j, non-negligible well
# below the dedup threshold) throws a document away. At 100 TB the
# history's TEXT is gone — exact-Jaccard re-verification is impossible —
# but the signatures themselves are retained state, and matching-position
# fraction IS the unbiased MinHash estimate of Jaccard. The verified gate
# stores full signatures instead of bare bucket keys and rejects only
# when a band-bucket candidate's estimate clears ``threshold``:
# bucket collision proposes, signature agreement disposes.


def _sig_schema(num_hashes: int) -> str:
    return "doc long, " + ", ".join(f"mh_{i} string" for i in range(num_hashes))


def _load_sig_state(
    spark: SparkSession,
    state_dir: str,
    num_hashes: int,
    before_batch: int | None = None,
) -> DataFrame:
    """Read the accepted-signature store (:func:`_read_state`)."""
    return _read_state(spark, state_dir, _sig_schema(num_hashes), before_batch)


def _est_rejections(
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    num_hashes: int,
    threshold: float,
    ordered: bool,
) -> DataFrame:
    """Docs from (keys, sig) rejected against (other_keys, other_sig):
    band-bucket join proposes candidate pairs, matching-position count
    over the k-column signatures disposes. ``ordered=True`` applies the
    within-batch first-wins tiebreak (only a SMALLER doc id can reject);
    cross-state the direction is already fixed by arrival time.

    One skinny equi-join on bk + one distinct + two signature joins —
    all output-proportional; signatures are k×8-hex strings, so the
    estimate never touches text."""
    return (
        _est_blockers(
            keys, sig, other_keys, other_sig, num_hashes, threshold, ordered
        )
        .select("doc")
        .distinct()
    )


def _est_blockers(
    keys: DataFrame,
    sig: DataFrame,
    other_keys: DataFrame,
    other_sig: DataFrame,
    num_hashes: int,
    threshold: float,
    ordered: bool,
    broadcast_batch: bool = False,
) -> DataFrame:
    """(doc, odoc, est): every above-threshold blocking pair — the
    attribution relation behind :func:`_est_rejections` (which keeps
    only the rejected doc set). Exposed separately so the replay
    queries can answer WHY a doc was rejected, not just that it was.

    The cross-state direction (``ordered=False``) keeps the self-pair
    ``odoc == doc``: a batch doc whose id ALREADY exists in the accepted
    state is a re-delivery (same text, new file name — the checkpoint
    only dedupes files, not rows), and its own prior signature must be
    allowed to block it. Excluding the pair would silently admit the
    re-delivery and land a duplicate row in out/ and the signature
    store, diverging from the raw bucket gate (whose bk semi-join
    rejects it). A same-id doc whose content DIFFERS below threshold is
    admitted as new — id uniqueness upstream is the caller's contract,
    identical for both gate policies.

    ``broadcast_batch`` flips BOTH state-side joins for the big-state
    regime (meaningful only for the cross-state direction, where
    ``other_*`` is the accepted history): the batch's band keys
    broadcast into the candidate join and the batch-sized
    candidates-with-signatures relation broadcasts into the
    verification join, so the state's keys AND signatures are each
    SCANNED through a map-side hash join — never shuffled. Identical
    pairs — the same equi-joins evaluated from the other side; composes
    with the bucketed state tables (a bucketed scan feeding a broadcast
    probe is scan-pruned AND shuffle-free)."""
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
    # k-wide projections and the k-term match sum are built as
    # JVM-parsed SQL strings: this function runs at plan-BUILD time
    # once per micro-batch in the drains (and 3-6x per replay
    # construction), and the Column-API form cost ~100 py4j round
    # trips per call (guide §5 — driver work). Parsed trees identical:
    # `mh_i AS __ai` == col().alias(), `CAST((a = b) AS INT)` ==
    # (col == col).cast("int"), and the int sum / double literal
    # division is unchanged.
    sa = sig.selectExpr(
        "doc", *[f"mh_{i} AS __a{i}" for i in range(num_hashes)]
    )
    sb = other_sig.selectExpr(
        "doc AS odoc",
        *[f"mh_{i} AS __b{i}" for i in range(num_hashes)],
    )
    est_sql = (
        "("
        + " + ".join(
            f"CAST((__a{i} = __b{i}) AS INT)" for i in range(num_hashes)
        )
        + f") / CAST({float(num_hashes)!r} AS DOUBLE)"
    )
    probe = cand.join(sa, "doc")
    if broadcast_batch:
        joined = sb.join(F.broadcast(probe), "odoc")
    else:
        joined = probe.join(sb, "odoc")
    return (
        joined.selectExpr("doc", "odoc", f"{est_sql} AS est")
        .filter(F.col("est") >= F.lit(float(threshold)))
    )


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
    from one corpus (plans/registry_ml.q_neardup_gate_replay) scans and
    aggregates it once instead of once per batch; it must equal
    ``minhash_signature(batch_df, ...)`` under the same geometry — the
    candidate/estimate/rejection policy stays defined HERE either
    way. ``min_quality`` prepends the curation quality floor exactly as
    in :func:`gate_batch` (a below-floor doc claims no buckets, so a
    later higher-quality near-copy can still be admitted); it composes
    with ``sig`` by filtering the precomputed relation to the surviving
    docs."""
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
    Combine_send_to_postgresql.py:151-166 — drop accounting is an
    operational artifact there too).

    ``checkpoint_blockers=True`` localCheckpoints the blocker relation
    BEFORE deriving the other three from it, so a caller that writes
    all four (the dup_of-armed drain) runs the candidate/estimate joins
    once instead of once per sink.

    ``state_keys`` optionally supplies the state's PRECOMPUTED band-key
    relation (doc, bk) — e.g. :func:`bucket_sig_state`'s bucketed
    table, so the candidate probe reads co-located ``bk`` buckets
    instead of re-deriving and re-shuffling keys from the signature
    store every batch; must equal ``band_keys_of_signature(state_sigs,
    num_hashes, bands)``.

    ``broadcast_batch`` flips the cross-state probes for the big-state
    regime exactly as in :func:`gate_batch` — the batch side broadcasts
    and the signature store streams through map-side hash joins (see
    :func:`_est_blockers`); identical admissions, plan-asserted in
    tests/test_dedup_gate.py."""
    if min_quality is not None:
        from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import (
            quality_score,
        )

        batch_df = batch_df.filter(
            quality_score(text_col) >= F.lit(float(min_quality))
        )
        if sig is not None:
            sig = sig.join(
                batch_df.select(F.col(id_col).alias("doc")), "doc", "left_semi"
            )
    if sig is None:
        sig = minhash_signature(batch_df, id_col, text_col, n, num_hashes)
    keys = band_keys_of_signature(sig, num_hashes, bands)
    skeys = (
        state_keys
        if state_keys is not None
        else band_keys_of_signature(state_sigs, num_hashes, bands)
    )
    blockers = _est_blockers(
        keys, sig, skeys, state_sigs, num_hashes, threshold, ordered=False,
        broadcast_batch=broadcast_batch,
    ).unionAll(
        _est_blockers(keys, sig, keys, sig, num_hashes, threshold, ordered=True)
    )
    if checkpoint_blockers:
        blockers = blockers.localCheckpoint()
    rejected = blockers.select("doc").distinct()
    accepted = batch_df.join(
        rejected.withColumnRenamed("doc", id_col), id_col, "left_anti"
    )
    accepted_sigs = sig.join(rejected, "doc", "left_anti")
    decisions = batch_df.select(F.col(id_col).alias("doc")).join(
        rejected.withColumn("__rej", F.lit(True)), "doc", "left"
    ).select("doc", F.coalesce(F.col("__rej"), F.lit(False)).alias("rejected"))
    decisions = decisions.select(
        "doc", (~F.col("rejected")).alias("admitted")
    )
    return accepted, accepted_sigs, decisions, blockers


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
    int}`` — arms the hybrid state layout: every batch probes the
    folded history through bucketed tables (no store re-shuffle; the
    bucket_sig_state plan) plus a flat read of only the post-fold tail
    dirs, and each compaction refreshes the tables
    (:func:`refresh_bucketed_sig_state`). Admissions are identical to
    the flat layout by construction: a stale/missing table marker falls
    back to the flat read, so the hybrid is purely a physical-plan
    choice (parity pinned in tests/test_dedup_gate.py).

    ``dup_of_dir`` persists the BLOCKER relation (doc, odoc, est) per
    batch under ``dup_of_dir/batch_id=<i>`` — idempotent per-dir
    overwrite like decisions — so rejection attribution against the
    LIVE stream state is a read, not a batch re-derivation: the replay
    query q_neardup_gate_dup_of answers the same question analytically,
    this log answers it operationally (the reference writes per-file
    used/skipped attribution at every combine run).

    The gate's geometry (shingle n, k, bands, threshold) is stamped into
    the state store's meta on first run and verified on every later one
    (counting_state.stamp_meta): signatures written under a different
    hash family or band split MUST NOT be silently merged — a restarted
    drain cannot drift the policy. Compaction folds per-batch dirs into
    a negative-id generation exactly like the raw gate (the state is a
    SET of signature rows; duplicates never change a decision)."""
    _cs.stamp_meta(
        state_dir, verified_gate_meta(n, num_hashes, bands, threshold)
    )
    _cs.stamp_corpus_meta(out_dir, id_col, "text")

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if bucketed is None:
            state = _load_sig_state(
                sp, state_dir, num_hashes, before_batch=batch_id
            )
            skeys = None
        else:
            state, skeys = _load_sig_state_hybrid(
                sp, state_dir, num_hashes, bands,
                bucketed["table_prefix"], bucketed["path"],
                before_batch=batch_id,
            )
        accepted, accepted_sigs, decisions, blockers = (
            gate_batch_verified_attributed(
                batch_df, state, id_col, text_col, n, num_hashes, bands,
                threshold, min_quality=min_quality,
                checkpoint_blockers=dup_of_dir is not None,
                state_keys=skeys, broadcast_batch=broadcast_batch,
            )
        )
        write_batch(accepted, out_dir, batch_id)
        write_batch(accepted_sigs, state_dir, batch_id)
        if decisions_dir is not None:
            write_batch(decisions, decisions_dir, batch_id)
        if dup_of_dir is not None:
            write_batch(blockers, dup_of_dir, batch_id)
        if compact_if_due(
            state_dir, compact_after_dirs, compact_sig_state,
            sp, state_dir, num_hashes, exclude_from=batch_id,
        ) and bucketed is not None:
            refresh_bucketed_sig_state(
                sp, state_dir, num_hashes, bands,
                bucketed["table_prefix"], bucketed["path"],
                bucketed.get("num_buckets", 8),
            )

    drain(spark, input_dir, schema, checkpoint_dir, _gate)


def compact_sig_state(
    spark: SparkSession,
    state_dir: str,
    num_hashes: int,
    exclude_from: int | None = None,
    num_partitions: int | None = None,
) -> None:
    """Fold the verified gate's signature store —
    :func:`_fold_state_dirs` on ``doc``, the join key every gate batch
    probes."""
    _fold_state_dirs(
        spark,
        state_dir,
        lambda sp, sd, bb: _load_sig_state(sp, sd, num_hashes, bb),
        "doc",
        exclude_from,
        num_partitions,
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
