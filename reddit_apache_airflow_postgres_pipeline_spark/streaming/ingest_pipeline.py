"""The full streaming ingest stack, composed: distribution gate →
content gate → sketch maintenance — the pipeline a production
training-data ingest actually runs, wired from the engine's existing
monitors by DIRECTORY CHAINING (each stage is an availableNow drain
with its own checkpoint, reading the previous stage's output dirs):

1. **drift gate** (streaming/drift_gate.py): PSI-gates every batch
   against the frozen reference — drifted batches quarantined with a
   decisions log, never silently dropped;
2. **dedup gate** (streaming/dedup_gate.py): MinHash-LSH admission on
   the admitted docs — near-duplicates of the accepted corpus (or of
   earlier docs in the same drain) rejected exactly-once;
3. **sketch maintenance** (cms_stream + hll_stream): token frequencies
   and distinct-token cardinality over the SURVIVING corpus, kept
   queryable in bounded state.

Each stage's checkpoint makes the whole chain restartable at any
point: re-running the pipeline drains only files the respective stage
has not seen — the composition inherits exactly-once end-to-end from
its parts. Directory chaining (not one mega-stream) is deliberate:
every intermediate corpus stays inspectable on disk, stages can be
re-run or backfilled independently, and each keeps its own bounded
state — how multi-stage ingest is actually operated at 100 TB/day.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    cms_stream,
    dedup_gate,
    drift_gate,
    hll_stream,
    span_gate,
)


def _batches(path: str) -> str | None:
    """The glob over ``path``'s batch dirs — the next stage's input —
    or None while the previous stage has written no batch there."""
    if os.path.isdir(path) and any(
        d.startswith("batch_id=") for d in os.listdir(path)
    ):
        return os.path.join(path, "batch_id=*")
    return None


def _paths(work_dir: str, names: tuple[str, ...]) -> dict[str, str]:
    return {name: os.path.join(work_dir, name) for name in names}


def _dedup_runner(dedup_policy: str) -> Callable[..., None]:
    """The dedup gate runner ``dedup_policy`` names, checked before any
    stage runs so a bad policy leaves no drift output or checkpoint
    behind.

    ``dedup_policy`` picks the admission rule: ``"bucket"`` (default,
    the raw band-collision gate — cheapest state, strictest rejects) or
    ``"verified"`` (full-signature state, rejection requires the
    MinHash estimate to clear the verified gate's threshold — fewer
    false discards at the cost of k columns per accepted doc; the
    operating-point numbers are q_neardup_gate_policy_audit's). The two
    policies write incompatible state rows under ``dedup_state``;
    switching policy on an existing work_dir fails loudly (the verified
    store's meta marker refuses unmarked/foreign state) rather than
    silently merging. ``dedup_kwargs`` passes gate geometry through
    (num_hashes/bands, the verified gate's threshold, min_quality) —
    note the two gates' different k defaults (16 bucket, 12 verified),
    so a policy comparison at fixed geometry must pin them here."""
    if dedup_policy not in ("bucket", "verified"):
        raise ValueError(
            f"unknown dedup_policy {dedup_policy!r} (bucket | verified)"
        )
    if dedup_policy == "bucket":
        return dedup_gate.run_gate_available_now
    return dedup_gate.run_verified_gate_available_now


def _run_dedup_stage(
    spark: SparkSession,
    schema: str,
    p: dict[str, str],
    id_col: str,
    text_col: str,
    runner: Callable[..., None],
    dedup_kwargs: dict | None = None,
) -> None:
    """Stage 2 of every chain: the MinHash dedup gate (``runner``, from
    :func:`_dedup_runner`) drains the drift gate's admitted dirs into
    ``accepted/`` — skipped cleanly when no batch was admitted yet.
    Shared so the chaining contract (the admitted glob, the skip guard,
    the state/checkpoint wiring) lives in exactly one place across the
    chain runners."""
    admitted = _batches(os.path.join(p["drift"], "admitted"))
    if admitted:
        runner(
            spark,
            admitted,
            schema,
            p["accepted"],
            p["dedup_state"],
            p["ckpt_dedup"],
            id_col=id_col,
            text_col=text_col,
            **(dedup_kwargs or {}),
        )


def _run_span_stage(
    spark: SparkSession,
    schema: str,
    p: dict[str, str],
    id_col: str,
    text_col: str,
    span_k: int,
) -> None:
    """Stage 3 of the full chains: the exact duplicated-substring gate
    drains ``accepted/`` into ``spanned/`` — first-wins passage cuts
    with state shared across whatever feeds produced the corpus."""
    accepted = _batches(p["accepted"])
    if accepted:
        span_gate.run_span_gate_available_now(
            spark,
            accepted,
            schema,
            p["spanned"],
            p["span_state"],
            p["ckpt_span"],
            id_col=id_col,
            text_col=text_col,
            k=span_k,
        )


# the span stage NORMALIZES the id column: dedup_spans' output relation
# is (doc_id, n_tokens, dropped_tokens, text_clean) whatever id_col the
# input used — declaring the caller's id_col downstream would silently
# resolve to an all-null column
_SPANNED_SCHEMA = (
    "doc_id long, n_tokens long, dropped_tokens long, text_clean string"
)

_CHAIN_PATHS = (
    "drift", "accepted", "dedup_state", "cms", "hll",
    "ckpt_drift", "ckpt_dedup", "ckpt_cms", "ckpt_hll",
)

_FULL_CHAIN_PATHS = (
    "drift",
    "accepted",
    "dedup_state",
    "spanned",
    "span_state",
    "cms",
    "hll",
    "ckpt_drift",
    "ckpt_dedup",
    "ckpt_span",
    "ckpt_cms",
    "ckpt_hll",
    "ckpt_index",
)


def _run_index_stage(
    spark: SparkSession, p: dict[str, str], index_path: str | None
) -> None:
    """Optional stage 5 of the full chains: stream the span-CLEANED
    corpus into a persisted text index
    (streaming/vector_index_stream.run_text_index_append_available_now)
    — the composition that closes the operational loop: a document
    that survives drift → near-dup → span admission becomes SERVABLE
    (embed → append → probe) with no manual embed hop, which is what
    the reference's cron-driven fetch → combine → load pipeline
    (dags/Combine_send_to_postgresql.py:301) would demand of this
    engine at 100 TB. The index must pre-exist
    (sinks/text_index.write_text_index on the validated snapshot — the
    same snapshot that froze the drift reference trains the
    quantizers); featurizer params come from the index's own meta, so
    the chain adds NO embedding knobs. Skipped cleanly while no span
    batch exists yet; its own checkpoint keeps it exactly-once and
    independently re-runnable like every other stage.

    Id contract (r11 review): the chain's gates dedup by CONTENT
    (MinHash bands, exact spans), never by doc id — the appends'
    disjoint-id contract therefore falls on the FEED: doc ids must be
    unique across the snapshot that built the index and every batch
    (the reference pipeline's content-addressed ``thing_key`` gives
    exactly this). A feed that re-mints an already-indexed id with new
    text would be served twice under that id until the next rebuild —
    same caveat as the raw-vector append stream, stated here because
    the chain makes it easy to forget the snapshot counts too."""
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        vector_index_stream,
    )

    spanned = _batches(p["spanned"])
    if index_path is not None and spanned:
        vector_index_stream.run_text_index_append_available_now(
            spark,
            spanned,
            _SPANNED_SCHEMA,
            index_path,
            p["ckpt_index"],
            id_col="doc_id",
            text_col="text_clean",
        )


def _run_sketch_stage(
    spark: SparkSession,
    corpus_dir: str,
    schema: str,
    p: dict[str, str],
    text_col: str,
) -> None:
    """Stage N of every chain: CMS + HLL maintenance over whatever
    corpus directory the previous stage produced."""
    corpus_glob = _batches(corpus_dir)
    if corpus_glob:
        cms_stream.run_cms_available_now(
            spark, corpus_glob, schema, p["cms"], p["ckpt_cms"],
            text_col=text_col,
        )
        hll_stream.run_hll_available_now(
            spark, corpus_glob, schema, p["hll"], p["ckpt_hll"],
            text_col=text_col,
        )


def _run_drift_stage(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    p: dict[str, str],
    ref_path: str,
    text_col: str,
    psi_threshold: float,
    group_col: str | None,
) -> None:
    """Stage 1 of every text chain: the drift gate drains the inbox
    into ``drift/`` — one pooled feed, or each ``group_col`` feed judged
    against its own frozen reference (so a single broken feed
    quarantines alone while the rest of the batch flows on). Called
    through the ``drift_gate`` module attribute, so a wrapper installed
    there sees every chain's drift stage."""
    drift_gate.run_drift_gate_available_now(
        spark, input_dir, schema, p["drift"], ref_path, p["ckpt_drift"],
        text_col=text_col, threshold=psi_threshold, group_col=group_col,
    )


def run_ingest_pipeline_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    work_dir: str,
    ref_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    psi_threshold: float = 0.25,
    dedup_policy: str = "bucket",
    dedup_kwargs: dict | None = None,
    group_col: str | None = None,
) -> dict[str, str]:
    """Drain ``input_dir`` through drift gate → dedup gate → sketches.

    Layout under ``work_dir``: ``drift/{admitted,quarantined,
    decisions}``, ``accepted/`` (the surviving corpus), ``dedup_state``,
    ``cms``, ``hll`` + one checkpoint dir per stage. Returns the path
    map. Later stages are skipped cleanly when an earlier gate admitted
    nothing yet (their input dir has no batches).

    ``group_col`` makes it the multi-source chain: each feed is
    PSI-judged against its OWN frozen reference (built once with
    ``drift_gate.write_reference(..., group_col=...)``). The dedup
    gate's first-wins state spans feeds (a near-dup is a near-dup
    whichever feed resends it) and the sketches summarize the one
    surviving corpus. Batch forms replayed by
    plans/registry_ingest.q_ingest_chain_decisions and
    q_ingest_chain_by_group (oracle-paired), parity-pinned by
    tests/test_ingest_pipeline.py."""
    runner = _dedup_runner(dedup_policy)
    p = _paths(work_dir, _CHAIN_PATHS)
    _run_drift_stage(
        spark, input_dir, schema, p, ref_path, text_col, psi_threshold, group_col
    )
    _run_dedup_stage(spark, schema, p, id_col, text_col, runner, dedup_kwargs)
    _run_sketch_stage(spark, p["accepted"], schema, p, text_col)
    return p


def run_full_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    work_dir: str,
    ref_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    psi_threshold: float = 0.25,
    dedup_policy: str = "bucket",
    dedup_kwargs: dict | None = None,
    span_k: int = 8,
    index_path: str | None = None,
    group_col: str | None = None,
) -> dict[str, str]:
    """The COMPLETE admission pipeline a Lee-et-al-style corpus run
    operates online: drift gate → MinHash near-dup gate → exact
    duplicated-substring (span) gate → sketch maintenance over the
    span-CLEANED corpus. Stages 1-2 are
    :func:`run_ingest_pipeline_available_now`'s, ``group_col``
    included; stage 3 drains the accepted corpus through
    streaming/span_gate.py (first-wins: a passage's first sighting
    survives, every later copy is cut out of its document, whichever
    feed resends it), and the sketches summarize what a training run
    would actually consume — the cleaned text. ``index_path`` arms the
    optional stage 5 (:func:`_run_index_stage`): the span-cleaned
    corpus streams into a pre-built persisted text index, so an
    admitted document is served by the ANN store at the end of the
    same drain. Same directory chaining and exactly-once contract
    throughout; batch forms replayed by
    plans/registry_ingest.q_ingest_chain_spans_audit and
    q_ingest_chain_group_spans (full DuckDB oracle), parity-pinned by
    tests/test_ingest_pipeline.py."""
    runner = _dedup_runner(dedup_policy)
    p = _paths(work_dir, _FULL_CHAIN_PATHS)
    _run_drift_stage(
        spark, input_dir, schema, p, ref_path, text_col, psi_threshold, group_col
    )
    _run_dedup_stage(spark, schema, p, id_col, text_col, runner, dedup_kwargs)
    _run_span_stage(spark, schema, p, id_col, text_col, span_k)
    _run_sketch_stage(spark, p["spanned"], _SPANNED_SCHEMA, p, "text_clean")
    _run_index_stage(spark, p, index_path)
    return p


# -- media modality chain -----------------------------------------------------


def write_media_reference(
    media,
    ref_path: str,
    bin_width: int = 256,
    bins: int = 10,
) -> None:
    """Freeze a validated MEDIA snapshot's payload-size distribution as
    the media chain's drift reference — the text gate's pre-aggregated
    (bin, n) contract with :func:`drift_gate.payload_size_metric` as
    the binned scalar (size is the first distribution a broken feed
    disturbs: truncated files, switched codec/resolution)."""
    drift_gate.write_reference(
        media, ref_path, bin_width=bin_width, bins=bins,
        metric=drift_gate.payload_size_metric(),
    )


def run_media_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    work_dir: str,
    ref_path: str,
    id_col: str = "media_id",
    psi_threshold: float = 0.25,
    size_bin_width: int = 256,
    size_bins: int = 10,
    bits: int = 60,
    max_hamming: int = 5,
    index_path: str | None = None,
    gate_kwargs: dict | None = None,
) -> dict[str, str]:
    """The ingest chain for the MEDIA modality: payload-size drift gate
    → aHash near-dup gate → (optional) persisted media index — the
    text chain's shape with each stage swapped for its binary-payload
    twin, sharing the SAME gate machinery (drift_gate with
    payload_size_metric binning; media_gate's pigeonhole admission;
    vector_index_stream's media drain with the featurization inside).
    The reference must pre-exist (:func:`write_media_reference` on the
    validated snapshot — the same snapshot that trains the media
    index's quantizers). Directory chaining, per-stage checkpoints,
    and the exactly-once/restart contract are the text chains',
    verbatim; batch form of the near-dup stage replayed by
    plans/registry_mm.q_media_gate_replay (oracle-paired).

    ``gate_kwargs`` passes through to the media gate runner — the text
    chains' dedup_kwargs contract: the payload-size quality floor
    (``min_bytes``), the monitoring logs (``decisions_dir``,
    ``dup_of_dir``), or compaction tuning, without the chain spelling
    every gate option."""
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        media_gate,
        vector_index_stream,
    )

    p = _paths(
        work_dir,
        (
            "drift",
            "accepted",
            "media_state",
            "ckpt_drift",
            "ckpt_media",
            "ckpt_index",
        ),
    )
    drift_gate.run_drift_gate_available_now(
        spark,
        input_dir,
        schema,
        p["drift"],
        ref_path,
        p["ckpt_drift"],
        bin_width=size_bin_width,
        bins=size_bins,
        threshold=psi_threshold,
        metric=drift_gate.payload_size_metric(),
    )
    admitted = _batches(os.path.join(p["drift"], "admitted"))
    if admitted:
        media_gate.run_media_gate_available_now(
            spark,
            admitted,
            schema,
            p["accepted"],
            p["media_state"],
            p["ckpt_media"],
            id_col=id_col,
            bits=bits,
            max_hamming=max_hamming,
            **(gate_kwargs or {}),
        )
    accepted = _batches(p["accepted"])
    if index_path is not None and accepted:
        vector_index_stream.run_media_index_append_available_now(
            spark,
            accepted,
            schema,
            index_path,
            p["ckpt_index"],
            id_col=id_col,
        )
    return p


# -- unified multimodal chain -------------------------------------------------


def run_multimodal_ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    work_dir: str,
    text_ref_path: str,
    media_ref_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    psi_threshold: float = 0.25,
    size_bin_width: int = 256,
    size_bins: int = 10,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    bits: int = 60,
    max_hamming: int = 5,
    text_index_path: str | None = None,
    media_index_path: str | None = None,
    gate_kwargs: dict | None = None,
) -> dict[str, str]:
    """The ingest chain for documents that carry BOTH modalities
    (id + text + kind/payload/meta): token-length drift gate (frozen
    TEXT reference) → payload-size drift gate (frozen MEDIA reference)
    → the UNIFIED near-dup admission gate
    (streaming/multimodal_gate.py: rejected iff either modality
    blocks, one accepted corpus, one state spine per modality) →
    optional serving stages appending the SAME admitted corpus to a
    persisted text index and a persisted media index — the corpus
    q_multimodal_topk's cross-modal RRF retrieval serves, produced by
    one drain with no manual hop.

    Both drift references must pre-exist (drift_gate.write_reference
    on the validated snapshot for text; :func:`write_media_reference`
    for payload size) — a feed drifting in EITHER distribution
    quarantines before any signature is computed. Directory chaining,
    per-stage checkpoints, and the exactly-once/restart contract are
    the other chains', verbatim; the unified gate's batch form is
    replayed by plans/registry_mm.q_multimodal_gate_replay
    (oracle-paired), parity-pinned by tests/test_multimodal_gate.py.
    ``gate_kwargs`` passes through to the unified gate runner
    (monitoring logs, compaction tuning, broadcast_batch)."""
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        multimodal_gate,
        vector_index_stream,
    )

    p = _paths(
        work_dir,
        (
            "drift",
            "mdrift",
            "accepted",
            "text_state",
            "media_state",
            "ckpt_drift",
            "ckpt_mdrift",
            "ckpt_gate",
            "ckpt_tindex",
            "ckpt_mindex",
        ),
    )
    drift_gate.run_drift_gate_available_now(
        spark,
        input_dir,
        schema,
        p["drift"],
        text_ref_path,
        p["ckpt_drift"],
        text_col=text_col,
        threshold=psi_threshold,
    )
    adm_text = _batches(os.path.join(p["drift"], "admitted"))
    if adm_text:
        drift_gate.run_drift_gate_available_now(
            spark,
            adm_text,
            schema,
            p["mdrift"],
            media_ref_path,
            p["ckpt_mdrift"],
            bin_width=size_bin_width,
            bins=size_bins,
            threshold=psi_threshold,
            metric=drift_gate.payload_size_metric(),
        )
    adm_both = _batches(os.path.join(p["mdrift"], "admitted"))
    if adm_both:
        multimodal_gate.run_multimodal_gate_available_now(
            spark,
            adm_both,
            schema,
            p["accepted"],
            p["text_state"],
            p["media_state"],
            p["ckpt_gate"],
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            bits=bits,
            max_hamming=max_hamming,
            **(gate_kwargs or {}),
        )
    accepted = _batches(p["accepted"])
    if text_index_path is not None and accepted:
        vector_index_stream.run_text_index_append_available_now(
            spark,
            accepted,
            schema,
            text_index_path,
            p["ckpt_tindex"],
            id_col=id_col,
            text_col=text_col,
        )
    if media_index_path is not None and accepted:
        vector_index_stream.run_media_index_append_available_now(
            spark,
            accepted,
            schema,
            media_index_path,
            p["ckpt_mindex"],
            id_col=id_col,
        )
    return p
