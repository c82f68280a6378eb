"""The streaming ingest chains — the pipelines a production
training-data ingest actually runs, wired from the engine's existing
monitors by DIRECTORY CHAINING. Each chain is an ordered list of stage
rows (:class:`_Stage`: the dir it reads, the dirs it owns under
``work_dir``, the call that drains it) run by one loop,
:func:`_run_chain`. Every stage is an availableNow drain with its own
checkpoint, reading the previous stage's ``batch_id=*`` dirs:

1. **drift gate** (streaming/drift_gate.py): PSI-gates every batch
   against the frozen reference — drifted batches quarantined with a
   decisions log, never silently dropped (token length for text,
   payload size for media; the multimodal chain runs both);
2. **near-dup gate** (streaming/dedup_gate.py for text,
   media_gate.py, multimodal_gate.py): signature admission on the
   admitted docs — near-duplicates of the accepted corpus (or of
   earlier docs in the same drain) rejected exactly-once;
3. **span gate** (full text chain, streaming/span_gate.py): exact
   duplicated passages cut out, first sighting wins;
4. **sketch maintenance** (text chains, cms_stream + hll_stream): token
   frequencies and distinct-token cardinality over the SURVIVING
   corpus, kept queryable in bounded state;
5. **index append** (optional, armed by an index path,
   streaming/vector_index_stream.py): the admitted corpus becomes
   servable at the end of the same drain.

Each stage's checkpoint makes the whole chain restartable at any
point: re-running the pipeline drains only files the respective stage
has not seen — the composition inherits exactly-once end-to-end from
its parts. Directory chaining (not one mega-stream) is deliberate:
every intermediate corpus stays inspectable on disk, stages can be
re-run or backfilled independently, and each keeps its own bounded
state — how multi-stage ingest is actually operated at 100 TB/day.

Every row looks its runner up on the runner's module when the stage
runs, so a wrapper rebound there (perfbench/layertrace.py's per-stage
spans) sees every chain's stages.
"""

from __future__ import annotations

import os
from types import ModuleType
from typing import Callable, NamedTuple

from pyspark.sql import SparkSession

from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    cms_stream,
    dedup_gate,
    drift_gate,
    hll_stream,
    media_gate,
    multimodal_gate,
    span_gate,
    vector_index_stream,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    state_subdirs,
)


class _Stage(NamedTuple):
    """One row of a chain. ``source`` is the dir under ``work_dir`` the
    stage reads (None: the chain's inbox), ``schema`` that input's
    schema, ``owns`` the dirs under ``work_dir`` it writes (output,
    state, ``ckpt_*``; they make up the chain's path map), and
    ``run(p, spark, input_glob, schema)`` the drain call — None while
    the stage is unarmed (an optional index with no index path)."""

    source: str | None
    schema: str
    owns: tuple[str, ...]
    run: Callable[..., None] | None


def _run_chain(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    stages: list[_Stage],
) -> dict[str, str]:
    """Run ``stages`` in order and return the path map ({owned dir:
    its path under ``work_dir``}). A stage whose source has no
    ``batch_id=*`` dir yet (an earlier gate admitted nothing) is
    skipped cleanly, as is an unarmed one."""
    p = {d: os.path.join(work_dir, d) for s in stages for d in s.owns}
    for s in stages:
        src = input_dir
        if s.source is not None:
            src = os.path.join(work_dir, s.source)
            if not state_subdirs(src):
                continue
            src = os.path.join(src, "batch_id=*")
        if s.run is not None:
            s.run(p, spark, src, s.schema)
    return p


def _row(
    source: str | None,
    schema: str,
    owns: tuple[str, ...],
    module: ModuleType,
    runner: str,
    /,
    *lead,
    **kw,
) -> _Stage:
    """The row whose call is ``module.runner(spark, input_glob, schema,
    *lead, *<owned paths>, **kw)``."""
    return _Stage(
        source, schema, owns,
        lambda p, *a: getattr(module, runner)(
            *a, *lead, *(p[d] for d in owns), **kw
        ),
    )


def _drift(
    source: str | None, schema: str, out: str, ref_path: str, **kw
) -> _Stage:
    """The drift gate draining ``source`` into ``out/{admitted,
    quarantined,decisions}`` against the frozen reference at
    ``ref_path`` — one pooled feed, or each ``group_col`` feed judged
    against its own reference (so a single broken feed quarantines
    alone while the rest of the batch flows on)."""
    ckpt = f"ckpt_{out}"
    return _Stage(
        source, schema, (out, ckpt),
        lambda p, *a: drift_gate.run_drift_gate_available_now(
            *a, p[out], ref_path, p[ckpt], **kw
        ),
    )


def _size_drift(
    source: str | None,
    schema: str,
    out: str,
    ref_path: str,
    psi_threshold: float,
    bin_width: int,
    bins: int,
) -> _Stage:
    """The drift gate binning payload size (the media reference's
    metric, :func:`drift_gate.payload_size_metric`)."""
    return _drift(
        source, schema, out, ref_path, bin_width=bin_width, bins=bins,
        threshold=psi_threshold, metric=drift_gate.payload_size_metric(),
    )


def _dedup(
    schema: str,
    id_col: str,
    text_col: str,
    dedup_policy: str,
    dedup_kwargs: dict | None,
) -> _Stage:
    """The MinHash dedup gate draining the drift gate's admitted dirs
    into ``accepted/``. ``dedup_policy`` is checked here, while the
    chain's rows are built, so a bad policy leaves no drift output or
    checkpoint behind.

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
    runners = {
        "bucket": "run_gate_available_now",
        "verified": "run_verified_gate_available_now",
    }
    if dedup_policy not in runners:
        raise ValueError(
            f"unknown dedup_policy {dedup_policy!r} (bucket | verified)"
        )
    return _row(
        "drift/admitted", schema, ("accepted", "dedup_state", "ckpt_dedup"),
        dedup_gate, runners[dedup_policy],
        id_col=id_col, text_col=text_col, **(dedup_kwargs or {}),
    )


def _sketches(corpus: str, schema: str, text_col: str) -> list[_Stage]:
    """CMS + HLL maintenance over whatever corpus dir the previous
    stage produced."""
    return [
        _row(corpus, schema, ("cms", "ckpt_cms"), cms_stream,
             "run_cms_available_now", text_col=text_col),
        _row(corpus, schema, ("hll", "ckpt_hll"), hll_stream,
             "run_hll_available_now", text_col=text_col),
    ]


def _index(
    modality: str,
    corpus: str,
    schema: str,
    index_path: str | None,
    ckpt: str,
    **kw,
) -> _Stage:
    """The optional serving stage: stream ``corpus`` into the persisted
    ``modality`` ("text" | "media") index at ``index_path``
    (streaming/vector_index_stream.run_{modality}_index_append_available_now),
    unarmed while ``index_path`` is None. For the text chains this
    closes the operational loop: a document that survives drift →
    near-dup → span admission becomes SERVABLE (embed → append → probe)
    with no manual embed hop, which is what the reference's cron-driven
    fetch → combine → load pipeline (dags/Combine_send_to_postgresql.py:301)
    would demand of this engine at 100 TB. The index must pre-exist
    (sinks/text_index.write_text_index or media_index.write_media_index
    on the validated snapshot — the same snapshot that froze the drift
    reference trains the quantizers); featurizer params come from the
    index's own meta, so the chains add NO embedding knobs.

    Id contract (r11 review): the chains' gates dedup by CONTENT
    (MinHash bands, exact spans, aHash), never by doc id — the appends'
    disjoint-id contract therefore falls on the FEED: doc ids must be
    unique across the snapshot that built the index and every batch
    (the reference pipeline's content-addressed ``thing_key`` gives
    exactly this). A feed that re-mints an already-indexed id with new
    content would be served twice under that id until the next rebuild
    — same caveat as the raw-vector append stream, stated here because
    the chain makes it easy to forget the snapshot counts too."""
    row = _row(
        corpus, schema, (ckpt,), vector_index_stream,
        f"run_{modality}_index_append_available_now", index_path, **kw,
    )
    return row if index_path is not None else row._replace(run=None)


# the span stage NORMALIZES the id column: dedup_spans' output relation
# is (doc_id, n_tokens, dropped_tokens, text_clean) whatever id_col the
# input used — declaring the caller's id_col downstream would silently
# resolve to an all-null column
_SPANNED_SCHEMA = (
    "doc_id long, n_tokens long, dropped_tokens long, text_clean string"
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
    return _run_chain(spark, input_dir, work_dir, [
        _drift(None, schema, "drift", ref_path, text_col=text_col,
               threshold=psi_threshold, group_col=group_col),
        _dedup(schema, id_col, text_col, dedup_policy, dedup_kwargs),
        *_sketches("accepted", schema, text_col),
    ])


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
    optional stage 5 (the text :func:`_index` row): the span-cleaned
    corpus streams into a pre-built persisted text index, so an
    admitted document is served by the ANN store at the end of the
    same drain. Same directory chaining and exactly-once contract
    throughout; batch forms replayed by
    plans/registry_ingest.q_ingest_chain_spans_audit and
    q_ingest_chain_group_spans (full DuckDB oracle), parity-pinned by
    tests/test_ingest_pipeline.py."""
    return _run_chain(spark, input_dir, work_dir, [
        _drift(None, schema, "drift", ref_path, text_col=text_col,
               threshold=psi_threshold, group_col=group_col),
        _dedup(schema, id_col, text_col, dedup_policy, dedup_kwargs),
        _row("accepted", schema, ("spanned", "span_state", "ckpt_span"),
             span_gate, "run_span_gate_available_now",
             id_col=id_col, text_col=text_col, k=span_k),
        *_sketches("spanned", _SPANNED_SCHEMA, "text_clean"),
        _index("text", "spanned", _SPANNED_SCHEMA, index_path, "ckpt_index",
               id_col="doc_id", text_col="text_clean"),
    ])


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
    return _run_chain(spark, input_dir, work_dir, [
        _size_drift(None, schema, "drift", ref_path, psi_threshold,
                    size_bin_width, size_bins),
        _row("drift/admitted", schema, ("accepted", "media_state", "ckpt_media"),
             media_gate, "run_media_gate_available_now", id_col=id_col,
             bits=bits, max_hamming=max_hamming, **(gate_kwargs or {})),
        _index("media", "accepted", schema, index_path, "ckpt_index",
               id_col=id_col),
    ])


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
    return _run_chain(spark, input_dir, work_dir, [
        _drift(None, schema, "drift", text_ref_path, text_col=text_col,
               threshold=psi_threshold),
        _size_drift("drift/admitted", schema, "mdrift", media_ref_path,
                    psi_threshold, size_bin_width, size_bins),
        _row("mdrift/admitted", schema,
             ("accepted", "text_state", "media_state", "ckpt_gate"),
             multimodal_gate, "run_multimodal_gate_available_now",
             id_col=id_col, text_col=text_col, num_hashes=num_hashes,
             bands=bands, threshold=threshold, bits=bits,
             max_hamming=max_hamming, **(gate_kwargs or {})),
        _index("text", "accepted", schema, text_index_path, "ckpt_tindex",
               id_col=id_col, text_col=text_col),
        _index("media", "accepted", schema, media_index_path, "ckpt_mindex",
               id_col=id_col),
    ])
