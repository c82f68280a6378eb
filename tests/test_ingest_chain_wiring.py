"""Ingest-chain wiring without Spark: every stage runner is replaced on
its module by a recording fake, so each chain's stage order, arguments,
skip rule and path map are checked with no JVM.

The fakes are installed by rebinding module attributes, which is how
perfbench/layertrace.py wraps the stages for its per-stage spans: a
chain that held a runner captured at import would call the real one
here and fail."""

from __future__ import annotations

import os

import pytest

from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    cms_stream,
    dedup_gate,
    drift_gate,
    hll_stream,
    ingest_pipeline,
    media_gate,
    multimodal_gate,
    span_gate,
    vector_index_stream,
)

SPARK = object()  # passed through untouched by every chain
SCHEMA = "doc_id long, text string"
SPANNED = "doc_id long, n_tokens long, dropped_tokens long, text_clean string"
METRIC = "payload_size_metric()"

# (module, runner, tag the calls are recorded under)
RUNNERS = [
    (drift_gate, "run_drift_gate_available_now", "drift"),
    (dedup_gate, "run_gate_available_now", "dedup"),
    (dedup_gate, "run_verified_gate_available_now", "verified"),
    (span_gate, "run_span_gate_available_now", "span"),
    (cms_stream, "run_cms_available_now", "cms"),
    (hll_stream, "run_hll_available_now", "hll"),
    (media_gate, "run_media_gate_available_now", "media"),
    (multimodal_gate, "run_multimodal_gate_available_now", "gate"),
    (vector_index_stream, "run_text_index_append_available_now", "tindex"),
    (vector_index_stream, "run_media_index_append_available_now", "mindex"),
]


class Rig:
    """The recorded calls, as ``(tag, input, schema, *dirs, kwargs)`` with
    every path relative to the test's tmp dir. Each fake writes one empty
    ``batch_id=0`` dir into its output (a drift gate's under
    ``admitted/``) unless its call's ordinal is in ``silent``."""

    def __init__(self, root):
        self.root = str(root)
        self.calls: list[tuple] = []
        self.silent: set[int] = set()

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def rel(self, v):
        if isinstance(v, str) and v.startswith(self.root + os.sep):
            return os.path.relpath(v, self.root)
        return v

    def fake(self, tag):
        def runner(spark, input_dir, schema, out, *dirs, **kwargs):
            assert spark is SPARK
            if len(self.calls) not in self.silent:
                sub = "admitted" if tag == "drift" else ""
                os.makedirs(os.path.join(out, sub, "batch_id=0"), exist_ok=True)
            self.calls.append(
                (tag, self.rel(input_dir), schema, self.rel(out),
                 *map(self.rel, dirs), kwargs)
            )

        return runner

    def tags(self) -> list[str]:
        return [c[0] for c in self.calls]


@pytest.fixture
def rig(monkeypatch, tmp_path):
    r = Rig(tmp_path)
    for mod, name, tag in RUNNERS:
        monkeypatch.setattr(mod, name, r.fake(tag))
    monkeypatch.setattr(drift_gate, "payload_size_metric", lambda: METRIC)
    return r


def _paths(*names):
    return {n: os.path.join("work", n) for n in names}


TEXT_PATHS = _paths(
    "drift", "accepted", "dedup_state", "cms", "hll",
    "ckpt_drift", "ckpt_dedup", "ckpt_cms", "ckpt_hll",
)
FULL_PATHS = _paths(
    "drift", "accepted", "dedup_state", "spanned", "span_state", "cms", "hll",
    "ckpt_drift", "ckpt_dedup", "ckpt_span", "ckpt_cms", "ckpt_hll",
    "ckpt_index",
)
MEDIA_PATHS = _paths(
    "drift", "accepted", "media_state", "ckpt_drift", "ckpt_media", "ckpt_index"
)
MM_PATHS = _paths(
    "drift", "mdrift", "accepted", "text_state", "media_state", "ckpt_drift",
    "ckpt_mdrift", "ckpt_gate", "ckpt_tindex", "ckpt_mindex",
)


def _text(rig, **kw):
    return ingest_pipeline.run_ingest_pipeline_available_now(
        SPARK, rig.path("inbox"), SCHEMA, rig.path("work"), rig.path("ref"), **kw
    )


def _full(rig, **kw):
    return ingest_pipeline.run_full_ingest_available_now(
        SPARK, rig.path("inbox"), SCHEMA, rig.path("work"), rig.path("ref"), **kw
    )


def _media(rig, **kw):
    return ingest_pipeline.run_media_ingest_available_now(
        SPARK, rig.path("inbox"), SCHEMA, rig.path("work"), rig.path("ref"), **kw
    )


def _mm(rig, **kw):
    return ingest_pipeline.run_multimodal_ingest_available_now(
        SPARK, rig.path("inbox"), SCHEMA, rig.path("work"), rig.path("tref"),
        rig.path("mref"), **kw
    )


def _out(stage: str) -> str:
    return os.path.join("work", stage, "batch_id=*")


ADMITTED = os.path.join("work", "drift", "admitted", "batch_id=*")


@pytest.mark.parametrize("policy", ["bucket", "verified"])
def test_text_chain_wiring(rig, policy):
    p = _text(
        rig, id_col="id", text_col="body", psi_threshold=0.3,
        dedup_policy=policy, dedup_kwargs={"num_hashes": 8}, group_col="lang",
    )
    assert p == {k: rig.path(v) for k, v in TEXT_PATHS.items()}
    dedup = "dedup" if policy == "bucket" else "verified"
    assert rig.calls == [
        ("drift", "inbox", SCHEMA, "work/drift", "ref", "work/ckpt_drift",
         {"text_col": "body", "threshold": 0.3, "group_col": "lang"}),
        (dedup, ADMITTED, SCHEMA, "work/accepted", "work/dedup_state",
         "work/ckpt_dedup", {"id_col": "id", "text_col": "body", "num_hashes": 8}),
        ("cms", _out("accepted"), SCHEMA, "work/cms", "work/ckpt_cms",
         {"text_col": "body"}),
        ("hll", _out("accepted"), SCHEMA, "work/hll", "work/ckpt_hll",
         {"text_col": "body"}),
    ]


def test_full_chain_wiring_unarmed_and_armed(rig):
    p = _full(rig)
    assert p == {k: rig.path(v) for k, v in FULL_PATHS.items()}
    stages = [
        ("drift", "inbox", SCHEMA, "work/drift", "ref", "work/ckpt_drift",
         {"text_col": "text", "threshold": 0.25, "group_col": None}),
        ("dedup", ADMITTED, SCHEMA, "work/accepted", "work/dedup_state",
         "work/ckpt_dedup", {"id_col": "doc_id", "text_col": "text"}),
        ("span", _out("accepted"), SCHEMA, "work/spanned", "work/span_state",
         "work/ckpt_span", {"id_col": "doc_id", "text_col": "text", "k": 8}),
        ("cms", _out("spanned"), SPANNED, "work/cms", "work/ckpt_cms",
         {"text_col": "text_clean"}),
        ("hll", _out("spanned"), SPANNED, "work/hll", "work/ckpt_hll",
         {"text_col": "text_clean"}),
    ]
    assert rig.calls == stages

    rig.calls.clear()
    assert _full(rig, index_path=rig.path("index"), span_k=5) == p
    stages[2] = stages[2][:-1] + ({"id_col": "doc_id", "text_col": "text", "k": 5},)
    assert rig.calls == stages + [
        ("tindex", _out("spanned"), SPANNED, "index", "work/ckpt_index",
         {"id_col": "doc_id", "text_col": "text_clean"}),
    ]


def test_media_chain_wiring_unarmed_and_armed(rig):
    p = _media(rig, gate_kwargs={"min_bytes": 4})
    assert p == {k: rig.path(v) for k, v in MEDIA_PATHS.items()}
    stages = [
        ("drift", "inbox", SCHEMA, "work/drift", "ref", "work/ckpt_drift",
         {"bin_width": 256, "bins": 10, "threshold": 0.25, "metric": METRIC}),
        ("media", ADMITTED, SCHEMA, "work/accepted", "work/media_state",
         "work/ckpt_media",
         {"id_col": "media_id", "bits": 60, "max_hamming": 5, "min_bytes": 4}),
    ]
    assert rig.calls == stages

    rig.calls.clear()
    _media(rig, id_col="m", index_path=rig.path("index"), size_bins=4)
    stages[0][-1]["bins"] = 4
    del stages[1][-1]["min_bytes"]
    stages[1][-1]["id_col"] = "m"
    assert rig.calls == stages + [
        ("mindex", _out("accepted"), SCHEMA, "index", "work/ckpt_index",
         {"id_col": "m"}),
    ]


@pytest.mark.parametrize(
    "armed", [(), ("text",), ("media",), ("text", "media")], ids=str
)
def test_multimodal_chain_wiring(rig, armed):
    kw = {f"{m}_index_path": rig.path(f"{m}_index") for m in armed}
    p = _mm(rig, psi_threshold=0.2, bands=3, gate_kwargs={"broadcast_batch": True}, **kw)
    assert p == {k: rig.path(v) for k, v in MM_PATHS.items()}
    index = {
        "text": ("tindex", _out("accepted"), SCHEMA, "text_index",
                 "work/ckpt_tindex", {"id_col": "doc_id", "text_col": "text"}),
        "media": ("mindex", _out("accepted"), SCHEMA, "media_index",
                  "work/ckpt_mindex", {"id_col": "doc_id"}),
    }
    assert rig.calls == [
        ("drift", "inbox", SCHEMA, "work/drift", "tref", "work/ckpt_drift",
         {"text_col": "text", "threshold": 0.2}),
        ("drift", ADMITTED, SCHEMA, "work/mdrift", "mref", "work/ckpt_mdrift",
         {"bin_width": 256, "bins": 10, "threshold": 0.2, "metric": METRIC}),
        ("gate", _out("mdrift/admitted"), SCHEMA, "work/accepted",
         "work/text_state", "work/media_state", "work/ckpt_gate",
         {"id_col": "doc_id", "text_col": "text", "num_hashes": 12, "bands": 3,
          "threshold": 0.5, "bits": 60, "max_hamming": 5,
          "broadcast_batch": True}),
    ] + [index[m] for m in armed]


ALL_INDEXES = {
    "text": {},
    "full": {"index_path": "index"},
    "media": {"index_path": "index"},
    "mm": {"text_index_path": "tindex", "media_index_path": "mindex"},
}


@pytest.mark.parametrize(
    "chain, silent, ran",
    [
        ("text", 0, ["drift"]),
        ("text", 1, ["drift", "dedup"]),
        ("text", 2, ["drift", "dedup", "cms", "hll"]),
        ("full", 0, ["drift"]),
        ("full", 1, ["drift", "dedup"]),
        ("full", 2, ["drift", "dedup", "span"]),
        ("full", 3, ["drift", "dedup", "span", "cms", "hll", "tindex"]),
        ("media", 0, ["drift"]),
        ("media", 1, ["drift", "media"]),
        ("mm", 0, ["drift"]),
        ("mm", 1, ["drift", "drift"]),
        ("mm", 2, ["drift", "drift", "gate"]),
    ],
)
def test_stage_skipped_while_its_source_has_no_batch(rig, chain, silent, ran):
    """A stage whose source dir holds no ``batch_id=*`` dir is not
    called; stages reading another source still run."""
    run = {"text": _text, "full": _full, "media": _media, "mm": _mm}[chain]
    rig.silent = {silent}
    run(rig, **{k: rig.path(v) for k, v in ALL_INDEXES[chain].items()})
    assert rig.tags() == ran


@pytest.mark.parametrize("run", [_text, _full], ids=["chain", "full_chain"])
def test_unknown_dedup_policy_raises_before_any_stage(rig, run):
    with pytest.raises(ValueError, match="unknown dedup_policy"):
        run(rig, dedup_policy="nope")
    assert rig.calls == []
    assert not os.path.exists(rig.path("work"))
