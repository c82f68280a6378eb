"""The signature admission gates (streaming/signature_gate.py) in the
default tier: one drain → decisions → dup_of → compaction pass,
parametrized over the modality table's rows (text, media, and both as
the unified multimodal gate) on 12 hand-built rows in 2 files; a source
guard that keeps every per-batch store format in one module; the
stores' marker bytes; and a gate fold's crash leftover staying
invisible."""

from __future__ import annotations

import glob
import os
import pathlib
import shutil
import time

import pytest

from reddit_apache_airflow_postgres_pipeline_spark.sinks import catalog as cat
from reddit_apache_airflow_postgres_pipeline_spark.sinks import maintenance
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    counting_state as cs,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    dedup_gate,
    media_gate,
    multimodal_gate,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    signature_gate as sg,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import (
    state_subdirs,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "reddit_apache_airflow_postgres_pipeline_spark"
)
META_TYPE = "struct<width:int,height:int,sample_rate:int,n_frames:int,fmt:string>"
ROWS_SCHEMA = (
    f"doc_id long, text string, kind string, payload binary, meta {META_TYPE}"
)

TEXTS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "completely different content about spark shuffles and parquet footers",
    "a third unrelated document describing watermark semantics in streams",
    "notes on bucketed tables with sorted scans and exchange free aggregates",
    "minhash signatures estimate the jaccard similarity of two shingle sets",
    "perceptual hashes threshold decoded samples against their own mean",
    "checkpointed file sources process every landed file exactly once",
]
# (doc_id, text index, payload index) per file, in arrival order: copies
# within a batch (4, 10), of accepted history (7, 11), of the media only
# (9) and of the text only (12)
FILES = [
    [(1, 0, 0), (2, 1, 1), (3, 2, 2), (4, 0, 0), (5, 3, 3), (6, 4, 4)],
    [(7, 1, 1), (8, 5, 5), (9, 6, 1), (10, 5, 5), (11, 2, 2), (12, 3, 6)],
]

_TEXT_SCHEMA = "doc long, " + ", ".join(f"mh_{i} string" for i in range(12))
_MEDIA_SCHEMA = "doc long, sig long"


def _verified_drain(spark, inbox, schema, out, states, ckpt, **logs):
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, schema, out, states[0], ckpt, **logs
    )


def _media_drain(spark, inbox, schema, out, states, ckpt, **logs):
    media_gate.run_media_gate_available_now(
        spark, inbox, schema, out, states[0], ckpt, **logs
    )


def _multimodal_drain(spark, inbox, schema, out, states, ckpt, **logs):
    multimodal_gate.run_multimodal_gate_available_now(
        spark, inbox, schema, out, states[0], states[1], ckpt, **logs
    )


def _verified_kernel(batch, states):
    _, sigs, dec = dedup_gate.gate_batch_verified(batch, states[0])
    return dec, [sigs]


def _media_kernel(batch, states):
    _, sigs, dec = media_gate.gate_media_batch(batch, states[0])
    return dec, [sigs]


def _multimodal_kernel(batch, states):
    _, tsigs, msigs, dec = multimodal_gate.gate_multimodal_batch(batch, *states)
    return dec, [tsigs, msigs]


# modality -> (row columns, drain, kernel, state schemas, dup_of columns)
CASES = {
    "text": (
        ["doc_id", "text"], _verified_drain, _verified_kernel,
        [_TEXT_SCHEMA], ["doc", "odoc", "est"],
    ),
    "media": (
        ["doc_id AS media_id", "kind", "payload", "meta"],
        _media_drain, _media_kernel, [_MEDIA_SCHEMA], ["doc", "odoc", "dist"],
    ),
    "multimodal": (
        ["doc_id", "text", "kind", "payload", "meta"], _multimodal_drain,
        _multimodal_kernel, [_TEXT_SCHEMA, _MEDIA_SCHEMA],
        ["doc", "odoc", "modality", "score"],
    ),
}


def _rows(spark, file_rows, cols):
    meta = (16, 16, 8000, 1, "png")
    return spark.createDataFrame(
        [
            (d, TEXTS[t], "image", bytearray(TEXTS[p].encode()), meta)
            for d, t, p in file_rows
        ],
        ROWS_SCHEMA,
    ).selectExpr(*cols)


def _write_file(df, path, age_s):
    tmp = path + "__tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
    shutil.rmtree(tmp)
    past = time.time() - age_s
    os.utime(path, (past, past))


def _batch_rows(path, batch_id, spark):
    df = spark.read.parquet(os.path.join(path, f"batch_id={batch_id}"))
    return sorted(tuple(r) for r in df.collect())


def _state_rows(spark, state_dir):
    df = spark.read.parquet(state_dir).drop("batch_id")
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("modality", sorted(CASES))
def test_drain_matches_kernel_logs_and_compacts(spark, tmp_path, modality):
    cols, run, kernel, schemas, dup_cols = CASES[modality]
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    batches = [_rows(spark, rows, cols) for rows in FILES]
    for i, batch in enumerate(batches):
        _write_file(batch, os.path.join(inbox, f"f{i}.parquet"), 60 * (2 - i))
    states = [str(tmp_path / f"state{i}") for i in range(len(schemas))]
    dec_dir, dup_dir = str(tmp_path / "dec"), str(tmp_path / "dup")
    run(
        spark, inbox, batches[0].schema, str(tmp_path / "out"), states,
        str(tmp_path / "ckpt"),
        decisions_dir=dec_dir, dup_of_dir=dup_dir, compact_after_dirs=1,
    )

    # decisions: the batch kernel applied file by file
    state = [spark.createDataFrame([], s) for s in schemas]
    for i, batch in enumerate(batches):
        dec, sigs = kernel(batch, state)
        assert _batch_rows(dec_dir, i, spark) == sorted(
            tuple(r) for r in dec.collect()
        )
        state = [s.unionByName(a).localCheckpoint() for s, a in zip(state, sigs)]
    admitted = {
        r["doc"] for r in spark.read.parquet(dec_dir).collect() if r["admitted"]
    }
    assert {1, 2, 3, 5, 6, 8} <= admitted and not {4, 7, 10, 11} & admitted

    # dup_of: the modality's native attribution schema
    dup = spark.read.parquet(dup_dir)
    assert dup.columns == dup_cols + ["batch_id"]
    assert {r["doc"] for r in dup.collect()} == set(range(1, 13)) - admitted

    # maintenance folds every state store into one generation, same rows
    for i, sd in enumerate(states):
        before = _state_rows(spark, sd)
        maintenance._compact_for(spark, cat.catalog_entry(spark, f"s{i}", sd), sd)
        assert list(state_subdirs(sd).values()) == [-1]
        assert _state_rows(spark, sd) == before and len(before) == len(admitted)


def test_gate_formats_live_in_one_module():
    from test_served_index import _imported_modules, _literal_modules

    for fmt in ("dedup-gate/v1", "verified-dedup-gate/v1", "media-gate/v1"):
        assert _literal_modules(fmt) == ["streaming/signature_gate.py"], fmt
    for fmt in (
        "cms-cells", "hll-registers", "qsketch-bins", "span-gram-counts",
        "hh-candidates",
    ):
        assert _literal_modules(fmt) == ["streaming/counting_state.py"], fmt
    for consumer in ("forget.py", "maintenance.py", "catalog.py"):
        imported = _imported_modules(PKG / "sinks" / consumer)
        assert not imported & {"media_gate", "multimodal_gate"}, consumer


# every store row's marker for fixed params, byte for byte as stores
# written before the rows existed carry it — those stores must keep
# passing check_meta
MARKERS = [
    (cs.CMS, {"d": 4, "w": 256}, '{"d": 4, "format": "cms-cells", "w": 256}'),
    (
        cs.HLL, {"hash_bits": 60, "p": 5, "group_cols": ["g"]},
        '{"format": "hll-registers", "hash_bits": 60, "p": 5}',
    ),
    (
        cs.QSKETCH, {"lo": 0.0, "hi": 10.0, "bins": 8},
        '{"bins": 8, "format": "qsketch-bins", "hi": 10.0, "lo": 0.0}',
    ),
    (
        cs.SPAN_GRAMS, {"k": 3, "min_occurrences": 2},
        '{"format": "span-gram-counts", "k": 3, "min_occurrences": 2}',
    ),
    (
        cs.HH_CANDIDATES, {"phi_k": 214748364},
        '{"format": "hh-candidates", "phi_k": 214748364}',
    ),
    (
        sg.RAW_STATE, {"n": 3, "num_hashes": 16, "bands": 4},
        '{"bands": 4, "format": "dedup-gate/v1", "n": 3, "num_hashes": 16}',
    ),
    (
        sg.MODALITIES["text"].state,
        {"n": 3, "num_hashes": 12, "bands": 4, "threshold": 0.5, "min_quality": None},
        '{"bands": 4, "format": "verified-dedup-gate/v1", "n": 3, '
        '"num_hashes": 12, "threshold": 0.5}',
    ),
    (
        sg.MODALITIES["media"].state, {"bits": 60, "max_hamming": 5},
        '{"bits": 60, "format": "media-gate/v1", "max_hamming": 5}',
    ),
]


@pytest.mark.parametrize("store,p,marker", MARKERS, ids=[m[0].fmt for m in MARKERS])
def test_store_marker_bytes_pinned(tmp_path, store, p, marker):
    state = str(tmp_path / "state")
    store.stamp(state, p)
    with open(os.path.join(state, cs.META)) as f:
        assert f.read() == marker
    store.check(state, p)


def test_gate_fold_crash_leftover_is_invisible(spark, tmp_path):
    """A crash between a gate fold's rename and its GC leaves a folded
    batch dir beside the generation; the generation's manifest keeps it
    out of the raw read, so the store's rows, the gate's decisions and
    the estate catalog's counts are the pre-fold ones."""
    schema = "doc_id long, text string"
    state = str(tmp_path / "state")
    sg.RAW_STATE.stamp(state, {"n": 3, "num_hashes": 16, "bands": 4})
    for bid, rows in enumerate(FILES):
        batch = spark.createDataFrame([(d, TEXTS[t]) for d, t, _ in rows], schema)
        _, keys = dedup_gate.gate_batch(batch, dedup_gate._load_state(spark, state))
        keys.write.mode("overwrite").parquet(os.path.join(state, f"batch_id={bid}"))
    probe = spark.createDataFrame(
        [(100, TEXTS[0]), (101, "an entirely novel text that no batch ever held")],
        schema,
    )

    def _seen():
        st = dedup_gate._load_state(spark, state)
        acc, _ = dedup_gate.gate_batch(probe, st)
        return (
            sorted(tuple(r) for r in st.collect()),
            sorted(r["doc_id"] for r in acc.collect()),
        )

    before = _seen()
    assert len(set(before[0])) == len(before[0]) and before[1] == [101]
    keep = str(tmp_path / "keep")
    shutil.copytree(os.path.join(state, "batch_id=0"), keep)
    dedup_gate.compact_state(spark, state)
    assert list(state_subdirs(state).values()) == [-1]
    shutil.copytree(keep, os.path.join(state, "batch_id=0"))
    assert _seen() == before
    ent = cat.catalog_entry(spark, "s", state)
    assert (ent["n_rows"], ent["live_dirs"]) == (len(before[0]), 1)
