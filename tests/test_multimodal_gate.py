"""Unified multimodal admission gate (streaming/multimodal_gate.py):
atomic either-modality-rejects admission over one corpus, stream drain
parity-pinned against the oracle-paired batch replay, and the
composition pin that separates it from running the two gates
independently."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as mm
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    dedup_gate,
    multimodal_gate,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import signature_gate as sg

SF = "/root/testdata/sf0.001"
MMSCHEMA = (
    "doc_id long, text string, kind string, payload binary, "
    "meta struct<width:int,height:int,sample_rate:int,n_frames:int,fmt:string>"
)


def _mm_docs(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    media = mm.media_from_documents(docs).withColumnRenamed(
        "media_id", "doc_id"
    )
    return docs.join(media, "doc_id")


def _write_file(df, path, age_s: float = 0.0):
    tmp = path + "__tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)
    if age_s:
        past = time.time() - age_s
        os.utime(path, (past, past))


def test_unified_gate_rejects_on_either_modality(spark):
    """A doc whose TEXT is novel but whose PAYLOAD near-dups an
    accepted item is rejected; so is the converse; a doc novel in both
    is admitted — and a rejected doc enters NEITHER state."""
    corpus = _mm_docs(spark)
    base = corpus.filter(F.col("doc_id") == 0)
    tstate = spark.createDataFrame(
        [], sg.MODALITIES["text"].state.schema({"num_hashes": 12})
    )
    mstate = spark.createDataFrame([], sg.MODALITIES["media"].state.schema({}))
    _, tsigs, msigs, dec = multimodal_gate.gate_multimodal_batch(
        base, tstate, mstate
    )
    tsigs, msigs = tsigs.localCheckpoint(), msigs.localCheckpoint()
    assert dec.collect()[0]["admitted"] is True

    # media dup, novel text: same payload as doc 0, different text
    media_dup = base.select(
        F.lit(700).alias("doc_id"),
        F.lit("completely unrelated fresh sentence about nothing").alias(
            "text"
        ),
        "kind", "payload", "meta",
    )
    # text dup, novel media: doc 0's text, a payload far from doc 0's
    text_dup = base.select(
        F.lit(701).alias("doc_id"), "text", "kind",
        F.encode(F.lit("Z" * 400), "UTF-8").alias("payload"), "meta",
    )
    # novel in both
    fresh = base.select(
        F.lit(702).alias("doc_id"),
        F.lit("entirely new words never seen in the corpus before").alias(
            "text"
        ),
        "kind",
        F.encode(F.lit("q r s t u v w x y z " * 9), "UTF-8").alias("payload"),
        "meta",
    )
    batch = media_dup.unionByName(text_dup).unionByName(fresh)
    acc, tsigs2, msigs2, dec2, blk = (
        multimodal_gate.gate_multimodal_batch_attributed(
            batch, tsigs, msigs
        )
    )
    got = {r["doc"]: r["admitted"] for r in dec2.collect()}
    assert got == {700: False, 701: False, 702: True}
    by_doc = {
        (r["doc"], r["modality"]) for r in blk.collect()
    }
    assert (700, "media") in by_doc and (700, "text") not in by_doc
    assert (701, "text") in by_doc and (701, "media") not in by_doc
    # atomicity: the rejected docs' signatures entered neither state
    assert sorted(r["doc"] for r in tsigs2.collect()) == [702]
    assert sorted(r["doc"] for r in msigs2.collect()) == [702]


def test_unified_differs_from_independent_gates(spark):
    """The composition pin: doc X is a media-dup of accepted doc A (so
    the unified gate rejects it atomically), and doc Y is a TEXT dup of
    X only. Independent per-modality gates would have admitted X's text
    into the text state and then rejected Y; the unified corpus never
    admitted X, so Y is admitted."""
    corpus = _mm_docs(spark)
    base = corpus.filter(F.col("doc_id") == 0)
    tstate = spark.createDataFrame(
        [], sg.MODALITIES["text"].state.schema({"num_hashes": 12})
    )
    mstate = spark.createDataFrame([], sg.MODALITIES["media"].state.schema({}))
    _, tsigs, msigs, _ = multimodal_gate.gate_multimodal_batch(
        base, tstate, mstate
    )
    tsigs, msigs = tsigs.localCheckpoint(), msigs.localCheckpoint()

    x_text = "an original caption that matches no accepted document"
    x = base.select(
        F.lit(800).alias("doc_id"), F.lit(x_text).alias("text"),
        "kind", "payload", "meta",  # payload == doc 0's → media dup
    )
    y = base.select(
        F.lit(801).alias("doc_id"), F.lit(x_text).alias("text"),  # text dup of X
        "kind",
        F.encode(F.lit("m n o p " * 40), "UTF-8").alias("payload"), "meta",
    )

    # unified, sequential batches: X rejected (media), then Y admitted
    accX, tsX, msX, decX = multimodal_gate.gate_multimodal_batch(
        x, tsigs, msigs
    )
    assert decX.collect()[0]["admitted"] is False
    tstate2 = tsigs.unionByName(tsX).localCheckpoint()
    mstate2 = msigs.unionByName(msX).localCheckpoint()
    _, _, _, decY = multimodal_gate.gate_multimodal_batch(
        y, tstate2, mstate2
    )
    assert decY.collect()[0]["admitted"] is True

    # independent text gate: X's text WOULD have been admitted into the
    # text state (its text is novel), and Y would then be rejected
    accXt, tsigsXt, _ = dedup_gate.gate_batch_verified(x, tsigs)
    assert accXt.count() == 1
    _, _, decYt = dedup_gate.gate_batch_verified(
        y, tsigs.unionByName(tsigsXt)
    )
    assert decYt.collect()[0]["admitted"] is False


def test_multimodal_stream_matches_batch_replay(spark, tmp_path):
    """sf0.001 multimodal docs split into 3 generation files (doc_id %
    3) drained through run_multimodal_gate_available_now admit EXACTLY
    what q_multimodal_gate_replay admits; restart drains nothing; both
    state stores carry their own family format markers; the attribution
    log distinguishes modalities."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_mm import (
        q_multimodal_gate_replay,
    )

    corpus = _mm_docs(spark)
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for g in range(3):
        _write_file(
            corpus.filter(F.col("doc_id") % 3 == g),
            os.path.join(inbox, f"g{g}.parquet"),
            age_s=60 * (3 - g),
        )
    out = str(tmp_path / "out")
    tstate = str(tmp_path / "tstate")
    mstate = str(tmp_path / "mstate")
    dec_dir = str(tmp_path / "dec")
    dup_dir = str(tmp_path / "dup")
    multimodal_gate.run_multimodal_gate_available_now(
        spark, inbox, MMSCHEMA, out, tstate, mstate,
        str(tmp_path / "ckpt"), decisions_dir=dec_dir, dup_of_dir=dup_dir,
    )

    streamed = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=*")).collect()
    }
    replay = q_multimodal_gate_replay(spark, SF)
    expected = {r["doc"] for r in replay.collect() if r["admitted"]}
    assert streamed == expected

    # decisions log covers every doc; attribution carries both modalities
    dec = spark.read.parquet(dec_dir)
    assert dec.count() == corpus.count()
    mods = {
        r["modality"]
        for r in spark.read.parquet(dup_dir).select("modality").distinct().collect()
    }
    assert mods <= {"text", "media"} and mods

    # restart: nothing new to drain
    before = len(glob.glob(os.path.join(out, "batch_id=*")))
    multimodal_gate.run_multimodal_gate_available_now(
        spark, inbox, MMSCHEMA, out, tstate, mstate, str(tmp_path / "ckpt"),
    )
    assert len(glob.glob(os.path.join(out, "batch_id=*"))) == before

    # family format markers: the estate catalog classifies both states
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.catalog import catalog

    rows = {
        r["name"]: r.asDict()
        for r in catalog(
            spark, {"t": tstate, "m": mstate, "d": dec_dir, "a": dup_dir}
        ).collect()
    }
    assert rows["t"]["kind"] == "verified-dedup-gate/v1"
    assert rows["m"]["kind"] == "media-gate/v1"
    assert rows["d"]["category"] == "decision-log"
    assert rows["a"]["category"] == "attribution-log"
    assert rows["a"]["modality"] == "multimodal"


def test_multimodal_ingest_chain_end_to_end(spark, tmp_path):
    """The unified chain end-to-end: a normal batch is admitted and
    lands in BOTH indexes; a short-text batch quarantines at the TEXT
    drift gate; a truncated-payload batch quarantines at the MEDIA
    size gate; a batch duplicating admitted items in ONE modality each
    is rejected by the unified near-dup gate; both indexes serve
    exactly snapshot ∪ survivors."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import media_index as mi
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index as ti
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        drift_gate,
        ingest_pipeline,
    )

    corpus = _mm_docs(spark)
    snapshot = corpus.filter(F.col("doc_id") < 300)
    tref = str(tmp_path / "tref")
    drift_gate.write_reference(snapshot, tref)
    mref = str(tmp_path / "mref")
    ingest_pipeline.write_media_reference(snapshot, mref)
    tix = str(tmp_path / "tix")
    ti.write_text_index(snapshot, tix, kind="ivfpq", n_cells=8)
    mix = str(tmp_path / "mix")
    mi.write_media_index(snapshot, mix, kind="ivfpq", n_cells=8,
                         id_col="doc_id")

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    good = corpus.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 320))
    _write_file(good, os.path.join(inbox, "f0.parquet"), age_s=40)
    # short-text feed: token-length distribution collapses → text gate
    short = corpus.filter(
        (F.col("doc_id") >= 320) & (F.col("doc_id") < 340)
    ).withColumn("text", F.lit("x y"))
    _write_file(short, os.path.join(inbox, "f1.parquet"), age_s=30)
    # truncated payloads, normal text → media size gate
    trunc = corpus.filter(
        (F.col("doc_id") >= 340) & (F.col("doc_id") < 360)
    ).withColumn("payload", F.substring("payload", 1, 3).cast("binary"))
    _write_file(trunc, os.path.join(inbox, "f2.parquet"), age_s=20)
    # near-dups of admitted items: same payloads under new ids
    dup = good.select(
        (F.col("doc_id") + 9000).alias("doc_id"), "text", "kind",
        "payload", "meta",
    )
    _write_file(dup, os.path.join(inbox, "f3.parquet"), age_s=10)

    p = ingest_pipeline.run_multimodal_ingest_available_now(
        spark, inbox, MMSCHEMA, str(tmp_path / "work"), tref, mref,
        text_index_path=tix, media_index_path=mix,
    )
    tq = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(p["drift"], "quarantined", "batch_id=*")
        ).collect()
    }
    assert tq == set(range(320, 340))
    mq = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(p["mdrift"], "quarantined", "batch_id=*")
        ).collect()
    }
    assert mq == set(range(340, 360))
    accepted = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(p["accepted"], "batch_id=*")
        ).collect()
    }
    assert accepted == set(range(300, 320))
    for ix in (tix, mix):
        live = {r["neighbor_id"] for r in vi.read_codes(spark, ix).collect()}
        assert live == set(range(300)) | set(range(300, 320)), ix

    # restart: whole chain drains nothing, neither index grows
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        counting_state as cs,
    )

    ids = {
        ix: set(cs.state_subdirs(f"{ix}/codes").values()) for ix in (tix, mix)
    }
    ingest_pipeline.run_multimodal_ingest_available_now(
        spark, inbox, MMSCHEMA, str(tmp_path / "work"), tref, mref,
        text_index_path=tix, media_index_path=mix,
    )
    for ix in (tix, mix):
        assert set(cs.state_subdirs(f"{ix}/codes").values()) == ids[ix]
