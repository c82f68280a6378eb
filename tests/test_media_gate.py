"""Streaming media admission gate (aHash pigeonhole banding) and the
media ingest chain: payload-size drift gate → near-dup gate → persisted
media index, parity-pinned against the batch replay."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as mm
from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    ingest_pipeline,
    media_gate,
)
from reddit_apache_airflow_postgres_pipeline_spark.streaming import signature_gate as sg

SF = "/root/testdata/sf0.001"
MSCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int,height:int,sample_rate:int,n_frames:int,fmt:string>"
)
MEDIA = sg.MODALITIES["media"]


def _media(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    return mm.media_from_documents(docs)


def _write_file(df, path, age_s: float = 0.0):
    tmp = path + "__tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)
    if age_s:
        past = time.time() - age_s
        os.utime(path, (past, past))


def test_gate_media_batch_first_wins_and_state(spark):
    """An exact payload copy (hamming 0) is rejected first-wins within
    a batch and against prior state; a distinct payload passes."""
    media = _media(spark)
    m0 = media.filter(F.col("media_id") == 0)
    copy = m0.select(
        F.lit(900).alias("media_id"), "kind", "payload", "meta"
    )
    other = media.filter(F.col("media_id") == 5)
    batch = m0.unionByName(copy).unionByName(other)
    state = spark.createDataFrame([], MEDIA.state.schema({}))
    acc, sigs, dec = media_gate.gate_media_batch(batch, state)
    got = {r["doc"]: r["admitted"] for r in dec.collect()}
    assert got[0] is True and got[900] is False
    assert sorted(r["doc"] for r in sigs.collect()) == sorted(
        r["media_id"] for r in acc.collect()
    )

    # vs prior state: the copy of an accepted item is rejected later
    acc2, _, _ = media_gate.gate_media_batch(
        copy, sigs.filter(F.col("doc") == 0)
    )
    assert acc2.count() == 0


def test_gate_media_batch_custom_id_col(spark):
    """Any id column works: the codec stage reads it as ``media_id``, so
    a batch keyed ``mid`` gets the same decisions as one keyed
    ``media_id``."""
    media = _media(spark)
    m0 = media.filter(F.col("media_id") == 0)
    batch = m0.unionByName(
        m0.select(F.lit(900).alias("media_id"), "kind", "payload", "meta")
    ).unionByName(media.filter(F.col("media_id") == 5))
    state = spark.createDataFrame([], "doc long, sig long")
    got = {}
    for id_col in ("media_id", "mid"):
        rows = batch.withColumnRenamed("media_id", id_col)
        acc, _, dec = media_gate.gate_media_batch(rows, state, id_col=id_col)
        got[id_col] = (
            sorted(tuple(r) for r in dec.collect()),
            sorted(r[id_col] for r in acc.collect()),
        )
    assert got["mid"] == got["media_id"]
    assert got["mid"] == ([(0, True), (5, True), (900, False)], [0, 5])


def test_media_gate_stream_matches_batch_replay(spark, tmp_path):
    """sf0.001 media split into 3 generation files (media_id % 3)
    drained through run_media_gate_available_now admit EXACTLY what
    q_media_gate_replay admits; restart drains nothing; geometry switch
    on existing state fails loudly."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_mm import (
        q_media_gate_replay,
    )

    media = _media(spark)
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for g in range(3):
        _write_file(
            media.filter(media.media_id % 3 == g),
            os.path.join(inbox, f"g{g}.parquet"),
            age_s=30 - 10 * g,
        )
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    media_gate.run_media_gate_available_now(
        spark, inbox, MSCHEMA, out, state, ckpt
    )
    streamed = {
        r["media_id"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=*")).collect()
    }
    want = {
        r["doc"]
        for r in q_media_gate_replay(spark, SF).collect()
        if r["admitted"]
    }
    assert streamed == want

    before = sorted(os.listdir(state))
    media_gate.run_media_gate_available_now(
        spark, inbox, MSCHEMA, out, state, ckpt
    )
    assert sorted(os.listdir(state)) == before

    with pytest.raises(ValueError, match="format mismatch"):
        media_gate.run_media_gate_available_now(
            spark, inbox, MSCHEMA, out, state, str(tmp_path / "c2"),
            bits=32, max_hamming=3,
        )


def test_media_ingest_chain_drift_dedup_index(spark, tmp_path):
    """The media chain end-to-end: a normal-size batch is admitted and
    indexed, a truncated-feed batch (sizes collapsed) is quarantined by
    the payload-size drift gate, a duplicate batch is rejected by the
    aHash gate — and the index serves exactly snapshot ∪ survivors."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import media_index as mi
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi

    media = _media(spark)
    snapshot = media.filter(F.col("media_id") < 300)
    ref = str(tmp_path / "ref")
    ingest_pipeline.write_media_reference(snapshot, ref)
    ix = str(tmp_path / "ix")
    mi.write_media_index(snapshot, ix, kind="ivfpq", n_cells=8)

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    good = media.filter(
        (F.col("media_id") >= 300) & (F.col("media_id") < 320)
    )
    _write_file(good, os.path.join(inbox, "f0.parquet"), age_s=30)
    # truncated feed: every payload cut to 3 bytes — size distribution
    # collapses into bin 0, PSI blows past the threshold
    broken = media.filter(
        (F.col("media_id") >= 320) & (F.col("media_id") < 340)
    ).withColumn("payload", F.substring("payload", 1, 3).cast("binary"))
    _write_file(broken, os.path.join(inbox, "f1.parquet"), age_s=20)
    # duplicate payloads of already-admitted items under new ids
    dup = good.select(
        (F.col("media_id") + 9000).alias("media_id"), "kind", "payload", "meta"
    )
    _write_file(dup, os.path.join(inbox, "f2.parquet"), age_s=10)

    p = ingest_pipeline.run_media_ingest_available_now(
        spark, inbox, MSCHEMA, str(tmp_path / "work"), ref, index_path=ix
    )
    quarantined = {
        r["media_id"]
        for r in spark.read.parquet(
            os.path.join(p["drift"], "quarantined", "batch_id=*")
        ).collect()
    }
    assert quarantined == set(range(320, 340))
    accepted = {
        r["media_id"]
        for r in spark.read.parquet(
            os.path.join(p["accepted"], "batch_id=*")
        ).collect()
    }
    assert accepted == set(range(300, 320))
    live = {r["neighbor_id"] for r in vi.read_codes(spark, ix).collect()}
    assert live == set(range(300)) | set(range(300, 320))

    # restart: whole chain drains nothing, index untouched
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs

    ids = set(cs.state_subdirs(f"{ix}/codes").values())
    ingest_pipeline.run_media_ingest_available_now(
        spark, inbox, MSCHEMA, str(tmp_path / "work"), ref, index_path=ix
    )
    assert set(cs.state_subdirs(f"{ix}/codes").values()) == ids


def test_media_gate_rejects_redelivered_accepted_id(spark):
    """Family contract with the text gates: a re-delivered file carrying
    an already-accepted media_id (same payload) is blocked by its own
    prior signature — the cross-state direction keeps the self-pair."""
    media = _media(spark)
    first = media.filter(F.col("media_id").isin(0, 5))
    state = spark.createDataFrame([], MEDIA.state.schema({}))
    _, sigs0, _ = media_gate.gate_media_batch(first, state)
    # re-deliver item 0 verbatim alongside a novel item
    batch = media.filter(F.col("media_id").isin(0, 7))
    acc, sigs, dec = media_gate.gate_media_batch(batch, sigs0)
    got = {r["doc"]: r["admitted"] for r in dec.collect()}
    assert got[0] is False and got[7] is True
    assert [r["media_id"] for r in acc.collect()] == [7]
    assert [r["doc"] for r in sigs.collect()] == [7]


def test_media_gate_stream_persists_dup_of_attribution(spark, tmp_path):
    """dup_of_dir arms streaming media rejection attribution: drained
    blocker logs ranked like the oracle (min distance, smallest blocker
    id on ties) equal q_media_gate_dup_of on the same 3-generation
    arrival order; restart drains nothing."""
    from pyspark.sql import Window

    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_mm import (
        q_media_gate_dup_of,
    )

    media = _media(spark)
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for g in range(3):
        _write_file(
            media.filter(media.media_id % 3 == g),
            os.path.join(inbox, f"g{g}.parquet"),
            age_s=30 - 10 * g,
        )
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dup_of = str(tmp_path / "dup_of")
    media_gate.run_media_gate_available_now(
        spark, inbox, MSCHEMA, out, state, ckpt, dup_of_dir=dup_of
    )
    logs = spark.read.parquet(os.path.join(dup_of, "batch_id=*"))
    w = Window.partitionBy("doc").orderBy(F.asc("dist"), F.asc("odoc"))
    got = {
        (r["doc"], r["dup_of"], r["dist"])
        for r in logs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc", F.col("odoc").alias("dup_of"), "dist")
        .collect()
    }
    want = {
        (r["doc"], r["dup_of"], r["dist"])
        for r in q_media_gate_dup_of(spark, SF).collect()
    }
    assert got == want and got

    before = {
        d: sorted(os.listdir(os.path.join(dup_of, d)))
        for d in os.listdir(dup_of)
    }
    media_gate.run_media_gate_available_now(
        spark, inbox, MSCHEMA, out, state, ckpt, dup_of_dir=dup_of
    )
    after = {
        d: sorted(os.listdir(os.path.join(dup_of, d)))
        for d in os.listdir(dup_of)
    }
    assert after == before


def test_media_gate_min_bytes_floor_claims_no_buckets(spark):
    """The media quality floor composes like text's min_quality: a
    below-floor item is dropped BEFORE signatures exist, so a later
    above-floor copy of its payload is still admitted — and the floor
    itself never rejects an above-floor item."""
    media = _media(spark)
    sizes = {
        r["media_id"]: r["n"]
        for r in media.select(
            "media_id", F.length("payload").alias("n")
        ).collect()
    }
    small = next(i for i, n in sorted(sizes.items()) if n < 200)
    big = next(i for i, n in sorted(sizes.items()) if n >= 200)
    state = spark.createDataFrame([], MEDIA.state.schema({}))
    # batch 1: a small item (below floor) — dropped, claims no buckets
    b1 = media.filter(F.col("media_id") == small)
    acc1, sigs1, dec1 = media_gate.gate_media_batch(
        b1, state, min_bytes=200
    )
    assert acc1.count() == 0 and sigs1.count() == 0 and dec1.count() == 0
    # batch 2: an above-floor item against the (empty) post-floor state —
    # admitted; the floor never rejects an above-floor item
    acc2, _, _ = media_gate.gate_media_batch(
        media.filter(F.col("media_id") == big), sigs1, min_bytes=200
    )
    assert [r["media_id"] for r in acc2.collect()] == [big]


def test_media_chain_gate_kwargs_logs_and_floor(spark, tmp_path):
    """gate_kwargs flows through the media ingest chain to the gate
    runner: the quality floor drops a tiny payload before it claims
    buckets, and decision + dup_of logs land under the caller's dirs."""
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        drift_gate,
        ingest_pipeline,
    )

    media = _media(spark)
    sizes = {
        r["media_id"]: r["n"]
        for r in media.select("media_id", F.length("payload").alias("n")).collect()
    }
    small = next(i for i, n in sorted(sizes.items()) if n < 200)
    bigs = [i for i, n in sorted(sizes.items()) if n >= 200][:3]

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    batch = media.filter(F.col("media_id").isin([small] + bigs))
    ref = str(tmp_path / "ref")
    # reference = the batch's own size distribution → PSI 0, stage-1
    # admits everything; this test is about stage-2's gate_kwargs
    drift_gate.write_reference(
        batch, ref, metric=drift_gate.payload_size_metric(),
        bin_width=256, bins=10,
    )
    _write_file(batch, os.path.join(inbox, "f0.parquet"), age_s=10)

    dec_dir = str(tmp_path / "gdec")
    dup_dir = str(tmp_path / "gdup")
    p = ingest_pipeline.run_media_ingest_available_now(
        spark, inbox, MSCHEMA, str(tmp_path / "work"), ref,
        gate_kwargs={
            "min_bytes": 200,
            "decisions_dir": dec_dir,
            "dup_of_dir": dup_dir,
        },
    )
    accepted = {
        r["media_id"]
        for r in spark.read.parquet(
            os.path.join(p["accepted"], "batch_id=*")
        ).collect()
    }
    assert small not in accepted and set(bigs) <= accepted | set()
    dec = {r["doc"]: r["admitted"] for r in spark.read.parquet(dec_dir).collect()}
    assert small not in dec  # quality-dropped: no decision row
    assert all(dec.get(b) is not None for b in bigs)
    assert os.path.isdir(dup_dir) or not any(
        not v for v in dec.values()
    )  # dup_of rows exist only if something was rejected


def test_media_bucketed_state_parity(spark, tmp_path):
    """Media-gate bucketed layout (family parity with the verified text
    gate): the derived band-key table (on bk) + signature table (on
    doc) drive gate_media_batch to the SAME admissions and blocker
    attribution as the flat store."""
    media = _media(spark)
    state_dir = str(tmp_path / "mstate")
    cs.stamp_meta(state_dir, MEDIA.state.meta({"bits": 60, "max_hamming": 5}))
    sigs0 = mm.ahash_signatures(
        media.filter(F.col("media_id") % 2 == 0), n=60
    ).select(F.col("media_id").alias("doc"), "sig")
    sigs0.withColumn("batch_id", F.lit(0)).write.mode("overwrite").parquet(
        os.path.join(state_dir, "batch_id=0")
    )

    keys_t, sigs_t = sg.bucket_gate_state(
        spark, state_dir, "t_mgate", str(tmp_path / "bm"), num_buckets=4
    )
    flat = MEDIA.state.load(spark, state_dir, {})
    batch = media.filter(F.col("media_id") % 2 == 1).limit(30)
    copy = media.filter(F.col("media_id") == 0).select(
        F.lit(901).alias("media_id"), "kind", "payload", "meta"
    )
    batch = batch.unionByName(copy)
    accs = {}
    for label, st, sk in (("flat", flat, None), ("bucketed", sigs_t, keys_t)):
        acc, _, _, blk = media_gate.gate_media_batch_attributed(
            batch, st, state_keys=sk
        )
        accs[label] = (
            sorted(r["media_id"] for r in acc.collect()),
            sorted((r["doc"], r["odoc"]) for r in blk.collect()),
        )
    assert accs["flat"] == accs["bucketed"]
    assert 901 not in accs["flat"][0]  # the copy of state item 0 is blocked

    for t in ("t_mgate_keys", "t_mgate_sigs"):
        desc = "\n".join(
            f"{r['col_name']} {r['data_type']}"
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        )
        assert "Num Buckets 4" in desc, desc
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_media_hybrid_bucketed_drain_parity_refresh_and_fallback(
    spark, tmp_path
):
    """The hybrid state layout in the MEDIA drain: with aggressive
    compaction and `bucketed` armed, admissions equal the flat drain;
    each fold refreshes the tables and the marker tracks the
    generation; a stale marker falls back to the flat read."""
    import json

    media = _media(spark)

    def _drain(tag, bucketed):
        inbox = str(tmp_path / f"inbox_{tag}")
        os.makedirs(inbox)
        for g in range(3):
            p = os.path.join(inbox, f"g{g}.parquet")
            _write_file(
                media.filter(F.col("media_id") % 3 == g), p,
                age_s=60 * (3 - g),
            )
        out = str(tmp_path / f"out_{tag}")
        media_gate.run_media_gate_available_now(
            spark, inbox, MSCHEMA, out,
            str(tmp_path / f"state_{tag}"), str(tmp_path / f"ckpt_{tag}"),
            compact_after_dirs=1, bucketed=bucketed,
        )
        return {
            r["media_id"]
            for r in spark.read.parquet(os.path.join(out, "batch_id=*")).collect()
        }

    bopt = {
        "table_prefix": "t_mhybrid",
        "path": str(tmp_path / "bmt"),
        "num_buckets": 4,
    }
    got_hybrid = _drain("hyb", bopt)
    got_flat = _drain("flat", None)
    assert got_hybrid == got_flat and got_hybrid

    marker = os.path.join(bopt["path"], sg.BUCKETED_MARKER)
    with open(marker) as f:
        mirrored = json.load(f)["gen"]
    assert mirrored == sg._newest_gen_id(str(tmp_path / "state_hyb"))
    assert spark.table("t_mhybrid_sigs").count() > 0

    # stale marker → flat fallback, identical decisions
    with open(marker, "w") as f:
        json.dump({"gen": -999}, f)
    st, sk = sg.load_state(
        spark, str(tmp_path / "state_hyb"), MEDIA,
        {"bits": 60, "max_hamming": 5}, bucketed=bopt,
    )
    assert sk is None
    probe = media.filter(F.col("media_id") == 1).select(
        F.lit(950).alias("media_id"), "kind", "payload", "meta"
    )
    acc, _, _ = media_gate.gate_media_batch(probe, st)
    assert acc.count() == 0  # re-copy of an accepted item stays blocked

    spark.sql("DROP TABLE IF EXISTS t_mhybrid_sigs")
    spark.sql("DROP TABLE IF EXISTS t_mhybrid_keys")


def test_media_broadcast_batch_parity_and_no_state_shuffle(spark):
    """The media gate's big-state probe flip: broadcast_batch=True
    yields identical admissions and attribution, with the state's keys
    AND signatures streamed through map-side hash joins — no bk or
    odoc exchange on the state side."""
    media = _media(spark)
    state = mm.ahash_signatures(
        media.filter(F.col("media_id") % 2 == 0), n=60
    ).select(F.col("media_id").alias("doc"), "sig").localCheckpoint()
    batch = media.filter(F.col("media_id") % 2 == 1).limit(30)
    copy = media.filter(F.col("media_id") == 0).select(
        F.lit(902).alias("media_id"), "kind", "payload", "meta"
    )
    batch = batch.unionByName(copy)

    got = {}
    for label, bb in (("default", False), ("flipped", True)):
        acc, _, _, blk = media_gate.gate_media_batch_attributed(
            batch, state, broadcast_batch=bb
        )
        got[label] = (
            sorted(r["media_id"] for r in acc.collect()),
            sorted((r["doc"], r["odoc"], r["dist"]) for r in blk.collect()),
        )
    assert got["default"] == got["flipped"]
    assert 902 not in got["default"][0]

    # plan: the cross-state direction alone must not shuffle the state
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        signature_band_keys,
    )

    bsig = mm.ahash_signatures(batch, n=60).select(
        F.col("media_id").alias("doc"), "sig"
    ).localCheckpoint()
    bkeys = signature_band_keys(bsig, 60, 5).localCheckpoint()
    skeys = signature_band_keys(state, 60, 5)
    blk = sg.blockers(
        MEDIA, {"max_hamming": 5}, bkeys, bsig, skeys, state, ordered=False,
        broadcast_batch=True,
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        blk._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(bk" not in plan
    assert "hashpartitioning(odoc" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
