"""Drift-triggered index rebuild: the recall audit made operational
(sinks/vector_index.index_recall + rebuild_index_if_stale). Appends
encode against frozen quantizers — the accepted streaming trade — and
this is the loop that notices when that trade has gone bad and retrains
only then."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi

SF = "/root/testdata/sf0.001"


def _base(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _drifted(spark, n=120, offset=1000):
    """A far-away cluster the frozen quantizers never saw: constant
    large components with a per-id wiggle, ids shifted past the base."""
    e = _base(spark).filter(F.col("vec_id") < n)
    wiggle = (F.col("vec_id") % 7).cast("double") / 10.0
    return e.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x * 0.01 + F.lit(50.0) + wiggle + i * 0.5
        ).alias("embedding"),
    )


def test_infer_kind_and_recall_bounds(spark, tmp_path):
    ix = str(tmp_path / "ix")
    vi.write_ivfpq_index(_base(spark), ix, n_cells=8)
    assert vi.infer_kind(ix) == "ivfpq"
    with pytest.raises(ValueError, match="expected exactly"):
        vi.infer_kind(str(tmp_path / "nothing"))
    q = _base(spark).filter(F.col("vec_id") < 6)
    r = vi.index_recall(spark, ix, _base(spark), q, k=5, n_probe=8)
    assert 0.0 <= r <= 1.0


def test_rebuild_triggers_on_drift_and_improves_recall(spark, tmp_path):
    """Build on the base corpus, append a far-away drifted cluster
    (frozen centroids/codebooks never saw it), probe FROM the drifted
    region: recall is poor; the stale path rebuilds and the re-measured
    recall improves. An above-threshold store is left untouched."""
    ix = str(tmp_path / "ix")
    base = _base(spark)
    drift = _drifted(spark)
    vi.write_ivfpq_index(base, ix, n_cells=8)
    vi.append_to_ivfpq_index(drift, ix)
    corpus = base.unionByName(drift)
    probes = drift.filter(F.col("vec_id") % 11 == 0)

    before = vi.index_recall(spark, ix, corpus, probes, k=5, n_probe=4)
    res = vi.rebuild_index_if_stale(
        spark, ix, corpus, probes, min_recall=min(before + 1e-6, 1.0),
        k=5, probe_kwargs={"n_probe": 4}, build_kwargs={"n_cells": 8},
    )
    assert res["rebuilt"] is True and res["kind"] == "ivfpq"
    assert res["recall"] == pytest.approx(before)
    assert res["recall_after"] >= before

    # healthy store: untouched (codes unchanged on disk)
    snap = sorted(map(tuple, vi.read_codes(spark, ix).collect()))
    res2 = vi.rebuild_index_if_stale(
        spark, ix, corpus, probes, min_recall=0.0,
        probe_kwargs={"n_probe": 4}, build_kwargs={"n_cells": 8},
    )
    assert res2["rebuilt"] is False and res2["recall_after"] is None
    assert sorted(map(tuple, vi.read_codes(spark, ix).collect())) == snap


def test_rebuild_from_survivors_gcs_tombstones_and_unblocks_readd(spark, tmp_path):
    """The erase → rebuild → re-add loop: a live tombstone blocks
    re-adding its id (the fail-loud guard); a rebuild from the
    surviving corpus physically drops the id AND GCs the tombstone, so
    the re-add then succeeds. min_recall > 1 forces the rebuild branch
    deterministically."""
    ix = str(tmp_path / "ix")
    base = _base(spark)
    vi.write_ivf_index(base, ix, n_cells=8)
    gone = base.filter(F.col("vec_id") == 7).select("vec_id")
    vi.delete_from_index(gone, ix)
    with pytest.raises(ValueError, match="tombstone"):
        vi.append_to_ivf_index(base.filter(F.col("vec_id") == 7), ix)

    survivors = base.filter(F.col("vec_id") != 7)
    probes = survivors.filter(F.col("vec_id") < 5)
    res = vi.rebuild_index_if_stale(
        spark, ix, survivors, probes, min_recall=1.1,
        probe_kwargs={"n_probe": 8}, build_kwargs={"n_cells": 8},
    )
    assert res["rebuilt"] is True
    assert not os.path.isdir(os.path.join(ix, "tombstones"))
    live = {r["neighbor_id"] for r in vi.read_postings(spark, ix).collect()}
    assert 7 not in live
    vi.append_to_ivf_index(base.filter(F.col("vec_id") == 7), ix)
    live = {r["neighbor_id"] for r in vi.read_postings(spark, ix).collect()}
    assert 7 in live


def test_text_index_rebuild_keeps_frozen_featurizer(spark, tmp_path):
    """The text-index staleness loop: quantizers retrain on rebuild,
    the featurizer params stay FROZEN (the index's identity), and a
    healthy store is untouched."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import text_index as ti

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 300)
    drift = docs.filter(F.col("doc_id") >= 300).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.concat(F.lit("zzqx wwvt uuyr ssnm "), F.reverse("text")).alias("text"),
    )
    ix = str(tmp_path / "tix")
    ti.write_text_index(base, ix, kind="ivfpq", d=8, n=2, salt="emb", n_cells=8)
    ti.append_text_to_index(drift, ix)
    corpus = base.unionByName(drift)
    probes = drift.filter(F.col("doc_id") % 17 == 0)

    before = ti.text_index_recall(spark, ix, corpus, probes, k=5, n_probe=4)
    res = ti.rebuild_text_index_if_stale(
        spark, ix, corpus, probes, min_recall=min(before + 1e-6, 1.0),
        probe_kwargs={"n_probe": 4}, build_kwargs={"n_cells": 8},
    )
    assert res["rebuilt"] is True
    assert res["recall_after"] >= before
    # featurizer identity survived the rebuild
    meta = ti.text_index_meta(ix)
    assert (meta["d"], meta["n"], meta["salt"]) == (8, 2, "emb")
    res2 = ti.rebuild_text_index_if_stale(
        spark, ix, corpus, probes, min_recall=0.0,
        probe_kwargs={"n_probe": 4}, build_kwargs={"n_cells": 8},
    )
    assert res2["rebuilt"] is False and res2["recall_after"] is None


def test_media_index_rebuild_keeps_frozen_codec(spark, tmp_path):
    """Media twin: forced rebuild (min_recall > 1) replaces the store,
    GCs tombstones, keeps the frozen codec."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as mm
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import media_index as mi
    from reddit_apache_airflow_postgres_pipeline_spark.sinks import vector_index as vi2

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    media = mm.media_from_documents(docs)
    ix = str(tmp_path / "mix")
    mi.write_media_index(media, ix, kind="ivfpq", n_cells=8)
    vi2.delete_from_index(
        media.filter(F.col("media_id") == 3).select(F.col("media_id").alias("vec_id")),
        ix, id_col="vec_id",
    )
    probes = media.filter(F.col("media_id") < 4)
    res = mi.rebuild_media_index_if_stale(
        spark, ix,
        media.filter(F.col("media_id") != 3), probes, min_recall=1.1,
        id_col="media_id",
        probe_kwargs={"n_probe": 8}, build_kwargs={"n_cells": 8},
    )
    assert res["rebuilt"] is True and res["kind"] == "ivfpq"
    assert not os.path.isdir(os.path.join(ix, "tombstones"))
    assert mi.media_index_meta(ix)["codec"] == "fake"
    live = {r["neighbor_id"] for r in vi2.read_codes(spark, ix).collect()}
    assert 3 not in live


def test_index_stats_ops_view(spark, tmp_path):
    """The store dashboard: rows/cells reflect builds+appends, the
    tombstone backlog meters pending erasures and drops to zero after a
    FULL compaction, live_dirs counts the compaction pressure; the flat
    binary store reports no cell map."""
    base = _base(spark)
    ix = str(tmp_path / "six")
    vi.write_ivf_index(base.filter(F.col("vec_id") < 400), ix, n_cells=8)
    vi.append_to_ivf_index(base.filter(F.col("vec_id") >= 400), ix)
    st = vi.index_stats(spark, ix)
    assert st["kind"] == "ivf" and st["rows"] == 500
    assert sum(st["cells"].values()) == 500 and len(st["cells"]) <= 8
    assert st["live_dirs"] == 2 and st["tombstones"] == 0

    vi.delete_from_index(
        base.filter(F.col("vec_id") < 3).select("vec_id"), ix
    )
    st = vi.index_stats(spark, ix)
    assert st["tombstones"] == 3 and st["rows"] == 497
    vi.compact_store(spark, ix, "ivf")  # FULL: physical drop + tombstone GC
    st = vi.index_stats(spark, ix)
    assert st["tombstones"] == 0 and st["rows"] == 497

    bix = str(tmp_path / "bix")
    vi.write_binary_index(base, bix)
    stb = vi.index_stats(spark, bix)
    assert stb["kind"] == "binary" and stb["rows"] == 500 and stb["cells"] is None


def test_verified_and_media_gate_decision_logs(spark, tmp_path):
    """decisions_dir arms the drift gate's monitoring contract on both
    content gates: per-batch (doc, admitted) relations land exactly-once
    and agree with the accepted outputs."""
    import glob
    import shutil
    import time as _t

    from pyspark.sql import functions as F2

    from reddit_apache_airflow_postgres_pipeline_spark.operators import multimodal as mm
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        dedup_gate,
        media_gate,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    inbox = str(tmp_path / "in")
    os.makedirs(inbox)
    docs.limit(100).toPandas().to_parquet(os.path.join(inbox, "f0.parquet"))
    dec_dir = str(tmp_path / "dec")
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, "doc_id long, text string", str(tmp_path / "out"),
        str(tmp_path / "state"), str(tmp_path / "ck"),
        decisions_dir=dec_dir,
    )
    dec = spark.read.parquet(os.path.join(dec_dir, "batch_id=*"))
    acc = spark.read.parquet(str(tmp_path / "out") + "/batch_id=*")
    assert dec.count() == 100
    assert dec.filter("admitted").count() == acc.count()

    media = mm.media_from_documents(docs.limit(80))
    minbox = str(tmp_path / "min")
    os.makedirs(minbox)
    tmpd = str(tmp_path / "t")
    media.coalesce(1).write.parquet(tmpd)
    shutil.move(
        glob.glob(os.path.join(tmpd, "part-*.parquet"))[0],
        os.path.join(minbox, "m0.parquet"),
    )
    past = _t.time() - 10
    os.utime(os.path.join(minbox, "m0.parquet"), (past, past))
    mdec_dir = str(tmp_path / "mdec")
    media_gate.run_media_gate_available_now(
        spark, minbox,
        "media_id long, kind string, payload binary, "
        "meta struct<width:int,height:int,sample_rate:int,n_frames:int,fmt:string>",
        str(tmp_path / "mout"), str(tmp_path / "mstate"), str(tmp_path / "mck"),
        decisions_dir=mdec_dir,
    )
    mdec = spark.read.parquet(os.path.join(mdec_dir, "batch_id=*"))
    macc = spark.read.parquet(str(tmp_path / "mout") + "/batch_id=*")
    assert mdec.count() == 80
    assert mdec.filter("admitted").count() == macc.count()
