"""End-to-end streaming ingest stack: drift quarantine, near-dup
rejection, sketch state over the surviving corpus, and restart
idempotence across the whole chain."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import hll_estimate
from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
    cms_stream,
    drift_gate,
    hll_stream,
    ingest_pipeline,
)

SCHEMA = "doc_id long, text string"
NORMAL_A = "alpha beta gamma delta " * 10  # ~40 tokens, bin 2
NORMAL_B = "epsilon zeta eta theta " * 10
SHORT = "x y"  # drifted: bin 0


def _write(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        path,
    )


def test_full_chain_and_restart(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame(
            [(i, NORMAL_A) for i in range(50)] + [(50 + i, NORMAL_B) for i in range(50)],
            SCHEMA,
        ),
        ref,
    )
    # f0: clean docs; f1: drifted batch (quarantined whole);
    # f2: near-duplicates of f0 (admitted by drift, rejected by dedup)
    _write(os.path.join(inbox, "f0.parquet"),
           [(1, NORMAL_A), (2, NORMAL_B)])
    _write(os.path.join(inbox, "f1.parquet"),
           [(10 + i, SHORT) for i in range(20)])
    _write(os.path.join(inbox, "f2.parquet"),
           [(100, NORMAL_A), (101, NORMAL_B)])
    p = ingest_pipeline.run_ingest_pipeline_available_now(
        spark, inbox, SCHEMA, work, ref
    )

    quarantined = spark.read.parquet(os.path.join(p["drift"], "quarantined"))
    assert quarantined.count() == 20  # the whole drifted batch
    accepted = spark.read.parquet(os.path.join(p["accepted"], "batch_id=*"))
    ids = {r["doc_id"] for r in accepted.collect()}
    assert ids == {1, 2}  # dups 100/101 rejected by the content gate

    # sketches reflect ONLY the surviving corpus: 8 distinct tokens
    est = hll_estimate(hll_stream.read_sketch(spark, p["hll"]), p=5).collect()
    assert abs(est[0]["est"] - 8) / 8 < 0.6
    cms = cms_stream.read_sketch(spark, p["cms"])
    total = cms.filter(F.col("row") == 0).agg(F.sum("c")).collect()[0][0]
    assert total == 80  # 2 docs x 40 tokens

    # restart: nothing reprocessed anywhere in the chain
    p2 = ingest_pipeline.run_ingest_pipeline_available_now(
        spark, inbox, SCHEMA, work, ref
    )
    assert p2 == p
    assert spark.read.parquet(os.path.join(p["accepted"], "batch_id=*")).count() == 2
    assert spark.read.parquet(os.path.join(p["drift"], "decisions")).count() == 3

    # a new clean file flows through every stage incrementally
    # ~40 tokens so the new doc matches the reference length profile
    _write(os.path.join(inbox, "f3.parquet"), [(200, "iota kappa " * 20)])
    ingest_pipeline.run_ingest_pipeline_available_now(
        spark, inbox, SCHEMA, work, ref
    )
    assert spark.read.parquet(os.path.join(p["accepted"], "batch_id=*")).count() == 3
    total2 = (
        cms_stream.read_sketch(spark, p["cms"])
        .filter(F.col("row") == 0)
        .agg(F.sum("c"))
        .collect()[0][0]
    )
    assert total2 == 120  # +40 tokens from the new doc


def test_all_quarantined_skips_later_stages(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL_A) for i in range(50)], SCHEMA), ref
    )
    _write(os.path.join(inbox, "f0.parquet"), [(1, SHORT), (2, SHORT)])
    p = ingest_pipeline.run_ingest_pipeline_available_now(
        spark, inbox, SCHEMA, work, ref
    )
    assert spark.read.parquet(os.path.join(p["drift"], "quarantined")).count() == 2
    # no admitted batches: the dedup/sketch stages skipped cleanly
    assert not os.path.isdir(p["accepted"]) or not os.listdir(p["accepted"])
    assert not os.path.isdir(p["cms"])


def test_chain_matches_batch_replay_registry_queries(spark, tmp_path):
    """Chain-vs-batch-form parity (verdict r6 #2): the STREAMING chain,
    fed the exact batch split q_ingest_chain_* replays, must produce
    the same drift decisions, the same accepted corpus, and the same
    CMS/HLL state the registry queries compute relationally."""
    import time

    from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import cms_build, hll_build
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens
    from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_ingest as ri

    sf = "/root/testdata/sf0.001"
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    base = ri.chain_batches(spark, sf)
    drift_gate.write_reference(
        base.filter(F.col("b") != ri._ING_B - 1).select(
            F.col("doc").alias("doc_id"), "text"
        ),
        ref,
    )
    rows_by_b = {
        b: [(r["doc"], r["text"]) for r in base.filter(F.col("b") == b)
            .orderBy("doc").collect()]
        for b in range(ri._ING_B)
    }
    for b in range(ri._ING_B):
        path = os.path.join(inbox, f"f{b}.parquet")
        _write(path, rows_by_b[b])
        past = time.time() - (ri._ING_B - b) * 10
        os.utime(path, (past, past))  # pin file order = batch order
    p = ingest_pipeline.run_ingest_pipeline_available_now(
        spark, inbox, SCHEMA, work, ref
    )

    # 1. drift decisions match the registry relation
    dec_q = {
        r["batch"]: r
        for r in ri.q_ingest_chain_decisions(spark, sf).collect()
    }
    dec_s = {
        r["batch_id"]: r
        for r in spark.read.parquet(
            os.path.join(p["drift"], "decisions")
        ).collect()
    }
    assert set(dec_s) == set(dec_q)
    for b, r in dec_s.items():
        assert (r["psi"], r["admitted"], r["n_docs"]) == (
            dec_q[b]["psi"],
            dec_q[b]["admitted"],
            dec_q[b]["n_docs"],
        ), f"batch {b}"

    # 2. accepted corpus matches the replay's accepted set
    _, acc = ri.chain_replay(spark, sf)
    want_ids = {r["doc"] for r in acc.collect()}
    got_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(p["accepted"], "batch_id=*")
        ).collect()
    }
    assert got_ids == want_ids
    assert sum(dec_q[b]["n_accepted"] for b in dec_q) == len(want_ids)

    # 3. sketch state matches monolithic builds over the same corpus
    atoks = (
        spark.read.parquet(os.path.join(p["accepted"], "batch_id=*"))
        .select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    want_cms = {
        (r["row"], r["col"]): r["c"]
        for r in cms_build(atoks, "tok", d=4, w=256).collect()
    }
    got_cms = {
        (r["row"], r["col"]): r["c"]
        for r in cms_stream.read_sketch(spark, p["cms"]).collect()
    }
    assert got_cms == want_cms
    want_hll = {
        r["register"]: r["maxrank"]
        for r in hll_build(atoks, "tok", p=5).collect()
    }
    got_hll = {
        r["register"]: r["maxrank"]
        for r in hll_stream.read_sketch(spark, p["hll"]).collect()
    }
    assert got_hll == want_hll


def test_group_chain_matches_batch_replay(spark, tmp_path):
    """Grouped-chain parity (verdict r7 #7): the STREAMING per-group
    chain (grouped drift gate -> dedup gate -> sketches), fed the exact
    split q_ingest_chain_by_group replays, must produce the same
    per-(batch, feed) decisions, the same accepted corpus, and the same
    sketch state."""
    import time

    from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import cms_build, hll_build
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens
    from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_ingest as ri

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.001"
    schema_g = "doc_id long, lang string, text string"
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    base = ri.group_chain_batches(spark, sf)
    drift_gate.write_reference(
        base.filter(~F.col("is_long")).select(
            F.col("doc").alias("doc_id"), "lang", "text"
        ),
        ref,
        group_col="lang",
    )
    for b in range(ri._ING_B):
        rows = (
            base.filter(F.col("b") == b)
            .orderBy("doc")
            .select("doc", "lang", "text")
            .collect()
        )
        path = os.path.join(inbox, f"f{b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r["doc"] for r in rows], pa.int64()),
                    "lang": pa.array([r["lang"] for r in rows], pa.string()),
                    "text": pa.array([r["text"] for r in rows], pa.string()),
                }
            ),
            path,
        )
        past = time.time() - (ri._ING_B - b) * 10
        os.utime(path, (past, past))  # pin file order = batch order
    p = ingest_pipeline.run_ingest_pipeline_available_now(
        spark, inbox, schema_g, work, ref, group_col="lang"
    )

    # 1. per-(batch, group) decisions match the registry relation
    dec_q = {
        (r["batch"], r["lang"]): r
        for r in ri.q_ingest_chain_by_group(spark, sf).collect()
    }
    dec_s = {
        (r["batch_id"], r["lang"]): r
        for r in spark.read.parquet(
            os.path.join(p["drift"], "decisions")
        ).collect()
    }
    assert set(dec_s) == set(dec_q)
    for k, r in dec_s.items():
        assert (r["psi"], r["admitted"], r["n_docs"]) == (
            dec_q[k]["psi"],
            dec_q[k]["admitted"],
            dec_q[k]["n_docs"],
        ), f"batch/group {k}"
    # the one-broken-feed shape: batch 1 has BOTH outcomes
    b1 = {lang: r["admitted"] for (b, lang), r in dec_s.items() if b == 1}
    assert b1[ri._ING_G_DRIFT] is False and any(b1.values())

    # 2. accepted corpus matches the replay's accepted set
    _, acc = ri.group_chain_replay(spark, sf)
    want_ids = {r["doc"] for r in acc.collect()}
    got = spark.read.parquet(os.path.join(p["accepted"], "batch_id=*"))
    got_ids = {r["doc_id"] for r in got.collect()}
    assert got_ids == want_ids
    assert sum(dec_q[k]["n_accepted"] for k in dec_q) == len(want_ids)

    # 3. sketch state matches monolithic builds over the same corpus
    atoks = (
        got.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    want_cms = {
        (r["row"], r["col"]): r["c"]
        for r in cms_build(atoks, "tok", d=4, w=256).collect()
    }
    got_cms = {
        (r["row"], r["col"]): r["c"]
        for r in cms_stream.read_sketch(spark, p["cms"]).collect()
    }
    assert got_cms == want_cms
    want_hll = {
        r["register"]: r["maxrank"]
        for r in hll_build(atoks, "tok", p=5).collect()
    }
    got_hll = {
        r["register"]: r["maxrank"]
        for r in hll_stream.read_sketch(spark, p["hll"]).collect()
    }
    assert got_hll == want_hll


def test_full_chain_span_stage_matches_batch_replay(spark, tmp_path):
    """Full-chain parity (drift -> dedup -> SPAN gate -> sketches): the
    streaming chain fed the q_ingest_chain_* split must produce the
    span-cleaned corpus q_ingest_chain_spans_audit replays relationally,
    and sketch state built over the CLEANED text."""
    import time

    from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import (
        dedup_spans_online,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import cms_build, hll_build
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens
    from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_ingest as ri

    sf = "/root/testdata/sf0.001"
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    base = ri.chain_batches(spark, sf)
    drift_gate.write_reference(
        base.filter(F.col("b") != ri._ING_B - 1).select(
            F.col("doc").alias("doc_id"), "text"
        ),
        ref,
    )
    for b in range(ri._ING_B):
        rows = [
            (r["doc"], r["text"])
            for r in base.filter(F.col("b") == b).orderBy("doc").collect()
        ]
        path = os.path.join(inbox, f"f{b}.parquet")
        _write(path, rows)
        past = time.time() - (ri._ING_B - b) * 10
        os.utime(path, (past, past))
    p = ingest_pipeline.run_full_ingest_available_now(
        spark, inbox, SCHEMA, work, ref
    )

    # the streaming span stage's per-doc output equals the relational
    # online form over the accepted corpus on the same batch split
    _, acc = ri.chain_replay(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = (
        acc.join(docs.select(F.col("doc_id").alias("doc"), "text"), "doc")
        .select(F.col("doc").alias("doc_id"), "b", "text")
    )
    want = {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in dedup_spans_online(
            corpus, "doc_id", "text", "b", k=ri._ING_SPAN_K, min_occurrences=2
        ).collect()
    }
    spanned = spark.read.parquet(os.path.join(p["spanned"], "batch_id=*"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in spanned.collect()
    }
    assert got == want

    # sketches reflect the CLEANED corpus
    atoks = (
        spanned.select(F.explode(tokens("text_clean")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    want_cms = {
        (r["row"], r["col"]): r["c"]
        for r in cms_build(atoks, "tok", d=4, w=256).collect()
    }
    got_cms = {
        (r["row"], r["col"]): r["c"]
        for r in cms_stream.read_sketch(spark, p["cms"]).collect()
    }
    assert got_cms == want_cms
    want_hll = {
        r["register"]: r["maxrank"]
        for r in hll_build(atoks, "tok", p=5).collect()
    }
    got_hll = {
        r["register"]: r["maxrank"]
        for r in hll_stream.read_sketch(spark, p["hll"]).collect()
    }
    assert got_hll == want_hll

    # and the audit query's headline numbers agree with the stream
    audit = ri.q_ingest_chain_spans_audit(spark, sf).collect()[0]
    assert audit["n_docs_accepted"] == len(got)
    assert audit["dropped_span_tokens"] == sum(v[1] for v in got.values())
    assert audit["n_tokens_clean"] == atoks.count()


def test_group_full_chain_matches_batch_replay(spark, tmp_path):
    """Grouped FULL-chain parity (grouped drift gate -> dedup gate ->
    span gate -> sketches): the streaming chain fed the grouped replay's
    split must produce the span-cleaned corpus q_ingest_chain_group_spans
    replays relationally, sketch state over the CLEANED text, and the
    audit's per-feed numbers."""
    import time

    from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import (
        dedup_spans_online,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sketches import hll_build
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import tokens
    from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_ingest as ri

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.001"
    schema_g = "doc_id long, lang string, text string"
    inbox = str(tmp_path / "inbox")
    work = str(tmp_path / "work")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    base = ri.group_chain_batches(spark, sf)
    drift_gate.write_reference(
        base.filter(~F.col("is_long")).select(
            F.col("doc").alias("doc_id"), "lang", "text"
        ),
        ref,
        group_col="lang",
    )
    for b in range(ri._ING_B):
        rows = (
            base.filter(F.col("b") == b)
            .orderBy("doc")
            .select("doc", "lang", "text")
            .collect()
        )
        path = os.path.join(inbox, f"f{b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r["doc"] for r in rows], pa.int64()),
                    "lang": pa.array([r["lang"] for r in rows], pa.string()),
                    "text": pa.array([r["text"] for r in rows], pa.string()),
                }
            ),
            path,
        )
        past = time.time() - (ri._ING_B - b) * 10
        os.utime(path, (past, past))
    p = ingest_pipeline.run_full_ingest_available_now(
        spark, inbox, schema_g, work, ref, group_col="lang"
    )

    # streaming span stage output equals the relational online form over
    # the grouped replay's accepted corpus on the same batch split
    _, acc = ri.group_chain_replay(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = (
        acc.join(docs.select(F.col("doc_id").alias("doc"), "text"), "doc")
        .select(F.col("doc").alias("doc_id"), "b", "text")
    )
    want = {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in dedup_spans_online(
            corpus, "doc_id", "text", "b", k=ri._ING_SPAN_K, min_occurrences=2
        ).collect()
    }
    spanned = spark.read.parquet(os.path.join(p["spanned"], "batch_id=*"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["dropped_tokens"], r["text_clean"])
        for r in spanned.collect()
    }
    assert got == want

    # HLL state reflects the CLEANED corpus (CMS covered by the
    # ungrouped full-chain test; the stage wiring is shared)
    atoks = (
        spanned.select(F.explode(tokens("text_clean")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    want_hll = {
        r["register"]: r["maxrank"]
        for r in hll_build(atoks, "tok", p=5).collect()
    }
    got_hll = {
        r["register"]: r["maxrank"]
        for r in hll_stream.read_sketch(spark, p["hll"]).collect()
    }
    assert got_hll == want_hll

    # the audit query's per-feed rows agree with the streamed corpus
    lang_of = {
        r["doc"]: r["lang"] for r in acc.select("doc", "lang").collect()
    }
    audit = {
        r["lang"]: r for r in ri.q_ingest_chain_group_spans(spark, sf).collect()
    }
    for lang in {v for v in lang_of.values()}:
        ids = [d for d, l in lang_of.items() if l == lang]
        assert audit[lang]["n_docs_accepted"] == len(ids)
        assert audit[lang]["dropped_span_tokens"] == sum(
            got[d][1] for d in ids
        )


def test_ks_decisions_match_streaming_gate_stats(spark):
    """Two-metric parity (the KS analog of the chain parity tests):
    q_ingest_chain_decisions_ks's per-batch (psi, ks) must equal
    drift_gate.batch_stats(ks=True) run on the SAME replay batches
    against the same frozen reference — the registry replay and the
    streaming gate compute the two metrics through the same operator
    contracts, so a rounding/reference drift on either side fails
    here."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ingest import (
        _ING_B,
        chain_batches,
        q_ingest_chain_decisions_ks,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["batch"]: (r["psi"], r["ks"], r["n_docs"])
        for r in q_ingest_chain_decisions_ks(spark, sf).collect()
    }
    split = chain_batches(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        F.col("doc_id").alias("doc"), "text"
    )
    with_text = split.select("doc", "b").join(docs, "doc")
    ref = drift_gate.reference_counts(
        with_text.filter(F.col("b") != _ING_B - 1), "text"
    )
    for i in range(_ING_B):
        ((psi, ks, n),) = drift_gate.batch_stats(
            with_text.filter(F.col("b") == i), ref, "text", ks=True
        ).collect()
        assert got[i] == (psi, ks, n), (i, got[i], (psi, ks, n))


def test_chain_dedup_policy_verified_vs_bucket(spark, tmp_path):
    """The chain's dedup stage is policy-pluggable: the crafted
    one-band-collision pair (est 5/12 < 0.5 — see test_dedup_gate) is
    split by the bucket policy but passes whole under the verified one;
    a true near-copy is rejected by both. Also the fail-loud policy
    switch: re-draining a bucket-policy work_dir as verified refuses the
    unmarked state."""
    import pytest as _pt

    from tests.test_dedup_gate import BAND_BASE, BAND_FP

    ref = str(tmp_path / "ref")
    refdocs = spark.createDataFrame(
        [(900 + i, BAND_BASE) for i in range(40)]
        + [(950 + i, BAND_FP) for i in range(40)],
        SCHEMA,
    )
    drift_gate.write_reference(refdocs, ref)
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write(os.path.join(inbox, "f0.parquet"),
           [(1, BAND_BASE), (2, BAND_FP), (3, BAND_BASE)])

    accepted = {}
    for policy in ("bucket", "verified"):
        p = ingest_pipeline.run_ingest_pipeline_available_now(
            spark, inbox, SCHEMA, str(tmp_path / f"work_{policy}"), ref,
            dedup_policy=policy,
            dedup_kwargs={"num_hashes": 12, "bands": 4},
        )
        accepted[policy] = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(p["accepted"], "batch_id=*")
            ).collect()
        }
    assert accepted["bucket"] == {1}
    assert accepted["verified"] == {1, 2}

    with _pt.raises(ValueError, match="unknown dedup_policy"):
        ingest_pipeline.run_ingest_pipeline_available_now(
            spark, inbox, SCHEMA, str(tmp_path / "work_x"), ref,
            dedup_policy="nope",
        )
    # policy switch on existing state fails loudly IN BOTH DIRECTIONS
    # (r11 review: the verified->bucket direction used to silently read
    # signature rows as NULL bucket keys and admit every duplicate)
    with _pt.raises(ValueError, match="format mismatch"):
        ingest_pipeline.run_ingest_pipeline_available_now(
            spark, inbox, SCHEMA, str(tmp_path / "work_bucket"), ref,
            dedup_policy="verified",
        )
    with _pt.raises(ValueError, match="format mismatch"):
        ingest_pipeline.run_ingest_pipeline_available_now(
            spark, inbox, SCHEMA, str(tmp_path / "work_verified"), ref,
            dedup_policy="bucket",
        )


@pytest.mark.parametrize(
    "runner",
    [
        ingest_pipeline.run_ingest_pipeline_available_now,
        ingest_pipeline.run_full_ingest_available_now,
    ],
    ids=["chain", "full_chain"],
)
def test_unknown_dedup_policy_fails_before_stage_one(spark, tmp_path, runner):
    """A bad ``dedup_policy`` raises before the drift gate drains the
    inbox: no ``drift/`` output and no drift checkpoint are left behind
    to be skipped on the corrected re-run."""
    ref = str(tmp_path / "ref")
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL_A) for i in range(10)], SCHEMA), ref
    )
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write(os.path.join(inbox, "f0.parquet"), [(1, NORMAL_A), (2, NORMAL_B)])
    work = str(tmp_path / "work")
    with pytest.raises(ValueError, match="unknown dedup_policy"):
        runner(spark, inbox, SCHEMA, work, ref, dedup_policy="nope")
    assert not os.path.exists(os.path.join(work, "drift"))
    assert not os.path.exists(os.path.join(work, "ckpt_drift"))
