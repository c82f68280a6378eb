"""Streaming MinHash dedup gate: admission semantics, cross-run state,
and checkpointed exactly-once file processing."""

from __future__ import annotations

import os

from reddit_apache_airflow_postgres_pipeline_spark.streaming import dedup_gate
from reddit_apache_airflow_postgres_pipeline_spark.streaming import drain
from reddit_apache_airflow_postgres_pipeline_spark.streaming import signature_gate as sg

SCHEMA = "doc_id long, text string"
TEXT = sg.MODALITIES["text"]

A = "the quick brown fox jumps over the lazy dog near the river bank today"
B = "completely different content about spark shuffles and parquet footers"
C = "a third unrelated document describing watermark semantics in streams"


def _write(spark, path, rows):
    # a single real parquet FILE (not a Spark output directory) — the
    # file stream source lists flat files in the inbox
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)


def test_gate_batch_rejects_copies_first_wins(spark):
    batch = spark.createDataFrame(
        [(1, A), (2, A), (3, B)], SCHEMA  # 2 is an exact copy of 1
    )
    state = spark.createDataFrame([], "doc long, bk string")
    accepted, keys = dedup_gate.gate_batch(batch, state)
    assert sorted(r["doc_id"] for r in accepted.collect()) == [1, 3]
    # only accepted docs contribute state
    assert sorted(set(r["doc"] for r in keys.collect())) == [1, 3]


def test_gate_batch_rejects_against_prior_state(spark):
    batch = spark.createDataFrame([(4, A), (5, C)], SCHEMA)
    state0 = spark.createDataFrame([], "doc long, bk string")
    _, keys1 = dedup_gate.gate_batch(
        spark.createDataFrame([(1, A)], SCHEMA), state0
    )
    accepted, _ = dedup_gate.gate_batch(batch, keys1)
    assert [r["doc_id"] for r in accepted.collect()] == [5]


def test_run_gate_streaming_state_and_checkpoint(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)

    # run 1: one file, one in-batch copy
    _write(spark, os.path.join(inbox, "f1.parquet"), [(1, A), (2, A), (3, B)])
    dedup_gate.run_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )
    got1 = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert got1 == [1, 3]

    # run 2 (restart): a new file arrives; 4 duplicates the accepted
    # corpus, 5 is novel. The checkpoint must skip f1 entirely.
    _write(spark, os.path.join(inbox, "f2.parquet"), [(4, A), (5, C)])
    dedup_gate.run_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )
    got2 = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert got2 == [1, 3, 5]

    # state holds band keys only for admitted docs
    state_docs = sorted(
        set(r["doc"] for r in spark.read.parquet(state).collect())
    )
    assert state_docs == [1, 3, 5]

    # run 3: nothing new → no change (exactly-once over files)
    dedup_gate.run_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )
    got3 = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert got3 == [1, 3, 5]


def test_state_compaction_preserves_gate_decisions(spark, tmp_path):
    """§ compaction: folding per-batch state dirs into a generation must
    not change any admission decision, and must actually bound the
    directory count."""
    import shutil as _sh

    # two inbox copies → one run with aggressive compaction, one without
    rows_by_file = {
        "f1.parquet": [(1, A), (2, A), (3, B)],
        "f2.parquet": [(4, A), (5, C)],
        "f3.parquet": [(6, B), (7, C), (8, A)],
        "f4.parquet": [(9, "novel text about adaptive query execution plans")],
    }

    def _run(tag, compact_after):
        inbox = str(tmp_path / f"inbox_{tag}")
        os.makedirs(inbox)
        out = str(tmp_path / f"out_{tag}")
        state = str(tmp_path / f"state_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        for i, (fname, rows) in enumerate(rows_by_file.items()):
            p = os.path.join(inbox, fname)
            _write(spark, p, rows)
            # distinct mtimes pin the file-source processing order (the
            # source orders by modification time; same-tick writes tie)
            os.utime(p, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
        dedup_gate.run_gate_available_now(
            spark, inbox, SCHEMA, out, state, ckpt,
            compact_after_dirs=compact_after,
        )
        accepted = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        return accepted, state

    got_compact, state_c = _run("compact", 1)
    got_plain, _ = _run("plain", 10_000)
    assert got_compact == got_plain  # identical admissions
    # compaction actually folded: only the generation + at most the
    # final batch's dir remain (maxFilesPerTrigger=1 → 4 batches)
    n_dirs = len(drain.state_subdirs(state_c))
    assert n_dirs <= 2, f"expected folded state, found {n_dirs} dirs"
    # a generation dir (negative batch_id) exists
    gen_dirs = [
        d for d in drain.state_subdirs(state_c) if "batch_id=-" in d
    ]
    assert gen_dirs

    # gating a fresh batch against compacted vs plain state agrees
    batch = spark.createDataFrame([(100, A), (101, "brand new doc")], SCHEMA)
    st = dedup_gate._load_state(spark, state_c)
    acc, _keys = dedup_gate.gate_batch(batch, st)
    assert sorted(r["doc_id"] for r in acc.collect()) == [101]


def test_compact_state_standalone_and_rerun_safe(spark, tmp_path):
    """compact_state folds everything when no batch is in flight, and a
    second compaction of an already-compacted store is a no-op (not an
    error, no data loss)."""
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(1, A), (2, B)], SCHEMA)
    _, k0 = dedup_gate.gate_batch(
        b0, spark.createDataFrame([], "doc long, bk string")
    )
    k0.write.mode("overwrite").parquet(os.path.join(state, "batch_id=0"))
    b1 = spark.createDataFrame([(3, C)], SCHEMA)
    _, k1 = dedup_gate.gate_batch(b1, dedup_gate._load_state(spark, state))
    k1.write.mode("overwrite").parquet(os.path.join(state, "batch_id=1"))

    before = sorted(
        (r["doc"], r["bk"])
        for r in dedup_gate._load_state(spark, state).collect()
    )
    dedup_gate.compact_state(spark, state)
    after = sorted(
        (r["doc"], r["bk"])
        for r in dedup_gate._load_state(spark, state).collect()
    )
    assert before == after
    assert len(drain.state_subdirs(state)) == 1

    dedup_gate.compact_state(spark, state)  # no-op on a single dir
    again = sorted(
        (r["doc"], r["bk"])
        for r in dedup_gate._load_state(spark, state).collect()
    )
    assert again == after


def test_compact_state_multi_file_fold_preserves_decisions(spark, tmp_path):
    """The generation fold is a parallel write, not a coalesce(1): with
    an explicit partition count (bypassing AQE's small-data coalescing)
    the generation dir holds MULTIPLE part files, and gate decisions
    against the multi-file state are identical to the pre-fold state —
    the state set is file-layout-blind by construction."""
    state = str(tmp_path / "state")
    docs = [(i, f"{t} padded with shared vocabulary tokens {i % 3}")
            for i, t in enumerate([A, B, C, A + " x", B + " y", C + " z"])]
    for bid, row in enumerate(docs):
        _, keys = dedup_gate.gate_batch(
            spark.createDataFrame([row], SCHEMA),
            dedup_gate._load_state(spark, state),
        )
        keys.write.mode("overwrite").parquet(
            os.path.join(state, f"batch_id={bid}")
        )

    probe = spark.createDataFrame(
        [(100, A), (101, "entirely novel text never seen before now")],
        SCHEMA,
    )
    acc_before, _ = dedup_gate.gate_batch(
        probe, dedup_gate._load_state(spark, state)
    )
    before = sorted(r["doc_id"] for r in acc_before.collect())

    dedup_gate.compact_state(spark, state, num_partitions=8)
    gen_dirs = [
        d for d in drain.state_subdirs(state) if "batch_id=-" in d
    ]
    assert len(drain.state_subdirs(state)) == 1 and gen_dirs
    part_files = [
        f for f in os.listdir(gen_dirs[0]) if f.startswith("part-")
    ]
    assert len(part_files) > 1, (
        f"expected a multi-file generation fold, got {part_files}"
    )

    acc_after, _ = dedup_gate.gate_batch(
        probe, dedup_gate._load_state(spark, state)
    )
    assert sorted(r["doc_id"] for r in acc_after.collect()) == before


def test_gate_batch_quality_floor_composes_with_dedup(spark):
    """min_quality rejects junk BEFORE bucket claiming: a junk doc must
    not block a later good near-copy, and quality rejects don't enter
    state."""
    good = (
        "the analytics engine reads parquet tables and aggregates daily "
        "event counts for reporting dashboards with stable results"
    )
    junk = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"  # pure punctuation
    state0 = spark.createDataFrame([], "doc long, bk string")

    # batch 1: junk only → nothing admitted, nothing claimed
    b1 = spark.createDataFrame([(1, junk)], SCHEMA)
    acc1, keys1 = dedup_gate.gate_batch(b1, state0, min_quality=0.5)
    assert acc1.count() == 0 and keys1.count() == 0

    # batch 2: the good doc + its exact copy → first-wins dedup still
    # applies among quality survivors
    b2 = spark.createDataFrame([(2, good), (3, good)], SCHEMA)
    acc2, keys2 = dedup_gate.gate_batch(b2, keys1, min_quality=0.5)
    assert sorted(r["doc_id"] for r in acc2.collect()) == [2]
    assert set(r["doc"] for r in keys2.collect()) == {2}

    # without the floor, the junk doc WOULD be admitted (control)
    acc_ctl, _ = dedup_gate.gate_batch(b1, state0)
    assert acc_ctl.count() == 1


# -- signature-VERIFIED gate --------------------------------------------------

# A crafted pair sharing exactly one MinHash band (bucket collision →
# the raw gate rejects) while matching only 5/12 signature positions
# (estimate 0.4167 < 0.5 → the verified gate admits). Found by
# deterministic search over the shared digest family; the values are
# stable because the hash family is content-addressed.
BAND_BASE = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi "
    "omicron pi rho sigma tau upsilon"
)
BAND_FP = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu w90x7 "
    "w90x6 w90x5 w90x4 w90x3 w90x2 w90x1 w90x0"
)


def test_gate_verified_admits_bucket_collision_below_threshold(spark):
    """The policy difference that justifies storing signatures: a
    one-band false positive is ADMITTED by the verified gate (estimate
    below threshold) but rejected by the raw bucket gate; a true
    near-copy (estimate 1.0) is rejected by both."""
    batch = spark.createDataFrame(
        [(1, BAND_BASE), (2, BAND_FP), (3, BAND_BASE)], SCHEMA
    )
    raw_acc, _ = dedup_gate.gate_batch(
        spark.createDataFrame([(1, BAND_BASE), (2, BAND_FP)], SCHEMA),
        spark.createDataFrame([], "doc long, bk string"),
        num_hashes=12,
        bands=4,
    )
    assert [r["doc_id"] for r in raw_acc.collect()] == [1]

    state = spark.createDataFrame([], TEXT.state.schema({"num_hashes": 12}))
    acc, sigs, dec = dedup_gate.gate_batch_verified(batch, state)
    assert sorted(r["doc_id"] for r in acc.collect()) == [1, 2]
    assert sorted(r["doc"] for r in sigs.collect()) == [1, 2]
    got = {r["doc"]: r["admitted"] for r in dec.collect()}
    assert got == {1: True, 2: True, 3: False}

    # and against PRIOR state: a later arrival of the false-positive
    # text is admitted, a later true copy is rejected
    acc2, _, _ = dedup_gate.gate_batch_verified(
        spark.createDataFrame([(10, BAND_FP), (11, BAND_BASE)], SCHEMA),
        spark.createDataFrame(
            [(1, BAND_BASE)], SCHEMA
        ).transform(
            lambda d: __import__(
                "reddit_apache_airflow_postgres_pipeline_spark.operators.neardup",
                fromlist=["minhash_signature"],
            ).minhash_signature(d, "doc_id", "text", 3, 12)
        ),
    )
    assert sorted(r["doc_id"] for r in acc2.collect()) == [10]


def test_verified_gate_stream_matches_batch_replay(spark, tmp_path):
    """Stream-vs-batch parity for the verified gate: sf0.001 documents
    split into 3 generation files (doc_id % 3, the registry replay's
    arrival order) and drained through run_verified_gate_available_now
    admit EXACTLY the docs q_neardup_gate_replay admits; a restart
    drains nothing."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ml import (
        q_neardup_gate_replay,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for g in range(3):
        rows = [
            (r["doc_id"], r["text"])
            for r in docs.filter(docs.doc_id % 3 == g).collect()
        ]
        _write(spark, os.path.join(inbox, f"g{g}.parquet"), rows)
        past = __import__("time").time() - (30 - 10 * g)
        os.utime(os.path.join(inbox, f"g{g}.parquet"), (past, past))

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )
    streamed = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=*")).collect()
    }
    want = {
        r["doc"]
        for r in q_neardup_gate_replay(spark, "/root/testdata/sf0.001").collect()
        if r["admitted"]
    }
    assert streamed == want

    before = sorted(os.listdir(state))
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )
    assert sorted(os.listdir(state)) == before


def test_verified_gate_meta_guard_and_compaction(spark, tmp_path):
    """A redeployed drain cannot silently change the gate's geometry
    (state meta mismatch fails loudly), and signature-state compaction
    folds batch dirs into a negative generation without changing later
    decisions."""
    import pytest as _pt

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write(spark, os.path.join(inbox, "f0.parquet"), [(1, A), (2, B)])
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )
    with _pt.raises(ValueError, match="format mismatch"):
        dedup_gate.run_verified_gate_available_now(
            spark, inbox, SCHEMA, out, state, str(tmp_path / "ckpt2"),
            num_hashes=8, bands=4,
        )

    # more files than the compaction threshold: state folds, the gate
    # still rejects a copy of an already-folded doc
    for i, (did, txt) in enumerate([(10, C), (11, A), (12, BAND_BASE)]):
        _write(spark, os.path.join(inbox, f"m{i}.parquet"), [(did, txt)])
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt, compact_after_dirs=2
    )
    gens = [d for d in os.listdir(state) if d.startswith("batch_id=-")]
    assert gens, "expected a folded generation dir"
    _write(spark, os.path.join(inbox, "late.parquet"), [(20, A), (21, BAND_FP)])
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt, compact_after_dirs=100
    )
    accepted = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "batch_id=*")).collect()
    }
    assert 20 not in accepted  # copy of folded doc 1/11 still rejected
    assert 21 in accepted  # bucket-collision false positive admitted


def test_gate_verified_rejects_redelivered_accepted_id(spark):
    """A re-delivered file carrying an ALREADY-ACCEPTED doc_id (same
    text, new file name — the checkpoint dedupes files, not rows) must
    be rejected by its own prior signature, exactly like the raw bucket
    gate's bk semi-join. Regression pin for the cross-state self-pair
    exclusion (odoc != doc) that silently admitted the duplicate."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        minhash_signature,
    )

    state = minhash_signature(
        spark.createDataFrame([(1, A), (2, B)], SCHEMA), "doc_id", "text", 3, 12
    )
    # batch re-delivers doc 1 verbatim plus one novel doc
    batch = spark.createDataFrame([(1, A), (3, C)], SCHEMA)
    acc, sigs, dec = dedup_gate.gate_batch_verified(batch, state)
    assert [r["doc_id"] for r in acc.collect()] == [3]
    assert [r["doc"] for r in sigs.collect()] == [3]
    got = {r["doc"]: r["admitted"] for r in dec.collect()}
    assert got == {1: False, 3: True}

    # raw bucket gate agrees on the same re-delivery
    raw_state = dedup_gate.minhash_band_keys(
        spark.createDataFrame([(1, A), (2, B)], SCHEMA)
    ).select("doc", "bk")
    raw_acc, _ = dedup_gate.gate_batch(batch, raw_state)
    assert [r["doc_id"] for r in raw_acc.collect()] == [3]


def test_verified_gate_stream_persists_dup_of_attribution(spark, tmp_path):
    """dup_of_dir arms streaming rejection ATTRIBUTION: the drained
    blocker logs, ranked exactly like the replay oracle (highest est,
    smallest blocker id on ties), equal q_neardup_gate_dup_of on the
    same 3-generation arrival order — and a restart drains nothing."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ml import (
        q_neardup_gate_dup_of,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for g in range(3):
        rows = [
            (r["doc_id"], r["text"])
            for r in docs.filter(docs.doc_id % 3 == g).collect()
        ]
        _write(spark, os.path.join(inbox, f"g{g}.parquet"), rows)
        past = __import__("time").time() - (30 - 10 * g)
        os.utime(os.path.join(inbox, f"g{g}.parquet"), (past, past))

    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dup_of = str(tmp_path / "dup_of")
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt, dup_of_dir=dup_of
    )
    logs = spark.read.parquet(os.path.join(dup_of, "batch_id=*"))
    w = Window.partitionBy("doc").orderBy(F.desc("est"), F.asc("odoc"))
    got = {
        (r["doc"], r["dup_of"], r["est"])
        for r in logs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc", F.col("odoc").alias("dup_of"), F.round("est", 6).alias("est"))
        .collect()
    }
    want = {
        (r["doc"], r["dup_of"], r["est"])
        for r in q_neardup_gate_dup_of(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want and got

    before = {
        d: sorted(os.listdir(os.path.join(dup_of, d)))
        for d in os.listdir(dup_of)
    }
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt, dup_of_dir=dup_of
    )
    after = {
        d: sorted(os.listdir(os.path.join(dup_of, d)))
        for d in os.listdir(dup_of)
    }
    assert after == before


def test_bucketed_state_identical_admissions_no_state_shuffle(spark, tmp_path):
    """The 100 TB state layout made real: the raw gate's accepted-band
    store as a bucketed table on bk gives (a) IDENTICAL admissions to
    the flat layout and (b) a per-batch probe whose state side runs
    with NO Exchange — the distinct folds partial+final directly over
    the bucketed scan, so the store is scanned, never re-shuffled."""
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write(spark, os.path.join(inbox, "f0.parquet"),
           [(1, A), (2, B), (3, C)])
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dedup_gate.run_gate_available_now(spark, inbox, SCHEMA, out, state, ckpt)

    bucketed = dedup_gate.bucket_state(
        spark, state, "t_gate_state_b", str(tmp_path / "bstate"), num_buckets=4
    )
    flat = dedup_gate._load_state(spark, state)
    batch = spark.createDataFrame([(10, A), (11, "totally new doc text")], SCHEMA)
    acc_flat, _ = dedup_gate.gate_batch(batch, flat)
    acc_bkt, _ = dedup_gate.gate_batch(batch, bucketed)
    assert (
        sorted(r["doc_id"] for r in acc_flat.collect())
        == sorted(r["doc_id"] for r in acc_bkt.collect())
        == [11]
    )

    # plan: the probe against the bucketed table must not shuffle the
    # state side — no Exchange on bk anywhere (the flat layout needs
    # one for the same distinct)
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        minhash_band_keys,
    )

    keys = minhash_band_keys(batch).select("doc", "bk").localCheckpoint()

    def _probe_plan(st):
        probe = keys.join(st.select("bk").distinct(), "bk", "left_semi")
        return spark._jvm.PythonSQLUtils.explainString(
            probe._jdf.queryExecution(), "formatted"
        )

    bplan = _probe_plan(bucketed)
    assert "Bucketed: true" in bplan
    assert "hashpartitioning(bk" not in bplan
    fplan = _probe_plan(flat)
    assert "hashpartitioning(bk" in fplan

    spark.sql("DROP TABLE IF EXISTS t_gate_state_b")


def test_bucketed_sig_state_verified_gate_parity(spark, tmp_path):
    """Verified-gate bucketed layout: the derived band-key table (on
    bk) and signature table (on doc) drive gate_batch_verified to the
    SAME admissions and blocker attribution as the flat store, with
    both probes reading bucketed scans."""
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write(spark, os.path.join(inbox, "f0.parquet"),
           [(1, A), (2, B), (3, BAND_BASE)])
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt
    )

    keys_t, sigs_t = sg.bucket_gate_state(
        spark, state, "t_vgate", str(tmp_path / "bsig"), num_buckets=4
    )
    flat = TEXT.state.load(spark, state, {"num_hashes": 12})
    batch = spark.createDataFrame(
        [(10, A), (11, "totally new doc text"), (12, BAND_BASE)], SCHEMA
    )
    accs = {}
    for label, st, skeys in (("flat", flat, None), ("bucketed", sigs_t, keys_t)):
        acc, _, _, blk = dedup_gate.gate_batch_verified_attributed(
            batch, st, state_keys=skeys
        )
        accs[label] = (
            sorted(r["doc_id"] for r in acc.collect()),
            sorted((r["doc"], r["odoc"]) for r in blk.collect()),
        )
    assert accs["flat"] == accs["bucketed"]
    assert accs["flat"][0] == [11]  # 10 dups state doc 1, 12 dups doc 3

    _, _, _, blk = dedup_gate.gate_batch_verified_attributed(
        batch, sigs_t, state_keys=keys_t
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        blk._jdf.queryExecution(), "formatted"
    )
    # at fixture scale autoBucketedScan bypasses bucketing on a side
    # that gets broadcast anyway; at least one state probe must read
    # bucketed, and BOTH tables must carry bucket metadata (the layout
    # the planner uses whenever the side is too big to broadcast)
    assert "Bucketed: true" in plan
    for t in ("t_vgate_keys", "t_vgate_sigs"):
        desc = "\n".join(
            f"{r['col_name']} {r['data_type']}"
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        )
        assert "Num Buckets 4" in desc, desc

    spark.sql("DROP TABLE IF EXISTS t_vgate_keys")
    spark.sql("DROP TABLE IF EXISTS t_vgate_sigs")


def test_admission_rate_drift_stream_matches_replay(spark, tmp_path):
    """The admission-rate monitor over DRAINED decision logs equals the
    oracle-paired replay relation (q_gate_admission_drift: gen 0 as
    reference, last gen as current), and the alert hook reports the
    summed PSI with the threshold decision."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_ml import (
        q_gate_admission_drift,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    for g in range(3):
        rows = [
            (r["doc_id"], r["text"])
            for r in docs.filter(docs.doc_id % 3 == g).collect()
        ]
        _write(spark, os.path.join(inbox, f"g{g}.parquet"), rows)
        past = __import__("time").time() - (30 - 10 * g)
        os.utime(os.path.join(inbox, f"g{g}.parquet"), (past, past))
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dec_dir = str(tmp_path / "decisions")
    dedup_gate.run_verified_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt, decisions_dir=dec_dir
    )

    got = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["p_ref"], r["p_cur"], r["psi_term"])
        for r in dedup_gate.admission_rate_drift(
            spark, dec_dir, ref_max_batch=0, cur_min_batch=2
        ).collect()
    }
    want = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["p_ref"], r["p_cur"], r["psi_term"])
        for r in q_gate_admission_drift(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want and set(got) == {0, 1}

    alert = dedup_gate.admission_drift_alert(
        spark, dec_dir, ref_max_batch=0, cur_min_batch=2, threshold=0.0
    )
    assert alert["psi"] == round(
        sum(v[4] for v in want.values()), 6
    )
    assert alert["drifted"] is (alert["psi"] > 0.0)
    assert alert["n_ref"] == sum(v[0] for v in want.values())
    assert alert["n_cur"] == sum(v[1] for v in want.values())


def test_raw_gate_decisions_log_feeds_admission_drift(spark, tmp_path):
    """The raw bucket gate (the chains' default policy) persists the
    family decision log too: per-batch (doc, admitted) matching the
    drained accepted set, consumable by admission_rate_drift."""
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _write(spark, os.path.join(inbox, "f0.parquet"), [(1, A), (2, A), (3, B)])
    _write(spark, os.path.join(inbox, "f1.parquet"), [(4, A), (5, C)])
    os.utime(os.path.join(inbox, "f0.parquet"),
             (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(inbox, "f1.parquet"),
             (1_700_000_060, 1_700_000_060))
    out, state, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    dec_dir = str(tmp_path / "decisions")
    dedup_gate.run_gate_available_now(
        spark, inbox, SCHEMA, out, state, ckpt, decisions_dir=dec_dir
    )
    dec = {
        (r["batch_id"], r["doc"]): r["admitted"]
        for r in spark.read.parquet(dec_dir).collect()
    }
    assert dec == {
        (0, 1): True, (0, 2): False, (0, 3): True,
        (1, 4): False, (1, 5): True,
    }
    alert = dedup_gate.admission_drift_alert(
        spark, dec_dir, ref_max_batch=0, threshold=10.0
    )
    assert alert["n_ref"] == 3 and alert["n_cur"] == 2
    assert alert["drifted"] is False


def test_hybrid_bucketed_drain_parity_refresh_and_fallback(spark, tmp_path):
    """The hybrid state layout in the DRAIN: with aggressive compaction
    and `bucketed` armed, (a) admissions equal the flat drain and the
    oracle replay, (b) each fold refreshes the bucketed tables and the
    marker tracks the generation, (c) a deliberately-stale marker falls
    back to the flat read without changing a decision."""
    import json

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")

    def _drain(tag, bucketed):
        inbox = str(tmp_path / f"inbox_{tag}")
        os.makedirs(inbox)
        for g in range(3):
            rows = [
                (r["doc_id"], r["text"])
                for r in docs.filter(docs.doc_id % 3 == g).collect()
            ]
            p = os.path.join(inbox, f"g{g}.parquet")
            _write(spark, p, rows)
            os.utime(p, (1_700_000_000 + 60 * g,) * 2)
        out = str(tmp_path / f"out_{tag}")
        dedup_gate.run_verified_gate_available_now(
            spark, inbox, SCHEMA, out,
            str(tmp_path / f"state_{tag}"), str(tmp_path / f"ckpt_{tag}"),
            compact_after_dirs=1, bucketed=bucketed,
        )
        return {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(out, "batch_id=*")).collect()
        }

    bopt = {
        "table_prefix": "t_hybrid",
        "path": str(tmp_path / "btables"),
        "num_buckets": 4,
    }
    got_hybrid = _drain("hyb", bopt)
    got_flat = _drain("flat", None)
    assert got_hybrid == got_flat

    # the fold refreshed the tables: marker mirrors the newest generation
    marker = os.path.join(bopt["path"], sg.BUCKETED_MARKER)
    with open(marker) as f:
        mirrored = json.load(f)["gen"]
    assert mirrored == sg._newest_gen_id(str(tmp_path / "state_hyb"))
    assert spark.table("t_hybrid_sigs").count() > 0

    # stale marker → flat fallback, identical decisions
    with open(marker, "w") as f:
        json.dump({"gen": -999}, f)
    batch = spark.createDataFrame([(9001, A), (9002, "fresh text")], SCHEMA)
    st, sk = sg.load_state(
        spark, str(tmp_path / "state_hyb"), TEXT,
        {"num_hashes": 12, "bands": 4}, bucketed=bopt,
    )
    assert sk is None  # fell back to flat
    acc, _, _ = dedup_gate.gate_batch_verified(batch, st)
    flat_state = TEXT.state.load(
        spark, str(tmp_path / "state_hyb"), {"num_hashes": 12}
    )
    acc_flat, _, _ = dedup_gate.gate_batch_verified(batch, flat_state)
    assert sorted(r["doc_id"] for r in acc.collect()) == sorted(
        r["doc_id"] for r in acc_flat.collect()
    )

    spark.sql("DROP TABLE IF EXISTS t_hybrid_sigs")
    spark.sql("DROP TABLE IF EXISTS t_hybrid_keys")


def test_broadcast_batch_probe_parity_and_no_state_shuffle(spark, tmp_path):
    """The big-state probe flip: broadcast_batch=True evaluates the
    same state semi-join from the other side — identical admissions,
    but the state store is SCANNED through a map-side hash join instead
    of being distinct-shuffled every micro-batch."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        minhash_band_keys,
    )

    state_keys = minhash_band_keys(docs.filter("doc_id % 2 = 0"))
    state_path = str(tmp_path / "state_flat")
    state_keys.select("doc", "bk").write.mode("overwrite").parquet(state_path)
    state = spark.read.parquet(state_path)
    batch = docs.filter("doc_id % 2 = 1").limit(40)

    acc_a, keys_a = dedup_gate.gate_batch(batch, state)
    acc_b, keys_b = dedup_gate.gate_batch(batch, state, broadcast_batch=True)
    assert sorted(r["doc_id"] for r in acc_a.collect()) == sorted(
        r["doc_id"] for r in acc_b.collect()
    )
    assert sorted(r["doc"] for r in keys_a.collect()) == sorted(
        r["doc"] for r in keys_b.collect()
    )

    # plan: the flipped probe must not shuffle the state on bk — the
    # only bk exchange allowed is the batch side's own key derivation
    bkeys = minhash_band_keys(batch).select("doc", "bk").localCheckpoint()
    from pyspark.sql import functions as F

    flipped = (
        state.select("bk")
        .join(F.broadcast(bkeys), "bk")
        .select("doc")
        .distinct()
    )
    fplan = spark._jvm.PythonSQLUtils.explainString(
        flipped._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(bk" not in fplan
    assert "BroadcastHashJoin" in fplan
    default = bkeys.join(state.select("bk").distinct(), "bk", "left_semi")
    dplan = spark._jvm.PythonSQLUtils.explainString(
        default._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(bk" in dplan  # the shuffle the flip removes


def test_verified_broadcast_batch_parity_and_no_state_shuffle(spark):
    """The VERIFIED gate's big-state probe flip: broadcast_batch=True
    yields identical admissions and blocker attribution, with the
    signature store's keys AND signatures streamed through map-side
    hash joins — no bk or odoc exchange on the state side."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        band_keys_of_signature,
        minhash_signature,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    state = minhash_signature(
        docs.filter("doc_id % 2 = 0"), "doc_id", "text", 3, 12
    ).localCheckpoint()
    batch = docs.filter("doc_id % 2 = 1").limit(40)

    got = {}
    for label, bb in (("default", False), ("flipped", True)):
        acc, _, _, blk = dedup_gate.gate_batch_verified_attributed(
            batch, state, broadcast_batch=bb
        )
        got[label] = (
            sorted(r["doc_id"] for r in acc.collect()),
            sorted((r["doc"], r["odoc"]) for r in blk.collect()),
        )
    assert got["default"] == got["flipped"]

    # plan: the cross-state direction alone must not shuffle the state
    bsig = minhash_signature(batch, "doc_id", "text", 3, 12).localCheckpoint()
    bkeys = band_keys_of_signature(bsig, 12, 4).localCheckpoint()
    skeys = band_keys_of_signature(state, 12, 4)
    blk = sg.blockers(
        TEXT, {"num_hashes": 12, "threshold": 0.5}, bkeys, bsig, skeys, state,
        ordered=False, broadcast_batch=True,
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        blk._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(bk" not in plan
    assert "hashpartitioning(odoc" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
