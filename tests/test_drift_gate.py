"""Streaming PSI drift gate: in-distribution batches admitted, drifted
batches quarantined (kept, not dropped), decisions logged, exactly-once
across restarts."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.streaming import drift_gate

SCHEMA = "doc_id long, text string"

# reference corpus: ~40-token docs (bin 2 at width 20)
NORMAL = " ".join(["tok"] * 40)
SHORT = "tok tok"  # bin 0 — a degenerate-crawl symptom


_MTIME_SEQ = [0]


def _stamp(path):
    # maxFilesPerTrigger=1 orders inbox files by modification time;
    # two pyarrow writes can tie within Spark's ms granularity and flip
    # batch 0/1 (flaky rows[i] assertions). Force strictly increasing,
    # whole-second-apart mtimes in write order.
    _MTIME_SEQ[0] += 1
    t = 1_600_000_000 + _MTIME_SEQ[0]
    os.utime(path, (t, t))


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
    _stamp(path)


def _stats(batch, ref, **kw):
    """The pooled gate's one batch_stats row: (psi, [ks,] n_docs)."""
    (row,) = drift_gate.batch_stats(batch, ref, **kw).collect()
    return tuple(row)


def test_batch_psi_zero_on_identical_distribution(spark):
    ref_df = spark.createDataFrame([(i, NORMAL) for i in range(50)], SCHEMA)
    ref = drift_gate.reference_counts(ref_df)
    psi, n = _stats(ref_df, ref)
    assert psi == 0.0 and n == 50
    drifted = spark.createDataFrame([(i, SHORT) for i in range(50)], SCHEMA)
    assert _stats(drifted, ref)[0] > 0.25


def test_write_reference_roundtrip_is_bounded_and_psi_zero(spark, tmp_path):
    # the persisted reference must be the PRE-AGGREGATED (bin, n) form
    # (<= bins rows however large the snapshot) and round-trip through
    # batch_stats as PSI exactly 0.0 on the same data (VERDICT r5 #3)
    ref_path = str(tmp_path / "ref")
    snap = spark.createDataFrame(
        [(i, NORMAL) for i in range(80)] + [(100 + i, SHORT) for i in range(20)],
        SCHEMA,
    )
    drift_gate.write_reference(snap, ref_path, bins=10)
    persisted = spark.read.parquet(ref_path)
    assert persisted.count() <= 10
    assert sorted(persisted.columns) == ["bin", "n"]
    assert persisted.agg(F.sum("n")).collect()[0][0] == 100
    assert _stats(snap, persisted)[0] == 0.0


def test_gate_admits_normal_quarantines_drifted_and_logs(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL) for i in range(100)], SCHEMA), ref
    )
    _write(os.path.join(inbox, "f0.parquet"), [(i, NORMAL) for i in range(20)])
    _write(os.path.join(inbox, "f1.parquet"), [(100 + i, SHORT) for i in range(20)])
    drift_gate.run_drift_gate_available_now(
        spark, inbox, SCHEMA, out, ref, ckpt
    )
    admitted = spark.read.parquet(f"{out}/admitted")
    quarantined = spark.read.parquet(f"{out}/quarantined")
    assert admitted.count() == 20 and quarantined.count() == 20
    assert admitted.agg(F.max("doc_id")).collect()[0][0] < 100  # normal file
    assert quarantined.agg(F.min("doc_id")).collect()[0][0] >= 100
    decisions = {
        r["admitted"]: r for r in spark.read.parquet(f"{out}/decisions").collect()
    }
    assert decisions[True]["psi"] <= 0.25 < decisions[False]["psi"]
    assert decisions[True]["n_docs"] == decisions[False]["n_docs"] == 20

    def routes():
        # the pooled gate writes ONE route dir per batch: never an empty
        # admitted/ or quarantined/ batch dir (no extra write job)
        return {
            d: sorted(x for x in os.listdir(f"{out}/{d}") if x.startswith("batch_id="))
            for d in ("admitted", "quarantined")
        }

    assert routes() == {"admitted": ["batch_id=0"], "quarantined": ["batch_id=1"]}

    # restart: nothing reprocessed, a new drifted file gates correctly
    _write(os.path.join(inbox, "f2.parquet"), [(200 + i, SHORT) for i in range(10)])
    drift_gate.run_drift_gate_available_now(
        spark, inbox, SCHEMA, out, ref, ckpt
    )
    assert spark.read.parquet(f"{out}/admitted").count() == 20  # unchanged
    assert spark.read.parquet(f"{out}/quarantined").count() == 30
    assert spark.read.parquet(f"{out}/decisions").count() == 3
    assert routes() == {
        "admitted": ["batch_id=0"],
        "quarantined": ["batch_id=1", "batch_id=2"],
    }


GSCHEMA = "doc_id long, lang string, text string"


def _gwrite(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "lang": pa.array([r[1] for r in rows], pa.string()),
                "text": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        path,
    )
    _stamp(path)


def _gref(spark):
    # en and de both validated at the ~40-token profile
    return spark.createDataFrame(
        [(i, "en", NORMAL) for i in range(50)]
        + [(100 + i, "de", NORMAL) for i in range(50)],
        GSCHEMA,
    )


def test_group_gate_quarantines_only_the_drifted_group(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    drift_gate.write_reference(_gref(spark), ref, group_col="lang")
    # one mixed batch: en stays on-profile, de collapses to short docs,
    # fr is a feed the reference has never seen, one NULL-group row
    _gwrite(
        os.path.join(inbox, "f0.parquet"),
        [(1, "en", NORMAL), (2, "en", NORMAL)]
        + [(10 + i, "de", SHORT) for i in range(10)]
        + [(50, "fr", NORMAL), (60, None, NORMAL)],
    )
    drift_gate.run_drift_gate_available_now(
        spark, inbox, GSCHEMA, out, ref, ckpt, group_col="lang"
    )
    adm = spark.read.parquet(os.path.join(out, "admitted", "batch_id=*"))
    qua = spark.read.parquet(os.path.join(out, "quarantined", "batch_id=*"))
    assert {r["doc_id"] for r in adm.collect()} == {1, 2}
    # drifted de rows, the unknown fr feed, and the NULL group all held
    assert {r["doc_id"] for r in qua.collect()} == set(range(10, 20)) | {50, 60}
    dec = {
        r["lang"]: r
        for r in spark.read.parquet(
            os.path.join(out, "decisions", "batch_id=*")
        ).collect()
    }
    assert dec["en"]["admitted"] and dec["en"]["n_docs"] == 2
    assert not dec["de"]["admitted"] and dec["de"]["n_docs"] == 10
    assert not dec["fr"]["admitted"]  # unknown feed: all-epsilon reference

    # restart: checkpoint holds, nothing reprocessed
    drift_gate.run_drift_gate_available_now(
        spark, inbox, GSCHEMA, out, ref, ckpt, group_col="lang"
    )
    assert (
        spark.read.parquet(os.path.join(out, "admitted", "batch_id=*")).count()
        == 2
    )


def test_group_gate_int_key_keeps_its_type_in_decisions(spark, tmp_path):
    """A non-string feed column: the decision rows take the key's type
    from the batch schema, so an int-keyed feed drains, commits, and
    reads back with int keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType

    schema = "doc_id long, feed int, text string"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame(
            [(i, 1 + i % 2, NORMAL) for i in range(100)], schema
        ),
        ref,
        group_col="feed",
    )
    rows = [(i, 1, NORMAL) for i in range(10)] + [
        (100 + i, 2, SHORT) for i in range(10)
    ]
    path = os.path.join(inbox, "f0.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "feed": pa.array([r[1] for r in rows], pa.int32()),
                "text": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        path,
    )
    drift_gate.run_drift_gate_available_now(
        spark, inbox, schema, out, ref, str(tmp_path / "ckpt"), group_col="feed"
    )
    dec = spark.read.parquet(os.path.join(out, "decisions", "batch_id=*"))
    assert dec.schema["feed"].dataType == IntegerType()
    assert {r["feed"]: (r["admitted"], r["n_docs"]) for r in dec.collect()} == {
        1: (True, 10),
        2: (False, 10),
    }
    adm = spark.read.parquet(os.path.join(out, "admitted", "batch_id=*"))
    assert {r["feed"] for r in adm.collect()} == {1}


def test_group_gate_matches_per_group_scalar_psi(spark):
    """Per-group stats equal running the pooled form once per group —
    the keyed relation is a partitioned computation, not a different
    formula. The kernel contract underneath: for a key with one value,
    the keyed PSI, KS and refresh rows minus the key column equal the
    ``key=()`` rows; ``key=()`` emits ``bins`` epsilon-floored rows even
    with an empty side (the pooled gate's empty-batch decision row
    rests on it); a keyed kernel emits rows only for groups present on
    some side."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import curation

    ref_df = _gref(spark)
    batch = spark.createDataFrame(
        [(1, "en", NORMAL), (2, "en", NORMAL)]
        + [(10 + i, "de", SHORT) for i in range(10)],
        GSCHEMA,
    )
    lang = ("lang",)
    for ks in (False, True):
        grouped = {
            r["lang"]: tuple(r)[1:]
            for r in drift_gate.batch_stats(
                batch,
                drift_gate.reference_counts(ref_df, group_col="lang"),
                group_col="lang",
                ks=ks,
            ).collect()
        }
        assert set(grouped) == {"en", "de"}
        for g in grouped:
            want = _stats(
                batch.filter(F.col("lang") == g),
                drift_gate.reference_counts(ref_df.filter(F.col("lang") == g)),
                ks=ks,
            )
            assert grouped[g] == want, (g, ks)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    # one key value: keyed rows minus the key == the key=() rows
    ref_de = drift_gate.reference_counts(
        ref_df.filter(F.col("lang") == "de"), group_col="lang"
    )
    cur_de = drift_gate.reference_counts(
        batch.filter(F.col("lang") == "de"), group_col="lang"
    )
    for kernel in (curation.psi_drift_counts, curation.ks_drift_counts):
        assert rows(kernel(ref_de, cur_de, key=lang).drop("lang")) == rows(
            kernel(ref_de.drop("lang"), cur_de.drop("lang"))
        )
    per_batch = spark.createDataFrame(
        [("de", b, b % 3, 5 + b) for b in range(4)],
        "lang string, b int, bin int, n bigint",
    )
    for min_batches in (2, 5):  # window satisfied / hysteresis fallback
        assert rows(
            curation.refreshed_reference_counts(
                per_batch, ref_de, window=3, min_batches=min_batches, key=lang
            ).drop("lang")
        ) == rows(
            curation.refreshed_reference_counts(
                per_batch.drop("lang"), ref_de.drop("lang"), window=3,
                min_batches=min_batches,
            )
        )

    # key=(): an empty current side, and both sides empty, still give
    # `bins` rows floored at epsilon — one pooled decision per batch
    pooled = ref_de.drop("lang")
    empty = pooled.limit(0)
    for r, c in ((pooled, empty), (empty, empty)):
        psi = curation.psi_drift_counts(r, c, bins=10).collect()
        assert sorted(x["bin"] for x in psi) == list(range(10))
        assert all(x["n_cur"] == 0 and x["p_cur"] == 1e-4 for x in psi)
        ks = curation.ks_drift_counts(r, c, bins=10).collect()
        assert len(ks) == 10 and all(x["cdf_cur"] == 0.0 for x in ks)
    assert curation.psi_drift_counts(empty, empty, bins=10).agg(
        F.sum("psi_term")
    ).collect()[0][0] == 0.0
    assert _stats(batch.limit(0).drop("lang"), pooled)[-1] == 0

    # keyed: rows exactly for the groups on either side, none for an
    # absent group — and none at all when both sides are empty
    full_ref = drift_gate.reference_counts(ref_df, group_col="lang")
    got = curation.psi_drift_counts(full_ref, cur_de, key=lang).collect()
    assert sorted({x["lang"] for x in got}) == ["de", "en"] and len(got) == 20
    assert curation.psi_drift_counts(
        full_ref.limit(0), cur_de.limit(0), key=lang
    ).count() == 0
    assert (
        drift_gate.batch_stats(
            batch.limit(0), full_ref, group_col="lang", ks=True
        ).count()
        == 0
    )


def test_group_reference_rejects_wrong_format(spark, tmp_path):
    import pytest

    ref = str(tmp_path / "ref")
    # ungrouped reference persisted where the grouped gate looks
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL) for i in range(10)], SCHEMA), ref
    )
    with pytest.raises(ValueError, match=r"\(lang, bin, n\) counts form"):
        drift_gate.run_drift_gate_available_now(
            spark, str(tmp_path / "in"), GSCHEMA, str(tmp_path / "o"),
            ref, str(tmp_path / "c"), group_col="lang",
        )


def test_ks_metric_catches_location_shift_and_matches_operator(spark):
    """The KS co-metric's reason to exist: a one-bin location shift of
    the WHOLE mass. Every doc moves bin 2 -> bin 3; batch_stats'
    ks must equal curation.ks_drift_counts' max(ks_term) exactly, hit
    1.0 (complete CDF displacement at bin 2), and the PSI for the same
    shift is finite/comparable — two metrics, one binned-count pass."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.curation import (
        ks_drift_counts,
    )

    ref_df = spark.createDataFrame([(i, NORMAL) for i in range(50)], SCHEMA)
    ref = drift_gate.reference_counts(ref_df)
    shifted = spark.createDataFrame(
        [(i, " ".join(["tok"] * 60)) for i in range(50)], SCHEMA  # bin 3
    )
    psi, ks, n = _stats(shifted, ref, ks=True)
    assert n == 50
    cur = drift_gate.reference_counts(shifted)
    want = (
        ks_drift_counts(ref, cur, bins=10)
        .agg(F.round(F.max("ks_term"), 6))
        .collect()[0][0]
    )
    assert ks == want == 1.0
    # identical distribution: both metrics zero
    psi0, ks0, _ = _stats(ref_df, ref, ks=True)
    assert psi0 == 0.0 and ks0 == 0.0


def test_gate_with_ks_threshold_quarantines_and_logs_ks(spark, tmp_path):
    """ks_threshold arms the second metric: decisions gain a ks column
    and admission requires BOTH psi and ks under their thresholds; the
    default path (no ks_threshold) keeps the old 3-column schema."""
    import os

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL) for i in range(100)], SCHEMA), ref
    )
    _write(os.path.join(inbox, "f0.parquet"), [(i, NORMAL) for i in range(20)])
    _write(
        os.path.join(inbox, "f1.parquet"),
        [(100 + i, " ".join(["tok"] * 60)) for i in range(20)],  # bin 3 shift
    )
    drift_gate.run_drift_gate_available_now(
        spark, inbox, SCHEMA, out, ref, ckpt,
        threshold=1e9,  # PSI alone would admit everything
        ks_threshold=0.5,
    )
    decisions = spark.read.parquet(f"{out}/decisions")
    assert "ks" in decisions.columns
    rows = {r["batch_id"]: r for r in decisions.collect()}
    assert rows[0]["admitted"] and rows[0]["ks"] == 0.0
    assert not rows[1]["admitted"] and rows[1]["ks"] == 1.0
    assert spark.read.parquet(f"{out}/quarantined").count() == 20


def test_group_gate_ks_quarantines_only_the_shifted_feed(spark, tmp_path):
    """Grouped KS co-metric: feed 'en' stays in-distribution, feed 'de'
    location-shifts one bin — with a huge PSI threshold (PSI alone
    admits both) the ks_threshold quarantines exactly the shifted
    feed's rows, and its decision row carries ks == 1.0."""
    import os

    gschema = "doc_id long, lang string, text string"
    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    snap = spark.createDataFrame(
        [(i, "en", NORMAL) for i in range(50)]
        + [(100 + i, "de", NORMAL) for i in range(50)],
        gschema,
    )
    drift_gate.write_reference(snap, ref, group_col="lang")
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [(i, "en", NORMAL) for i in range(20)] + [
        (100 + i, "de", " ".join(["tok"] * 60)) for i in range(20)  # bin 3
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "lang": pa.array([r[1] for r in rows], pa.string()),
                "text": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        os.path.join(inbox, "f0.parquet"),
    )
    drift_gate.run_drift_gate_available_now(
        spark, inbox, gschema, out, ref, ckpt, group_col="lang",
        threshold=1e9, ks_threshold=0.5,
    )
    adm = spark.read.parquet(f"{out}/admitted")
    qua = spark.read.parquet(f"{out}/quarantined")
    assert adm.count() == 20 and qua.count() == 20
    assert set(r["lang"] for r in adm.select("lang").distinct().collect()) == {"en"}
    assert set(r["lang"] for r in qua.select("lang").distinct().collect()) == {"de"}
    dec = {r["lang"]: r for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec["en"]["admitted"] and dec["en"]["ks"] == 0.0
    assert not dec["de"]["admitted"] and dec["de"]["ks"] == 1.0


def test_refresh_reference_rebaselines_from_admitted_window(spark, tmp_path):
    """refresh-then-gate == gate-on-new-reference: run the gate over a
    mixed inbox, refresh the reference from the newest admitted
    batches, and pin (a) the refreshed (bin, n) file equals the policy
    relation computed in batch (curation.refreshed_reference_counts),
    (b) gating a new batch against the refreshed file equals
    batch_stats against the batch-computed reference."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import curation

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL) for i in range(100)], SCHEMA), ref
    )
    # three in-distribution batches (admitted), one drifted (quarantined)
    _write(os.path.join(inbox, "f0.parquet"), [(i, NORMAL) for i in range(20)])
    _write(os.path.join(inbox, "f1.parquet"), [(100 + i, SHORT) for i in range(20)])
    _write(os.path.join(inbox, "f2.parquet"), [(200 + i, NORMAL) for i in range(30)])
    _write(os.path.join(inbox, "f3.parquet"), [(300 + i, NORMAL) for i in range(10)])
    drift_gate.run_drift_gate_available_now(
        spark, inbox, SCHEMA, out, ref, ckpt, threshold=0.25
    )
    assert spark.read.parquet(f"{out}/admitted").count() == 60

    # hysteresis first: more batches demanded than admitted → refuse,
    # reference file byte-stable
    before = sorted(map(tuple, spark.read.parquet(ref).collect()))
    assert not drift_gate.refresh_reference(
        spark, out, ref, window=5, min_batches=4
    )
    assert sorted(map(tuple, spark.read.parquet(ref).collect())) == before

    # real refresh: newest 2 admitted batches re-baseline
    assert drift_gate.refresh_reference(spark, out, ref, window=2, min_batches=2)
    got = sorted(map(tuple, spark.read.parquet(ref).collect()))

    # recompute via the policy relation on per-batch counts (the same
    # binning contract the gate uses)
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count

    adm = spark.read.parquet(f"{out}/admitted")
    per_batch = (
        adm.select(
            F.col("batch_id").alias("b"),
            F.least((token_count("text") / 20).cast("int"), F.lit(9)).alias(
                "bin"
            ),
        )
        .groupBy("b", "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    # fallback arg = the ORIGINAL frozen ref (unused here — the window
    # is satisfied — but passing the post-refresh file would be wrong)
    ref0_df = spark.createDataFrame(before, "bin int, n bigint")
    want_rel = curation.refreshed_reference_counts(
        per_batch, ref0_df, window=2, min_batches=2
    )
    want = sorted(map(tuple, want_rel.collect()))
    assert got == want

    # (b) gate-on-new-reference parity: a fresh batch gated against the
    # refreshed FILE equals gating against the batch-computed relation
    probe = spark.createDataFrame(
        [(900 + i, NORMAL) for i in range(15)], SCHEMA
    )
    psi_file, n_file = _stats(probe, spark.read.parquet(ref))
    psi_rel, n_rel = _stats(probe, want_rel)
    assert (psi_file, n_file) == (psi_rel, n_rel)
    assert n_file == 15


def test_refresh_reference_no_admitted_output_refuses(spark, tmp_path):
    assert not drift_gate.refresh_reference(
        spark, str(tmp_path / "missing"), str(tmp_path / "ref")
    )


def test_refreshed_reference_counts_validates_params(spark):
    import pytest

    from reddit_apache_airflow_postgres_pipeline_spark.operators import curation

    ref = spark.createDataFrame([(0, 10)], "bin int, n bigint")
    bc = spark.createDataFrame([(1, 0, 5)], "b int, bin int, n bigint")
    with pytest.raises(ValueError, match="must be positive"):
        curation.refreshed_reference_counts(bc, ref, window=0)
    with pytest.raises(ValueError, match="must be positive"):
        curation.refreshed_reference_counts(bc, ref, min_batches=0)


def test_refresh_group_reference_per_feed_hysteresis(spark, tmp_path):
    """Per-feed re-baselining: en stays healthy across 2 admitted
    batches and re-baselines; de drifts (quarantined both times, zero
    admitted batches) and MUST keep its frozen reference — one bad
    feed neither blocks the healthy feed's refresh nor poisons its
    own reference. Then a no-op refresh returns False."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import curation

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(inbox)
    drift_gate.write_reference(_gref(spark), ref, group_col="lang")
    frozen = {
        (r["lang"], r["bin"]): r["n"]
        for r in spark.read.parquet(ref).collect()
    }
    for i in range(2):
        _gwrite(
            os.path.join(inbox, f"f{i}.parquet"),
            [(100 * i + j, "en", NORMAL) for j in range(10)]
            + [(100 * i + 50 + j, "de", SHORT) for j in range(10)],
        )
    drift_gate.run_drift_gate_available_now(
        spark, inbox, GSCHEMA, out, ref, ckpt, group_col="lang"
    )
    adm = spark.read.parquet(f"{out}/admitted")
    assert {r["lang"] for r in adm.select("lang").distinct().collect()} == {"en"}

    assert drift_gate.refresh_reference(
        spark, out, ref, window=3, min_batches=2, group_col="lang"
    )
    got = {
        (r["lang"], r["bin"]): r["n"]
        for r in spark.read.parquet(ref).collect()
    }
    # de: frozen rows unchanged; en: re-baselined to the 20 admitted docs
    assert {k: v for k, v in got.items() if k[0] == "de"} == {
        k: v for k, v in frozen.items() if k[0] == "de"
    }
    assert sum(v for k, v in got.items() if k[0] == "en") == 20
    # and the file equals the policy relation computed in batch
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count

    per_batch = (
        adm.select(
            "lang",
            F.col("batch_id").alias("b"),
            F.least((token_count("text") / 20).cast("int"), F.lit(9)).alias(
                "bin"
            ),
        )
        .groupBy("lang", "b", "bin")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    frozen_df = spark.createDataFrame(
        [(k[0], k[1], v) for k, v in frozen.items()],
        "lang string, bin int, n bigint",
    )
    want = {
        (r["lang"], r["bin"]): r["n"]
        for r in curation.refreshed_reference_counts(
            per_batch, frozen_df, window=3, min_batches=2, key=("lang",)
        ).collect()
    }
    assert got == want

    # idempotent second call: nothing new admitted → no-op, file stable
    assert not drift_gate.refresh_reference(
        spark, out, ref, window=3, min_batches=3, group_col="lang"
    )
    assert {
        (r["lang"], r["bin"]): r["n"]
        for r in spark.read.parquet(ref).collect()
    } == got


def test_refresh_reference_validates_params_and_noop_returns_false(
    spark, tmp_path
):
    """r10 ADVICE closures: (a) both refresh wrappers reject
    non-positive window/min_batches BEFORE touching any file — a
    min_batches<=0 would make the hysteresis vacuous and overwrite the
    frozen reference with counts from zero batches; (b) the scalar
    refresh now shares the grouped form's no-op contract: a
    window-satisfied refresh that reproduces the live counts returns
    False and leaves the file byte-untouched."""
    import pytest

    with pytest.raises(ValueError, match="must be positive"):
        drift_gate.refresh_reference(
            spark, str(tmp_path / "o"), str(tmp_path / "r"), window=0
        )
    with pytest.raises(ValueError, match="must be positive"):
        drift_gate.refresh_reference(
            spark, str(tmp_path / "o"), str(tmp_path / "r"), min_batches=0
        )
    with pytest.raises(ValueError, match="must be positive"):
        drift_gate.refresh_reference(
            spark, str(tmp_path / "o"), str(tmp_path / "r"), min_batches=-1,
            group_col="lang",
        )

    inbox = str(tmp_path / "inbox")
    out = str(tmp_path / "out")
    ref = str(tmp_path / "ref")
    os.makedirs(inbox)
    drift_gate.write_reference(
        spark.createDataFrame([(i, NORMAL) for i in range(50)], SCHEMA), ref
    )
    for i in range(3):
        _write(
            os.path.join(inbox, f"f{i}.parquet"),
            [(100 * i + j, NORMAL) for j in range(10)],
        )
    drift_gate.run_drift_gate_available_now(
        spark, inbox, SCHEMA, out, ref, str(tmp_path / "ckpt")
    )
    # first refresh: counts change (150 docs -> 30 docs) -> True
    assert drift_gate.refresh_reference(spark, out, ref, window=3, min_batches=3)
    after = sorted(map(tuple, spark.read.parquet(ref).collect()))
    mtimes = {
        f: os.path.getmtime(os.path.join(ref, f)) for f in os.listdir(ref)
    }
    # second refresh over the same admitted window: candidate == live
    # reference -> no-op, False, file byte-untouched
    assert not drift_gate.refresh_reference(
        spark, out, ref, window=3, min_batches=3
    )
    assert sorted(map(tuple, spark.read.parquet(ref).collect())) == after
    assert {
        f: os.path.getmtime(os.path.join(ref, f)) for f in os.listdir(ref)
    } == mtimes
    # and no tmp dir left behind
    assert not os.path.exists(ref + ".refresh-tmp")


def test_regate_query_pins_the_admission_flip(spark):
    """q_drift_refresh_regate_by_group's reason to exist: the drifting
    ``en`` feed's next batch is QUARANTINED by the frozen reference but
    ADMITTED by the refreshed one (the refresh changed a real
    decision), while the stationary ``rest`` feed admits under both —
    one result exercising the flipped and unflipped paths (verified at
    all three SFs while designing the fixture; this pins sf0.001)."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.registry_curation import (
        q_drift_refresh_regate_by_group,
    )

    rows = {
        r["feed"]: r
        for r in q_drift_refresh_regate_by_group(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {"en", "rest"}
    en, rest = rows["en"], rows["rest"]
    assert not en["admitted_frozen"] and en["admitted_refreshed"]
    assert en["psi_refreshed"] < en["psi_frozen"]
    assert rest["admitted_frozen"] and rest["admitted_refreshed"]


def _mk_mix(spark, start_id, n_bin2, n_bin3):
    """n_bin2 docs of 40 tokens (bin 2) + n_bin3 docs of 60 tokens
    (bin 3) — exact engineered distributions, zero sampling noise."""
    t2 = "tok " * 40
    t3 = "tok " * 60
    rows = [(start_id + i, t2) for i in range(n_bin2)] + [
        (start_id + 1000 + i, t3) for i in range(n_bin3)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_in_drain_refresh_follows_legit_drift_and_matches_manual_sequence(
    spark, tmp_path
):
    """refresh_every: the gate re-baselines ITSELF mid-drain. The feed
    legitimately moves from 20% long-docs to 30% (admitted) and then
    50%: vs the frozen reference the 50% batches are quarantined
    (psi≈0.42 > 0.25), but after the in-drain refresh (triggered at
    batch 3, re-baselining onto the 30% mix) they gate at psi≈0.17 and
    ADMIT. Deterministic by construction (exact engineered counts).
    Also pins: (a) the same drain WITHOUT refresh_every quarantines
    those batches; (b) the composed drain equals the manual sequence
    drain → refresh_reference → drain, decision for decision, and
    leaves the identical reference file."""
    snapshot = _mk_mix(spark, 0, 80, 20)  # frozen: 20% long docs

    def _setup(tag):
        base = tmp_path / tag
        inbox = str(base / "inbox")
        os.makedirs(inbox)
        ref = str(base / "ref")
        drift_gate.write_reference(snapshot, ref)
        return inbox, str(base / "out"), ref, str(base / "ckpt")

    def _files(inbox, upto):
        # f0-f2: 30% long (mild, admitted); f3-f4: 50% long
        mixes = [(14, 6), (14, 6), (14, 6), (10, 10), (10, 10)][:upto]
        for i, (a, b) in enumerate(mixes):
            df = _mk_mix(spark, 10_000 * (i + 1), a, b)
            p = os.path.join(inbox, f"f{i}.parquet")
            _write(p, [(r["doc_id"], r["text"]) for r in df.collect()])
            past = time.time() - (10 - i) * 10
            os.utime(p, (past, past))

    # (a) plain gate: the 50% batches are quarantined vs frozen
    inbox, out, ref, ckpt = _setup("plain")
    _files(inbox, 5)
    drift_gate.run_drift_gate_available_now(spark, inbox, SCHEMA, out, ref, ckpt)
    dec = {
        int(r["batch_id"]): r["admitted"]
        for r in spark.read.parquet(f"{out}/decisions").collect()
    }
    assert dec == {0: True, 1: True, 2: True, 3: False, 4: False}

    # (b) refresh_every=3: refresh fires after batch 2 (3rd decision),
    # re-baselines onto the 30% mix, and the 50% batches ADMIT
    inbox, out, ref, ckpt = _setup("auto")
    _files(inbox, 5)
    drift_gate.run_drift_gate_available_now(
        spark, inbox, SCHEMA, out, ref, ckpt,
        refresh_every=3, refresh_window=3, refresh_min_batches=2,
    )
    dec_auto = {
        int(r["batch_id"]): (r["psi"], r["admitted"])
        for r in spark.read.parquet(f"{out}/decisions").collect()
    }
    assert {b: a for b, (_, a) in dec_auto.items()} == {
        0: True, 1: True, 2: True, 3: True, 4: True
    }
    ref_auto = sorted(map(tuple, spark.read.parquet(ref).collect()))

    # (c) manual sequence: drain 3 files, refresh by hand, drain the
    # rest — identical decisions and identical final reference file
    inbox, out, ref, ckpt = _setup("manual")
    _files(inbox, 3)
    drift_gate.run_drift_gate_available_now(spark, inbox, SCHEMA, out, ref, ckpt)
    assert drift_gate.refresh_reference(
        spark, out, ref, window=3, min_batches=2
    )
    _files(inbox, 5)  # f0-f2 rewritten byte-identical; checkpoint skips them
    drift_gate.run_drift_gate_available_now(spark, inbox, SCHEMA, out, ref, ckpt)
    dec_manual = {
        int(r["batch_id"]): (r["psi"], r["admitted"])
        for r in spark.read.parquet(f"{out}/decisions").collect()
    }
    assert dec_manual == dec_auto
    assert sorted(map(tuple, spark.read.parquet(ref).collect())) == ref_auto


def test_in_drain_group_refresh_per_feed(spark, tmp_path):
    """The grouped runner's refresh_every: the moving feed re-baselines
    and its later batches admit; the feed in a quarantine storm never
    has admitted batches, fails the per-group hysteresis, keeps its
    frozen reference, and stays quarantined."""
    t2, t3, tshort = "tok " * 40, "tok " * 60, "x y"
    snap = spark.createDataFrame(
        [(i, "mv", t2) for i in range(80)]
        + [(100 + i, "mv", t3) for i in range(20)]
        + [(200 + i, "ok", t2) for i in range(100)],
        GSCHEMA,
    )
    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    ref = str(tmp_path / "ref")
    out = str(tmp_path / "out")
    drift_gate.write_reference(snap, ref, group_col="lang")
    frozen_ok = sorted(
        (r["bin"], r["n"])
        for r in spark.read.parquet(ref).filter(F.col("lang") == "ok").collect()
    )
    mixes = [(14, 6), (14, 6), (14, 6), (10, 10)]
    for i, (a, b) in enumerate(mixes):
        rows = (
            [(10_000 * (i + 1) + j, "mv", t2) for j in range(a)]
            + [(10_000 * (i + 1) + 500 + j, "mv", t3) for j in range(b)]
            + [(10_000 * (i + 1) + 800 + j, "ok", tshort) for j in range(10)]
        )
        p = os.path.join(inbox, f"f{i}.parquet")
        _gwrite(p, rows)
        past = time.time() - (10 - i) * 10
        os.utime(p, (past, past))
    drift_gate.run_drift_gate_available_now(
        spark, inbox, GSCHEMA, out, ref, str(tmp_path / "ckpt"),
        group_col="lang",
        refresh_every=3, refresh_window=3, refresh_min_batches=2,
    )
    dec = {
        (int(r["batch_id"]), r["lang"]): r["admitted"]
        for r in spark.read.parquet(f"{out}/decisions").collect()
    }
    # mv: mild batches admit, the post-refresh 50% batch admits too
    assert dec[(0, "mv")] and dec[(1, "mv")] and dec[(2, "mv")]
    assert dec[(3, "mv")]
    # ok: drifted-short every batch -> quarantined throughout, and its
    # reference rows stayed frozen (no admitted batches to refresh from)
    assert not any(dec[(b, "ok")] for b in range(4))
    assert sorted(
        (r["bin"], r["n"])
        for r in spark.read.parquet(ref).filter(F.col("lang") == "ok").collect()
    ) == frozen_ok
