"""Persisted IVF index: build → query roundtrip equals the in-memory
operator, rebuilds are deterministic, and the probed-cell filter reaches
the postings scan as a partition filter (the pruning that makes a
served 100 TB index read ~n_probe/n_cells of its data)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import ivf_knn
from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
    compact_store,
    query_ivf_index,
    read_postings,
    write_ivf_index,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_persisted_index_matches_inmemory_operator(spark, tmp_path):
    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 8)
    write_ivf_index(e, str(tmp_path / "ix"), n_cells=16, refine_iters=0)
    got = query_ivf_index(spark, str(tmp_path / "ix"), q, n_probe=4, k=5)
    want = ivf_knn(e, q, n_cells=16, n_probe=4, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_index_rebuild_is_deterministic(spark, tmp_path):
    e = _emb(spark)
    write_ivf_index(e, str(tmp_path / "a"), n_cells=8, refine_iters=1)
    write_ivf_index(e, str(tmp_path / "b"), n_cells=8, refine_iters=1)
    ca = sorted(map(tuple, spark.read.parquet(str(tmp_path / "a/centroids")).collect()))
    cb = sorted(map(tuple, spark.read.parquet(str(tmp_path / "b/centroids")).collect()))
    assert ca == cb
    pa = read_postings(spark, str(tmp_path / "a")).groupBy("cell").count()
    pb = read_postings(spark, str(tmp_path / "b")).groupBy("cell").count()
    assert sorted(map(tuple, pa.collect())) == sorted(map(tuple, pb.collect()))


def test_probed_cells_prune_postings_partitions(spark, tmp_path):
    e = _emb(spark)
    write_ivf_index(e, str(tmp_path / "ix"), n_cells=16, refine_iters=0)
    postings = read_postings(spark, str(tmp_path / "ix"))
    pruned = postings.filter(F.col("cell").isin(0, 3))
    plan = spark._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    # the filter must appear in the partition-filter slot, not the data filter
    seg = plan[plan.index("PartitionFilters"):]
    assert "cell" in seg[: seg.index("\n")]
    # and the scan truly reads only the 2 probed directories
    assert pruned.select("cell").distinct().count() == 2


def test_append_equals_monolithic_build(spark, tmp_path):
    e = _emb(spark)
    base = e.filter(F.col("vec_id") < 400)
    delta = e.filter(F.col("vec_id") >= 400)
    q = e.filter(F.col("vec_id") < 8)

    inc = str(tmp_path / "inc")
    write_ivf_index(base, inc, n_cells=16, refine_iters=1)
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import append_to_ivf_index

    append_to_ivf_index(delta, inc)

    # centroids are seeded from the lowest 16 ids, all in `base`, and
    # Lloyd-refined over base only — a monolithic rebuild over the full
    # corpus would refine over the union, so equality must be asserted
    # against an index built with the SAME frozen quantizer: build full
    # postings by assigning the union against inc's centroids
    got = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in query_ivf_index(spark, inc, q, n_probe=4, k=5).collect()
    }
    cents = spark.read.parquet(f"{inc}/centroids")
    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import ivf_assign

    mono = str(tmp_path / "mono")
    full = ivf_assign(e, cents, out_id="neighbor_id")
    spark.read.parquet(f"{inc}/centroids").write.parquet(f"{mono}/centroids")
    full.write.partitionBy("cell").parquet(f"{mono}/postings")
    want = {
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in query_ivf_index(spark, mono, q, n_probe=4, k=5).collect()
    }
    assert got == want
    # every indexed vector is present exactly once
    assert read_postings(spark, inc).count() == e.count()


def test_append_writes_only_a_new_batch_dir(spark, tmp_path):
    e = _emb(spark)
    path = str(tmp_path / "ix")
    write_ivf_index(e.filter(F.col("vec_id") < 495), path, n_cells=16)
    import os

    def tree_mtimes(d):
        out = {}
        for root, _, files in os.walk(d):
            for f in files:
                fp = os.path.join(root, f)
                out[fp] = os.path.getmtime(fp)
        return out

    base_dir = f"{path}/postings/batch_id=0"
    before = tree_mtimes(base_dir)
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import append_to_ivf_index

    delta = e.filter(F.col("vec_id") >= 495)
    append_to_ivf_index(delta, path)
    # the existing corpus is never rewritten: batch 0 is byte-untouched,
    # the delta is one new batch dir whose cell dirs are bounded by the
    # delta size — the property that bounds append write cost
    assert tree_mtimes(base_dir) == before
    new_dir = f"{path}/postings/batch_id=1"
    cells = [d for d in os.listdir(new_dir) if d.startswith("cell=")]
    assert 1 <= len(cells) <= 5


def test_compaction_preserves_results_pruning_and_crash_gc(spark, tmp_path):
    """The verdict-r7 wiring test: partition-pruned probe reads survive
    a compaction cycle. Build + two appends -> 3 batch dirs; compact
    folds them into one cell-partitioned generation; queries are
    identical before/after, the probe filter still lands in the
    PartitionFilters slot, and a crash-before-GC leftover dir is
    excluded by the generation's manifest (raw reader stays exact)."""
    import os
    import shutil as sh

    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import append_to_ivf_index
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs

    e = _emb(spark)
    path = str(tmp_path / "ix")
    write_ivf_index(e.filter(F.col("vec_id") < 300), path, n_cells=16)
    append_to_ivf_index(e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 450)), path)
    append_to_ivf_index(e.filter(F.col("vec_id") >= 450), path)
    store = f"{path}/postings"
    assert set(cs.state_subdirs(store).values()) == {0, 1, 2}

    q = e.filter(F.col("vec_id") < 8)
    before = sorted(map(tuple, query_ivf_index(spark, path, q, n_probe=4, k=5).collect()))
    keep = str(tmp_path / "copy")
    sh.copytree(os.path.join(store, "batch_id=1"), keep)

    compact_store(spark, path, "ivf")
    assert set(cs.state_subdirs(store).values()) == {-1}
    assert cs.subsumed_ids(store) == {0, 1, 2}
    assert read_postings(spark, path).count() == e.count()
    after = sorted(map(tuple, query_ivf_index(spark, path, q, n_probe=4, k=5).collect()))
    assert after == before

    # pruning survives: the cell filter reaches the generation's scan
    # as a partition filter
    pruned = read_postings(spark, path).filter(F.col("cell").isin(0, 3))
    plan = spark._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    seg = plan[plan.index("PartitionFilters"):]
    assert "cell" in seg[: seg.index("\n")]

    # crash-before-GC: a folded dir restored beside the generation is
    # named by the manifest, so the raw reader must not double-count
    sh.copytree(keep, os.path.join(store, "batch_id=1"))
    assert read_postings(spark, path).count() == e.count()
    assert sorted(map(tuple, query_ivf_index(spark, path, q, n_probe=4, k=5).collect())) == before


def test_ivfpq_index_matches_inmemory_operator(spark, tmp_path):
    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import ivfpq_topk
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        query_ivfpq_index,
        write_ivfpq_index,
    )

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 6)
    path = str(tmp_path / "pq")
    write_ivfpq_index(e, path, n_cells=16, m=4, n_codes=16, iters=1)
    got = sorted(map(tuple, query_ivfpq_index(spark, path, q, n_probe=4, k=5).collect()))
    want = sorted(map(tuple, ivfpq_topk(e, q, n_cells=16, n_probe=4, m=4,
                                        n_codes=16, k=5, iters=1).collect()))
    assert got == want


def test_ivfpq_append_and_compaction_preserve_results_and_pruning(spark, tmp_path):
    """Codes-store lifecycle: append with frozen quantizers equals a
    monolithic encode of the union; compaction folds to one
    cell-partitioned generation without changing answers; the probed
    cells reach the codes scan as a partition filter."""
    import os

    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_ivfpq_index,
        compact_store,
        query_ivfpq_index,
        read_codes,
        write_ivfpq_index,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 6)
    inc = str(tmp_path / "inc")
    write_ivfpq_index(e.filter(F.col("vec_id") < 400), inc, n_cells=16, m=4, n_codes=16)
    append_to_ivfpq_index(e.filter(F.col("vec_id") >= 400), inc)

    # frozen-quantizer append == monolithic build with the SAME base
    # quantizers: rebuild over the base corpus (same centroids +
    # codebooks, both trained on vec_id < 400) then append the rest
    mono = str(tmp_path / "mono")
    write_ivfpq_index(e.filter(F.col("vec_id") < 400), mono, n_cells=16, m=4, n_codes=16)
    append_to_ivfpq_index(e.filter(F.col("vec_id") >= 400), mono)
    before = sorted(map(tuple, query_ivfpq_index(spark, inc, q, n_probe=4, k=5).collect()))
    assert before == sorted(
        map(tuple, query_ivfpq_index(spark, mono, q, n_probe=4, k=5).collect())
    )

    store = f"{inc}/codes"
    assert set(cs.state_subdirs(store).values()) == {0, 1}
    compact_store(spark, inc, "ivfpq")
    assert set(cs.state_subdirs(store).values()) == {-1}
    assert cs.subsumed_ids(store) == {0, 1}
    assert sorted(map(tuple, query_ivfpq_index(spark, inc, q, n_probe=4, k=5).collect())) == before
    assert read_codes(spark, inc).count() == e.count() * 4

    pruned = read_codes(spark, inc).filter(F.col("cell").isin(0, 3))
    plan = spark._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    seg = plan[plan.index("PartitionFilters"):]
    assert "cell" in seg[: seg.index("\n")]


def test_append_after_compaction_never_reuses_subsumed_ids(spark, tmp_path):
    """Review-r8 bug: the ad-hoc id allocator looked only at LIVE dirs,
    so the first append after a compaction reused a manifest-subsumed
    id — readers excluded the delta and the next GC deleted it. The
    allocator must clear the manifest too."""
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_ivf_index,
        compact_store,
        read_postings,
        write_ivf_index,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as cs

    e = _emb(spark)
    path = str(tmp_path / "ix")
    write_ivf_index(e.filter(F.col("vec_id") < 300), path, n_cells=16)
    append_to_ivf_index(e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), path)
    compact_store(spark, path, "ivf")
    store = f"{path}/postings"
    assert cs.subsumed_ids(store) == {0, 1}
    append_to_ivf_index(e.filter(F.col("vec_id") >= 400), path)
    # the delta took a FRESH id and is visible to readers
    live = set(cs.state_subdirs(store).values())
    assert live == {-1, 2}
    assert read_postings(spark, path).count() == e.count()
    # and it survives the next compaction cycle
    append_to_ivf_index(e.limit(0), path)
    compact_store(spark, path, "ivf")
    assert read_postings(spark, path).count() == e.count()


def test_append_refuses_legacy_flat_store(spark, tmp_path):
    """Review-r8 bug: appending a batch_id dir beside a pre-store flat
    cell=* layout gives the directory two conflicting partition
    structures and bricks every read — the append must refuse."""
    import pytest

    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_ivf_index,
        read_postings,
    )

    e = _emb(spark)
    path = str(tmp_path / "legacy")
    cents = ivf_centroids(e, 16)
    cents.write.parquet(f"{path}/centroids")
    ivf_assign(e.filter(F.col("vec_id") < 400), cents, out_id="neighbor_id").write.partitionBy(
        "cell"
    ).parquet(f"{path}/postings")
    assert read_postings(spark, path).count() == 400  # legacy reads fine
    with pytest.raises(ValueError, match="legacy flat"):
        append_to_ivf_index(e.filter(F.col("vec_id") >= 400), path)
    # the store is untouched and still readable
    assert read_postings(spark, path).count() == 400


def test_binary_index_roundtrip_append_equality_and_compaction(spark, tmp_path):
    """The binary sig store's full lifecycle: (1) a persisted store's
    query equals the in-memory operator; (2) build(half)+append(half)
    EQUALS build(union) exactly — signatures have no trained params,
    so there is no quantizer-drift caveat; (3) a retried append
    (explicit batch_id) converges instead of duplicating; (4) distinct
    compaction bounds the listing and preserves every result row."""
    from pyspark.sql import functions as F

    from reddit_apache_airflow_postgres_pipeline_spark.operators import similarity as sim
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        counting_state as cs,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 6)
    path = str(tmp_path / "bidx")
    vi = __import__(
        "reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index", fromlist=["x"]
    )
    # (1) roundtrip equals the operator
    vi.write_binary_index(e, path)
    got = sorted(map(tuple, vi.query_binary_index(spark, path, q, k=5).collect()))
    want = sorted(map(tuple, sim.binary_hamming_topk(e, q, k=5).collect()))
    assert got == want
    # (2) append equality — EXACT, not approximate
    split = str(tmp_path / "bidx2")
    vi.write_binary_index(e.filter(F.col("vec_id") < 250), split)
    vi.append_to_binary_index(e.filter(F.col("vec_id") >= 250), split)
    got2 = sorted(
        map(tuple, vi.query_binary_index(spark, split, q, k=5).collect())
    )
    assert got2 == want
    # (3) retried append (same batch_id) converges
    n_before = vi.read_sigs(spark, split).count()
    vi.append_to_binary_index(e.filter(F.col("vec_id") >= 250), split, batch_id=7)
    vi.append_to_binary_index(e.filter(F.col("vec_id") >= 250), split, batch_id=7)
    # batch 7 duplicates ids (test-only violation of the disjoint-id
    # contract) — the point is the RETRY wrote one dir, not two
    assert vi.read_sigs(spark, split).count() == n_before + e.filter(
        F.col("vec_id") >= 250
    ).count()
    # (4) compaction: one generation, same query answers
    vi.compact_store(spark, split, "binary")
    assert len(cs.state_subdirs(f"{split}/sigs")) <= 2  # gen + nothing live
    got3 = sorted(
        map(
            tuple,
            vi.query_binary_index(spark, split, q, k=5)
            .collect(),
        )
    )
    # compaction dedups the retried batch's rows (distinct mode), so
    # answers return to the union-build's
    assert got3 == want


# ---------------------------------------------------------------------------
# Tombstone deletes (GDPR erasure): a deleted id never surfaces again —
# pre-compaction (anti-joined), post-compaction (physically dropped) —
# for all three store kinds.
# ---------------------------------------------------------------------------


def test_ivf_delete_shadows_then_compaction_physically_drops(spark, tmp_path):
    import os

    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_ivf_index,
        delete_from_index,
        read_tombstones,
    )

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 4)
    ix = str(tmp_path / "ix")
    write_ivf_index(e.filter(F.col("vec_id") < 400), ix, n_cells=8, refine_iters=0)
    append_to_ivf_index(e.filter(F.col("vec_id") >= 400), ix)

    # pick a victim that IS served before deletion so the test is live
    before = query_ivf_index(spark, ix, q, n_probe=8, k=5)
    victim = before.collect()[0]["neighbor_id"]
    delete_from_index(
        e.filter(F.col("vec_id") == victim).select("vec_id"), ix
    )

    # pre-compaction: shadowed by the anti-join
    after = query_ivf_index(spark, ix, q, n_probe=8, k=5)
    assert victim not in {r["neighbor_id"] for r in after.collect()}
    assert victim not in {
        r["neighbor_id"] for r in read_postings(spark, ix).collect()
    }

    # post-compaction: physically dropped — raw parquet scan of the
    # folded store (bypassing the reader) must not contain the id, and
    # the absorbed tombstone dirs are GC'd
    compact_store(spark, ix, "ivf")
    raw = spark.read.parquet(f"{ix}/postings")
    assert victim not in {r["neighbor_id"] for r in raw.collect()}
    assert read_tombstones(spark, ix) is None
    assert not os.path.isdir(f"{ix}/tombstones") or not any(
        d.startswith("batch_id=") for d in os.listdir(f"{ix}/tombstones")
    )
    # and results for everyone else are unchanged
    final = {
        (r["query_id"], r["neighbor_id"])
        for r in query_ivf_index(spark, ix, q, n_probe=8, k=5).collect()
    }
    kept = {
        (r["query_id"], r["neighbor_id"])
        for r in after.collect()
    }
    assert final == kept


def test_ivfpq_and_binary_deletes_survive_compaction(spark, tmp_path):
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        compact_store,
        delete_from_index,
        query_binary_index,
        query_ivfpq_index,
        read_codes,
        read_sigs,
        write_binary_index,
        write_ivfpq_index,
    )

    e = _emb(spark)
    q = e.filter(F.col("vec_id") < 4)

    pq = str(tmp_path / "pq")
    write_ivfpq_index(e, pq, n_cells=8, m=4, n_codes=16, iters=1)
    served = query_ivfpq_index(spark, pq, q, n_probe=8, k=5).collect()
    victim = served[0]["neighbor_id"]
    delete_from_index(
        e.filter(F.col("vec_id") == victim).select("vec_id"), pq
    )
    assert victim not in {
        r["neighbor_id"]
        for r in query_ivfpq_index(spark, pq, q, n_probe=8, k=5).collect()
    }
    compact_store(spark, pq, "ivfpq")
    assert victim not in {
        r["neighbor_id"] for r in spark.read.parquet(f"{pq}/codes").collect()
    }
    assert victim not in {
        r["neighbor_id"]
        for r in query_ivfpq_index(spark, pq, q, n_probe=8, k=5).collect()
    }
    assert read_codes(spark, pq).count() > 0

    bx = str(tmp_path / "bx")
    write_binary_index(e, bx)
    served_b = query_binary_index(spark, bx, q, k=5).collect()
    bvictim = served_b[0]["neighbor_id"]
    delete_from_index(
        e.filter(F.col("vec_id") == bvictim).select("vec_id"), bx
    )
    assert bvictim not in {
        r["neighbor_id"]
        for r in query_binary_index(spark, bx, q, k=5).collect()
    }
    compact_store(spark, bx, "binary")
    assert bvictim not in {
        r["neighbor_id"] for r in spark.read.parquet(f"{bx}/sigs").collect()
    }
    assert read_sigs(spark, bx).count() == 499


def test_delete_retry_is_idempotent_and_partial_compaction_keeps_tombstones(
    spark, tmp_path
):
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import counting_state as _cs
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_ivf_index,
        delete_from_index,
        read_tombstones,
    )

    e = _emb(spark)
    ix = str(tmp_path / "ix")
    write_ivf_index(e.filter(F.col("vec_id") < 300), ix, n_cells=8, refine_iters=0)
    append_to_ivf_index(
        e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), ix
    )
    # retried delete with an explicit batch id overwrites its own dir
    ids = e.filter(F.col("vec_id") == 7).select("vec_id")
    delete_from_index(ids, ix, batch_id=5)
    delete_from_index(ids, ix, batch_id=5)
    assert read_tombstones(spark, ix).count() == 1

    # a PARTIAL compaction (exclude_from) must NOT GC the tombstones:
    # the excluded dir's rows stay raw, so dropping the tombstone would
    # resurrect a deleted id that lives there
    delete_from_index(
        e.filter(F.col("vec_id") == 350).select("vec_id"), ix
    )
    compact_store(spark, ix, "ivf", exclude_from=1)  # batch 1 stays raw
    assert read_tombstones(spark, ix) is not None
    assert {r["neighbor_id"] for r in read_tombstones(spark, ix).collect()} == {
        7,
        350,
    }
    # reads still shadow both
    live = {r["neighbor_id"] for r in read_postings(spark, ix).collect()}
    assert 7 not in live and 350 not in live
    # a FULL compaction then absorbs everything
    compact_store(spark, ix, "ivf")
    assert read_tombstones(spark, ix) is None
    raw = {r["neighbor_id"] for r in spark.read.parquet(f"{ix}/postings").collect()}
    assert 7 not in raw and 350 not in raw
    assert len(raw) == 398


def test_append_of_live_tombstoned_id_raises_for_all_stores(spark, tmp_path):
    """Fail-loud re-add guard (r10 verdict #2): an append whose batch
    intersects live tombstones must raise — the rows would otherwise be
    invisibly shadowed by the anti-join until the next full compaction
    silently drops them. After erase → FULL compact, re-adding the same
    id works and the row is served again."""
    import pytest

    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_binary_index,
        append_to_ivf_index,
        append_to_ivfpq_index,
        compact_store,
        delete_from_index,
        read_codes,
        read_sigs,
        write_binary_index,
        write_ivfpq_index,
    )

    e = _emb(spark)
    base = e.filter(F.col("vec_id") < 400)
    victim = e.filter(F.col("vec_id") == 7)

    ix = str(tmp_path / "ivf")
    write_ivf_index(base, ix, n_cells=8, refine_iters=0)
    delete_from_index(victim.select("vec_id"), ix)
    bad = e.filter(F.col("vec_id").isin(7, 450))
    with pytest.raises(ValueError, match="LIVE tombstones"):
        append_to_ivf_index(bad, ix)
    # the raise left no partial delta behind: id 450 not served either
    assert 450 not in {
        r["neighbor_id"] for r in read_postings(spark, ix).collect()
    }
    # erase → full compact → re-add works, and the row serves again
    compact_store(spark, ix, "ivf")
    append_to_ivf_index(victim, ix)
    live = [r["neighbor_id"] for r in read_postings(spark, ix).collect()]
    assert live.count(7) == 1

    pq = str(tmp_path / "pq")
    write_ivfpq_index(base, pq, n_cells=8, m=4, n_codes=16, iters=1)
    delete_from_index(victim.select("vec_id"), pq)
    with pytest.raises(ValueError, match="LIVE tombstones"):
        append_to_ivfpq_index(bad, pq)
    compact_store(spark, pq, "ivfpq")
    append_to_ivfpq_index(victim, pq)
    assert (
        read_codes(spark, pq).filter(F.col("neighbor_id") == 7).count() == 4
    )  # m sub-codes, exactly once

    bx = str(tmp_path / "bx")
    write_binary_index(base, bx)
    delete_from_index(victim.select("vec_id"), bx)
    with pytest.raises(ValueError, match="LIVE tombstones"):
        append_to_binary_index(bad, bx)
    compact_store(spark, bx, "binary")
    append_to_binary_index(victim, bx)
    assert read_sigs(spark, bx).filter(F.col("neighbor_id") == 7).count() == 1


def test_full_compaction_equals_rebuild_from_survivors(spark, tmp_path):
    """Rebuild-equivalence pin (r10 verdict #3): a FULL compaction of
    (build + appends + deletes) is ROW-IDENTICAL to a fresh store
    encoded from the surviving corpus — postings, codes, and sigs. For
    IVF/IVFPQ the fresh side encodes survivors against the SAME frozen
    quantizers (a from-scratch rebuild would retrain centroids/codebooks
    on the survivors — the documented quantizer-drift trade); for the
    binary store, which has no trained parameters, the comparison is
    against a literal fresh write_binary_index. Probes on both sides
    must also serve identical top-k."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import (
        ivf_assign,
        pq_encode,
        sign_signature,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        append_to_ivf_index,
        append_to_ivfpq_index,
        compact_store,
        delete_from_index,
        query_binary_index,
        query_ivfpq_index,
        read_codes,
        read_sigs,
        write_binary_index,
        write_ivfpq_index,
    )

    e = _emb(spark)
    gone = [3, 77, 200, 410]
    survivors = e.filter(~F.col("vec_id").isin(gone))
    q = e.filter(F.col("vec_id") < 4)

    # --- IVF: build + append + delete + FULL compact ---
    ix = str(tmp_path / "ivf")
    write_ivf_index(e.filter(F.col("vec_id") < 400), ix, n_cells=8, refine_iters=0)
    append_to_ivf_index(e.filter(F.col("vec_id") >= 400), ix)
    delete_from_index(
        e.filter(F.col("vec_id").isin(gone)).select("vec_id"), ix
    )
    compact_store(spark, ix, "ivf")
    cents = spark.read.parquet(f"{ix}/centroids")
    want = ivf_assign(survivors, cents, out_id="neighbor_id")
    got_rel = sorted(
        (r["neighbor_id"], tuple(r["embedding"]), r["cell"])
        for r in read_postings(spark, ix).collect()
    )
    want_rel = sorted(
        (r["neighbor_id"], tuple(r["embedding"]), r["cell"])
        for r in want.collect()
    )
    assert got_rel == want_rel

    # --- IVFPQ ---
    pq = str(tmp_path / "pq")
    write_ivfpq_index(
        e.filter(F.col("vec_id") < 400), pq, n_cells=8, m=4, n_codes=16, iters=1
    )
    append_to_ivfpq_index(e.filter(F.col("vec_id") >= 400), pq)
    delete_from_index(
        e.filter(F.col("vec_id").isin(gone)).select("vec_id"), pq
    )
    compact_store(spark, pq, "ivfpq")
    pcents = spark.read.parquet(f"{pq}/centroids")
    cb = spark.read.parquet(f"{pq}/codebooks")
    fresh = pq_encode(
        ivf_assign(survivors, pcents, n_probe=1, out_id="neighbor_id"),
        cb, 4, "neighbor_id", "embedding", out_id="neighbor_id",
        carry=("cell",),
    )
    got_codes = sorted(map(tuple, read_codes(spark, pq).select(
        "neighbor_id", "sub", "code", "cell").collect()))
    want_codes = sorted(map(tuple, fresh.select(
        "neighbor_id", "sub", "code", "cell").collect()))
    assert got_codes == want_codes
    served = sorted(map(tuple, query_ivfpq_index(
        spark, pq, q, n_probe=8, k=5).collect()))

    # --- binary: literal fresh-build equality (no trained params) ---
    bx = str(tmp_path / "bx")
    write_binary_index(e.filter(F.col("vec_id") < 400), bx)
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import append_to_binary_index

    append_to_binary_index(e.filter(F.col("vec_id") >= 400), bx)
    delete_from_index(
        e.filter(F.col("vec_id").isin(gone)).select("vec_id"), bx
    )
    compact_store(spark, bx, "binary")
    fresh_bx = str(tmp_path / "bx_fresh")
    write_binary_index(survivors, fresh_bx)
    got_sigs = sorted(
        (r["neighbor_id"], tuple(r["sig"]))
        for r in read_sigs(spark, bx).collect()
    )
    want_sigs = sorted(
        (r["neighbor_id"], tuple(r["sig"]))
        for r in read_sigs(spark, fresh_bx).collect()
    )
    assert got_sigs == want_sigs
    assert sorted(map(tuple, query_binary_index(spark, bx, q, k=5).collect())) == sorted(
        map(tuple, query_binary_index(spark, fresh_bx, q, k=5).collect())
    )
    assert served  # ivfpq probe produced rows (sanity on the earlier compare)


def test_query_dim_mismatch_fails_loudly(spark, tmp_path):
    """A query whose vector length differs from the corpus's fails with
    both dimensions named — in the in-memory operators and in the
    served probe — instead of returning the lowest neighbor ids with
    NULL distances (zip_with pads the shorter side, and the NULLs rank
    first)."""
    import pytest

    from reddit_apache_airflow_postgres_pipeline_spark.operators.similarity import (
        exact_l2_topk_set,
        knn_bruteforce,
        pq_adc_topk,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.sinks.vector_index import (
        query_ivfpq_index,
        write_ivfpq_index,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 4.5 for j in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100 + i, [float((i + j) % 5) - 1.5 for j in range(6)]) for i in range(2)],
        "vec_id long, embedding array<double>",
    )
    whole = r"query vector dim 6 != corpus vector dim 8"
    halves = r"query subvector dim 3 != corpus subvector dim 4"
    with pytest.raises(Exception, match=halves):
        pq_adc_topk(corpus, queries, m=2, n_codes=4, k=3).collect()
    with pytest.raises(Exception, match=whole):
        exact_l2_topk_set(corpus, queries, k=3).collect()
    with pytest.raises(Exception, match=whole):
        knn_bruteforce(corpus, queries, k=3).collect()
    path = str(tmp_path / "pq")
    write_ivfpq_index(corpus, path, n_cells=4, m=2, n_codes=4)
    with pytest.raises(Exception, match=halves):
        query_ivfpq_index(spark, path, queries, n_probe=2, k=3).collect()
    # a query of the corpus's own dimension still serves
    assert query_ivfpq_index(spark, path, corpus.limit(2), n_probe=2, k=3).count() == 6
