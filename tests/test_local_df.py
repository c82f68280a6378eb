"""``session.local_df``: driver-side rows enter Spark as an Arrow
``LocalRelation`` instead of a pickled Python RDD. Pinned here in the
default tier: the executed plan, the declared schema for tuple, dict
and empty rows, row order across Arrow batches, parity with
``createDataFrame(list)`` on the listing rows the fetch path feeds it
(lone surrogates included), the same errors for bad values, and a
source guard that keeps ``createDataFrame`` out of the package."""

from __future__ import annotations

import ast
import json
import math
import pathlib

import pytest

from reddit_apache_airflow_postgres_pipeline_spark.schemas import DB_COLUMNS, FETCH_CSV, REDDIT_RAW
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sources.reddit import reddit_listing_df
from reddit_apache_airflow_postgres_pipeline_spark.streaming.combine_stream import (
    MemoryUpsertTarget,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "reddit_apache_airflow_postgres_pipeline_spark"
)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_listing_rows_scan_as_local_table(spark):
    plan = _executed_plan(
        reddit_listing_df(spark, [{"name": "t3_a", "score": 1}])
    )
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_empty_rows_keep_the_declared_schema(spark):
    df = local_df(spark, [], REDDIT_RAW)
    assert df.schema == REDDIT_RAW
    assert df.count() == 0
    ddl = local_df(spark, [], "bk string, n bigint")
    assert ddl.schema.simpleString() == "struct<bk:string,n:bigint>"
    assert ddl.collect() == []


def test_tuple_and_dict_rows(spark):
    schema = "k string, n long, x double"
    tuples = local_df(spark, [("a", 1, 0.5), ("b", None, None)], schema)
    dicts = local_df(
        spark,
        [{"k": "a", "n": 1, "x": 0.5, "extra": 9}, {"k": "b"}],
        schema,
    )
    assert tuples.collect() == dicts.collect()
    assert [tuple(r) for r in tuples.collect()] == [("a", 1, 0.5), ("b", None, None)]


@pytest.mark.parametrize("threshold", [None, "0"])
def test_rows_keep_their_order_across_arrow_batches(spark, threshold):
    """Seven rows per Arrow batch, so 50 rows span eight batches (one
    partition each). ``localRelationThreshold`` 0 takes the JVM-side
    RDD-of-batches path instead of the ``LocalRelation``."""
    conf = {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}
    if threshold is not None:
        conf["spark.sql.execution.arrow.localRelationThreshold"] = threshold
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        rows = [(i, f"r{i}") for i in range(50)]
        got = local_df(spark, rows, "i int, s string").collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert [tuple(r) for r in got] == rows


def _listing_rows() -> list[dict]:
    """REDDIT_RAW rows as ``parse_listing_page`` builds them from API
    JSON, whose ``\\ud83d`` escapes decode to lone surrogates."""
    titles = json.loads(
        '["one \\ud83d lone", "two \\ud83d\\ud83d adjacent", "at end \\ud83d",'
        ' "paired \\ud83d\\ude00 ok", "nbsp\\u00a0here", "tab\\there"]'
    )
    base = {
        "name": "t3_x", "id": "x", "created_utc": 1757396563.0, "score": 1,
        "num_comments": 0, "title": "t", "author": "a",
        "permalink": "/r/x/", "subreddit": "S", "link_flair_text": "F",
    }
    rows = [dict(base, id=f"x{i}", title=t) for i, t in enumerate(titles)]
    rows.append(dict(base, id="nan", created_utc=float("nan")))
    rows.append({k: None for k in base})
    rows.append(dict(base, id="extra", ups=7))
    rows.append(dict(base, id="max", score=2**31 - 1))
    return rows


def _comparable(rows) -> list[tuple]:
    return [
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


def test_listing_rows_match_create_dataframe(spark):
    rows = _listing_rows()
    want = spark.createDataFrame(rows, REDDIT_RAW).collect()
    got = reddit_listing_df(spark, rows).collect()
    assert _comparable(got) == _comparable(want)
    # each lone surrogate became one U+FFFD, a real pair stayed a pair
    assert [r["title"] for r in got[:4]] == [
        "one \ufffd lone", "two \ufffd\ufffd adjacent", "at end \ufffd",
        "paired \U0001f600 ok",
    ]


@pytest.mark.parametrize(
    "bad",
    [{"score": 2**31}, {"score": "5"}, {"created_utc": 1}, {"title": 3}],
    ids=["out-of-range", "str-for-int", "int-for-double", "int-for-string"],
)
def test_bad_values_still_raise(spark, bad):
    """``local_df`` runs ``createDataFrame``'s own row verifier, so the
    error class is the same; ``createDataFrame(list)`` coerced a
    non-string into a string column with Java's ``toString`` — Arrow
    refuses it."""
    row = dict(_listing_rows()[0], **bad)
    with pytest.raises(Exception):
        reddit_listing_df(spark, [row]).collect()


def test_memory_upsert_target_keeps_types_of_all_null_columns(spark):
    """``flair_text`` (fed by ``link_flair_text``) is NULL in every row
    of both batches: the second merge used to re-infer the target's
    schema from Python values and fail on it, and ``df()`` before the
    first batch had nothing to infer from at all."""
    target = MemoryUpsertTarget()
    assert target.df(spark).schema == FETCH_CSV
    assert target.df(spark).count() == 0

    def batch(keys, score):
        return spark.createDataFrame(
            [
                {c: None if c == "flair_text" else f"{c}-{k}" for c in DB_COLUMNS}
                | {"thing_key": k, "score": score}
                for k in keys
            ],
            FETCH_CSV,
        )

    target.merge(batch(["k1", "k2"], "1"), 0)
    target.merge(batch(["k2", "k3"], "2"), 1)
    got = {r["thing_key"]: r for r in target.df(spark).collect()}
    assert sorted(got) == ["k1", "k2", "k3"]
    assert (got["k1"]["score"], got["k2"]["score"]) == ("1", "2")
    assert all(r["flair_text"] is None for r in got.values())
    assert target.df(spark).schema == FETCH_CSV


def _create_dataframe_calls(source: str) -> list[int]:
    """Lines of ``<x>.createDataFrame(...)`` calls outside the body of
    a ``local_df`` function."""
    tree = ast.parse(source)
    allowed = {
        id(n)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == "local_df"
        for n in ast.walk(fn)
    }
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
        and id(n) not in allowed
    ]


def test_driver_rows_enter_spark_only_through_local_df():
    stray = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if (lines := _create_dataframe_calls(p.read_text()))
    }
    assert not stray, (
        f"createDataFrame outside session.local_df: {stray} — build "
        "driver-side rows with local_df(spark, rows, schema)"
    )
    session = (PKG / "session.py").read_text()
    assert "createDataFrame(" in session
    # the guard sees a call put back next to the helper
    assert _create_dataframe_calls(
        session + "\n\ndef stray(spark):\n    return spark.createDataFrame([], 'a int')\n"
    )
