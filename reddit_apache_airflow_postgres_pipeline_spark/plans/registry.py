"""Query registry: every operator surfaced as a (spark_fn, oracle_sql)
pair for the driver's correctness harness (__spark_entry__.py).

Cross-engine exactness rules (the reason these queries hash-match DuckDB
bit-for-bit):

* **Money/metric sums are decimal-exact**: ``SUM(CAST(x AS DECIMAL(18,2)))``
  in both engines, cast to DOUBLE only at the end. Double summation order
  differs between engines; decimal addition is associative.
* **Averages** are computed as exact-sum / count, never ``avg(double)``.
* **Timestamps are emitted as formatted strings** (`yyyy-MM-dd HH:mm:ss`)
  — avoids tz-awareness / microsecond-repr mismatches in the hash.
* **Element-wise float math** (dot products, ratios) is IEEE-deterministic
  when both engines evaluate the same expression tree left-to-right over
  the same values; results are still ``round()``ed (6 dp) as a belt.
* **Every LIMIT/top-k has a unique tie-break key**; every window an
  explicit total order.
* **Counts / int sums cast to BIGINT** in SQL (DuckDB sums to HUGEINT).

Scale notes are in each operator's module; queries here only declare
plans — Catalyst chooses the physical strategy (verify with
``bench.py --explain``).
"""

from __future__ import annotations

import importlib
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from reddit_apache_airflow_postgres_pipeline_spark.operators import neardup, similarity, textstats
from reddit_apache_airflow_postgres_pipeline_spark.operators.dedup import dedup_first
from reddit_apache_airflow_postgres_pipeline_spark.operators.merge import upsert_merge
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    headline: bool = False  # included in bench.py
    module: str = __name__  # the registry module whose import registered it


def _dec(col, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def _dsum(col, scale: int = 2):
    """Decimal-exact sum, emitted as double."""
    return F.sum(_dec(col, scale)).cast("double")


def _fmt_ts(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


SPECS: list[QuerySpec] = []


def _q(name: str, oracle: str | None, headline: bool = False):
    def deco(fn):
        # the innermost module body on the stack registers the row: a
        # factory in one registry module may build rows for another
        f = sys._getframe(1)
        while f.f_code.co_name != "<module>":
            f = f.f_back
        SPECS.append(QuerySpec(name, fn, oracle, headline, f.f_globals["__name__"]))
        return fn

    return deco


# ---------------------------------------------------------------------------
# Relational core: aggregation
# ---------------------------------------------------------------------------


@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical scan→filter→hash-agg. Map-side
    partial agg + 6-row result; scan-bound at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    charge = disc_price * (F.lit(1) + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (_dsum("l_quantity") / F.count("*")).alias("avg_qty"),
            (_dsum("l_extendedprice") / F.count("*")).alias("avg_price"),
            (_dsum("l_discount") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@_q(
    "q03_shipping_priority",
    """
    SELECT l.l_orderkey AS l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority AS o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    headline=True,
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-N.
    customer is the small side (broadcast); lineitem never shuffles for
    the join, only for the final agg."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
                li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@_q(
    "q05_local_supplier_volume",
    """
    SELECT n.n_name AS n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    headline=True,
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join (fact + 5 dims). All dims broadcast;
    the single shuffle is the final group-by on n_name."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@_q(
    "q06_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
    headline=True,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — the pushdown benchmark. All four
    predicates reach the parquet scan (check PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_dec("l_extendedprice") * _dec("l_discount"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


@_q(
    "q10_returned_items",
    """
    SELECT c.c_custkey AS c_custkey, c.c_name AS c_name, n.n_name AS n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Joins: semi / anti / outer; set ops; distinct; top-k
# ---------------------------------------------------------------------------


@_q(
    "q_semi_customers_with_open_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@_q(
    "q_anti_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_CORRELATED_SQL = """
    SELECT o.o_orderkey, o.o_custkey,
           CAST(o.o_totalprice AS DOUBLE) AS price
    FROM orders o
    WHERE CAST(o.o_totalprice AS DECIMAL(18,2))
          * (SELECT COUNT(*) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey)
          > (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey)
"""


@_q("q_correlated_scalar_subquery", _CORRELATED_SQL)
def q_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average price, phrased as TWO
    correlated scalar subqueries and run through ``spark.sql`` — the
    engine's SQL entry point; Catalyst decorrelates the subqueries into
    aggregate + join. Compared as ``price·count > sum`` in DECIMAL so
    the threshold is exact in both engines (decimal AVG division
    rounds differently across engines)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CORRELATED_SQL)


_EXISTS_IN_SQL = """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '1995-01-01'
                    AND o.o_orderdate < DATE '1996-01-01')
      AND c.c_custkey NOT IN (SELECT o2.o_custkey FROM orders o2
                              WHERE o2.o_orderstatus = 'F'
                                AND o2.o_totalprice > 300000)
"""


@_q("q_exists_not_in_subquery", _EXISTS_IN_SQL)
def q_exists_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS + NOT IN subqueries via ``spark.sql``: customers with a
    1995 order and no large failed order — planned as semi + anti joins
    by Catalyst (the NOT IN column is a non-null key, so the
    three-valued-logic trap doesn't bite)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_EXISTS_IN_SQL)


@_q(
    "q_outer_order_counts",
    """
    SELECT c.c_custkey AS c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer + agg: customers with zero orders keep count 0/spend 0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0))
            .cast("double")
            .alias("total_spend"),
        )
    )


@_q(
    "q_setops_segment_overlap",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal < 0
    """,
)
def q_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    seg = c.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY")).select(
        "c_custkey"
    )
    big = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    neg = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return seg.intersect(big).exceptAll(neg.distinct())


@_q(
    "q_setops_all_multiplicity",
    """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT k FROM a INTERSECT ALL SELECT k FROM b) GROUP BY k
    UNION ALL
    SELECT -1 AS k, CAST((SELECT COUNT(*) FROM (
      SELECT k FROM a EXCEPT ALL SELECT k FROM b)) AS BIGINT) AS n
    """,
)
def q_setops_all_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) — multiplicity
    preserved, unlike the distinct forms in q_setops_segment_overlap.
    Output: per-key intersect-all multiplicities plus one sentinel row
    carrying the except-all total."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("k"))
    inter = a.intersectAll(b).groupBy("k").agg(F.count("*").alias("n"))
    exc = a.exceptAll(b).agg(F.count("*").alias("n")).select(
        F.lit(-1).cast("long").alias("k"), "n"
    )
    return inter.unionAll(exc)


@_q(
    "q_regexp_battery",
    r"""
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(coalesce(text,''), '[a-z]+a'), ','), '') AS a_words,  -- DuckDB: array_to_string([]) is NULL; Spark array_join([]) is '' (sf0.1 gate, r10)
           regexp_extract(coalesce(text,''), '([a-z]+)\s+(table)', 1) AS before_table,
           CASE WHEN regexp_matches(coalesce(text,''), 'spark') THEN 1 ELSE 0 END AS has_spark,
           regexp_replace(coalesce(text,''), '[aeiou]', '', 'g') AS devoweled
    FROM documents
    """,
)
def q_regexp_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar battery: extract-all (serialized), group extract,
    boolean match, global replace — same Java-compatible patterns on
    both engines (no \\d/\\s classes, which differ cross-engine; see
    functions/expr.py PY_WHITESPACE_RE)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.coalesce("text", F.lit(""))
    return d.select(
        "doc_id",
        F.array_join(F.regexp_extract_all(t, F.lit("[a-z]+a"), 0), ",").alias("a_words"),
        F.regexp_extract(t, r"([a-z]+)\s+(table)", 1).alias("before_table"),
        F.when(t.rlike("spark"), F.lit(1)).otherwise(F.lit(0)).alias("has_spark"),
        F.regexp_replace(t, "[aeiou]", "").alias("devoweled"),
    )


@_q(
    "q_distinct_flag_status",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@_q(
    "q_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: TakeOrderedAndProject — no full sort, no single-node
    materialization beyond k rows."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@_q(
    "q_window_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
    headline=True,
)
def q_window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@_q(
    "q_window_running_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@_q(
    "q_window_lag_event_value",
    """
    SELECT event_id, user_id,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS value_delta
    FROM events
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
    )


@_q(
    "q_window_rank_battery",
    """
    SELECT o_custkey, o_orderkey,
           NTILE(4)       OVER w AS spend_quartile,
           round(PERCENT_RANK() OVER w, 6) AS pct_rank,
           round(CUME_DIST()    OVER w, 6) AS cume,
           strftime(FIRST_VALUE(o_orderdate) OVER w, '%Y-%m-%d') AS first_date,
           strftime(NTH_VALUE(o_orderdate, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
             '%Y-%m-%d') AS second_date
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/navigation window battery: ntile, percent_rank,
    cume_dist, first_value, nth_value. (o_totalprice, o_orderkey) is a
    total order per customer so every function is deterministic;
    nth_value needs the full-partition frame (default frame stops at
    CURRENT ROW in both engines)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.date_format(F.first("o_orderdate").over(w), "yyyy-MM-dd").alias(
            "first_date"
        ),
        F.date_format(F.nth_value("o_orderdate", 2).over(wf), "yyyy-MM-dd").alias(
            "second_date"
        ),
    )


@_q(
    "q_array_hof_battery",
    """
    SELECT o_custkey,
           CAST(list_sum(prices) AS DOUBLE) AS total,
           CAST(list_max(prices) AS DOUBLE) AS top,
           CAST(list_sum(list_transform(
                  list_zip(prices[2:], list_slice(prices, 1, len(prices) - 1)),
                  zp -> CASE WHEN CAST(zp[1] AS DOUBLE) > CAST(zp[2] AS DOUBLE)
                             THEN 1 ELSE 0 END)) AS BIGINT) AS n_increases,
           CAST(len(list_filter(prices, x -> x > 150000)) AS BIGINT) AS n_large
    FROM (
      SELECT o_custkey,
             list(CAST(o_totalprice AS DECIMAL(18,2)) ORDER BY o_totalprice, o_orderkey)
               AS prices
      FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8)
    """,
)
def q_array_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function battery over per-customer sorted price
    arrays: aggregate (fold-sum), array_max, zip_with on the shifted
    array (consecutive increases), filter + size. Arrays are built in a
    deterministic order and summed as decimals, so the fold is
    order-stable across engines."""
    o = load_table(spark, sf_dir, "orders")
    packed = (
        o.groupBy("o_custkey")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(_dec("o_totalprice").alias("p"), "o_orderkey"))
            ).alias("pk"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 8)
        .select(
            "o_custkey",
            F.transform("pk", lambda s: s.getField("p")).alias("prices"),
        )
    )
    zero = F.lit(0).cast("decimal(28,2)")
    total = F.aggregate(
        "prices", zero, lambda acc, x: (acc + x).cast("decimal(28,2)")
    )
    shifted_pairs = F.zip_with(
        F.slice("prices", 2, F.size("prices") - 1),
        F.slice("prices", 1, F.size("prices") - 1),
        lambda cur, prev: F.when(cur > prev, F.lit(1)).otherwise(F.lit(0)),
    )
    return packed.select(
        "o_custkey",
        total.cast("double").alias("total"),
        F.array_max("prices").cast("double").alias("top"),
        F.aggregate(
            shifted_pairs, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("n_increases"),
        F.size(F.filter("prices", lambda x: x > 150000)).cast("long").alias(
            "n_large"
        ),
    )


@_q(
    "q_token_frequencies",
    # tokenization matches _TOKENS_SQL (defined in the text-analysis
    # section below — can't reference it here at module-exec time)
    """
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
          FROM documents) t
    WHERE tok <> ''
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (generator join) + top-k: corpus token
    frequencies with a deterministic (count desc, token asc) tiebreak —
    the plan is explode → hash agg → TakeOrderedAndProject, the shape a
    vocabulary build runs at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(F.trim(F.lower(F.coalesce("text", F.lit("")))), r"\s+")
        ).alias("tok")
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------


@_q(
    "q_rollup_order_status",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            _dsum("o_totalprice").alias("total"),
        )
    )


@_q(
    "q_cube_lineitem_flags",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum("l_quantity").alias("sum_qty"))
    )


# ---------------------------------------------------------------------------
# Scalar function batteries (strings, datetime, conditional, JSON)
# ---------------------------------------------------------------------------


@_q(
    "q_scalar_string_battery",
    """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           length(p_name) AS name_len,
           substr(p_name, 1, 5) AS name_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           CASE WHEN p_size < 10 THEN 'S' WHEN p_size < 30 THEN 'M' ELSE 'L' END AS size_class,
           round(CAST(p_retailprice AS DECIMAL(18,2)) * 110 / 100, 2)::DOUBLE AS price_markup,
           abs(p_size - 25) AS size_dist,
           p_size % 7 AS size_mod
    FROM part
    """,
)
def q_scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.when(F.col("p_size") < 10, "S")
        .when(F.col("p_size") < 30, "M")
        .otherwise("L")
        .alias("size_class"),
        F.round(_dec("p_retailprice") * 110 / 100, 2).cast("double").alias("price_markup"),
        F.abs(F.col("p_size") - 25).cast("int").alias("size_dist"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
    )


@_q(
    "q_scalar_datetime_battery",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since_epoch_start,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr
    FROM orders
    """,
)
def q_scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd"
        ).alias("plus_30d"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since_epoch_start"),
        F.quarter("o_orderdate").alias("qtr"),
    )


@_q(
    "q_conditional_agg",
    """
    SELECT o_orderstatus,
           CAST(SUM(CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(SUM(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = F.when(
        F.col("o_orderpriority").startswith("1")
        | F.col("o_orderpriority").startswith("2"),
        1,
    ).otherwise(0)
    return o.groupBy("o_orderstatus").agg(
        F.sum(urgent).cast("long").alias("n_urgent"),
        F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0))
        .cast("long")
        .alias("n_big"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@_q(
    "q_events_daily_gapfill",
    """
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
    spine AS (
      SELECT t.day::DATE AS day, et.event_type
      FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds) t
      CROSS JOIN (SELECT DISTINCT event_type FROM events) et),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2)
    SELECT strftime(spine.day, '%Y-%m-%d') AS day, spine.event_type,
           COALESCE(daily.n, 0) AS n
    FROM spine LEFT JOIN daily
      ON spine.day = daily.day AND spine.event_type = daily.event_type
    """,
)
def q_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling: a complete (day × event_type) grid over
    the observed range, missing days filled with 0 — the time-series
    densification every dashboard/trainer needs. The spine is
    ``sequence()`` over a 1-row bounds agg exploded then crossed with
    the distinct-type relation (both tiny → broadcast); the fact side
    is one hash agg. No driver-side date loop."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    spine = days.crossJoin(types)
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(F.broadcast(daily), ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


@_q(
    "q_join_salted_skew",
    """
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-to-fact join (operators/skew.salted_join): lineitem's
    rows fan out over 16 salt buckets, orders' join columns replicate
    16× — the explicit fallback when a hot join key defeats both
    broadcast and AQE's size-based skew splitting. Result-identical to
    the plain join (the oracle runs exactly that)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    joined = salted_join(li, o, "l_orderkey", buckets=16)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        _dsum("l_extendedprice").alias("revenue"),
    )


@_q(
    "q_window_moving_avg_7d",
    """
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
    spine AS (
      SELECT t.day::DATE AS day
      FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds) t),
    daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY 1)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ((2 * SUM(CAST(COALESCE(v, CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT)) OVER w
             + COUNT(*) OVER w)
            // (2 * COUNT(*) OVER w)) / 100.0 AS avg_7d
    FROM spine LEFT JOIN daily USING (day)
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame window (ROWS BETWEEN 6 PRECEDING): 7-day moving
    average of daily value totals over a gap-filled date spine (missing
    days count as 0 — without the spine the frame would silently span
    gaps). The 2dp average is computed ENTIRELY in integer cents —
    round_half_up(sum_cents / n) = (2·sum_cents + n) div (2·n), valid
    because values are non-negative — after the first full sf0.1 gate
    (r10) caught round(double, 2) landing on an exact half-cent
    boundary, where Spark's BigDecimal-string HALF_UP and DuckDB's
    multiply-round-divide disagree. The window runs over |days| rows,
    not |events|."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    filled = spine.join(F.broadcast(daily), "day", "left").select(
        "day", F.coalesce("v", F.lit(0).cast("decimal(18,2)")).alias("v")
    )
    return (
        filled.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.sum((F.col("v") * 100).cast("long")).over(w).alias("__sc"),
            F.count(F.lit(1)).over(w).alias("__c"),
        )
        .select(
            "day",
            F.expr("((2 * __sc + __c) div (2 * __c)) / 100.0D").alias(
                "avg_7d"
            ),
        )
    )


@_q(
    "q_window_range_frame_2h",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2)))
                OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS sum_2h
    FROM events
    """,
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, the trailing-2-hours value sum
    at every event. Spark expresses interval ranges as a rangeBetween on
    epoch MICROSECONDS — the fixture's timestamps all carry sub-second
    components, so an epoch-seconds order quantizes frame membership
    and diverges from the oracle's ``RANGE BETWEEN INTERVAL`` once
    events are dense enough that two fall within the same second of a
    boundary (latent until the first full sf0.1 gate, r10). Both bounds
    inclusive in both engines. Frames are per-user partitions (small),
    so the sort never goes global."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7200 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("sum_2h"),
    )


@_q(
    "q_cogroup_feed_reconcile",
    """
    WITH l AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_left,
                      CAST(SUM(event_id) AS BIGINT) AS sum_left
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    r AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_right,
                 CAST(SUM(event_id) AS BIGINT) AS sum_right
          FROM events WHERE event_type = 'click' GROUP BY user_id)
    SELECT COALESCE(l.user_id, r.user_id) AS user_id,
           COALESCE(n_left, 0) AS n_left, COALESCE(n_right, 0) AS n_right,
           COALESCE(sum_left, 0) AS sum_left,
           COALESCE(sum_right, 0) AS sum_right,
           COALESCE(sum_left, 0) - COALESCE(sum_right, 0) AS balance
    FROM l FULL OUTER JOIN r ON l.user_id = r.user_id
    """,
)
def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped Pandas extension point (§2.F,
    operators/grouped.cogroup_type_balance): per-user reconciliation of
    two event feeds (row counts + id checksums + balance) in ONE
    two-sided Python call per key. The oracle is the three-shuffle
    relational equivalent (two aggs + full outer join) — identical
    output proves the cogroup path, including one-sided keys."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.grouped import (
        cogroup_type_balance,
    )

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("v")
    )
    return cogroup_type_balance(views, clicks, "user_id", "v")


@_q(
    "q_recursive_hierarchy_agg",
    """
    WITH RECURSIVE anc AS (
      SELECT c_custkey AS k, c_custkey // 10 AS a
      FROM customer WHERE c_custkey > 0
      UNION ALL
      SELECT k, a // 10 FROM anc WHERE a > 0)
    SELECT a AS ancestor, CAST(COUNT(*) AS BIGINT) AS n_desc
    FROM anc GROUP BY a
    """,
)
def q_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x) walking a derived key hierarchy
    (parent = key div 10, an acyclic tree of depth ~log10 N): descendant
    counts per ancestor. Spark's recursion supports UNION ALL only
    (probed: UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE) — fine on DAGs/trees
    where each (node, ancestor) path is unique; CYCLIC closures (near-dup
    clusters) must keep using the iterative checkpointed label
    propagation in operators/clusters.py, whose oracle-side recursion
    relies on DuckDB's UNION-distinct termination."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "__rec_customer"
    )
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
          SELECT c_custkey AS k, c_custkey DIV 10 AS a
          FROM __rec_customer WHERE c_custkey > 0
          UNION ALL
          SELECT k, a DIV 10 FROM anc WHERE a > 0)
        SELECT a AS ancestor, COUNT(*) AS n_desc
        FROM anc GROUP BY a
        """
    )


@_q(
    "q_group_zscore_pandas",
    """
    WITH g AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(l_quantity) AS s, SUM(l_quantity * l_quantity) AS ss
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag AS grp,
           CAST(l.l_orderkey * 10 + l.l_linenumber AS BIGINT) AS rid,
           round(CASE WHEN g.n < 2
                        OR (g.ss / g.n - (g.s / g.n) * (g.s / g.n)) <= 0
                      THEN 0.0
                      ELSE (l.l_quantity - g.s / g.n)
                           / sqrt(g.ss / g.n - (g.s / g.n) * (g.s / g.n))
                 END, 6) AS zscore
    FROM lineitem l JOIN g USING (l_returnflag)
    """,
)
def q_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas extension point (§2.F) under the full oracle:
    per-returnflag z-scores computed in an ``applyInPandas`` function
    (operators/grouped.group_zscore). l_quantity is integer-valued so
    the pandas float64 sums are exact → order-free → the SQL oracle
    replays the identical mean/std arithmetic. For the same statistic
    at 100 TB you'd use the pure-codegen window/join form (the oracle's
    own shape); this query exists to pin the Arrow grouped-map path's
    correctness."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.grouped import group_zscore

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("rid"),
        "l_quantity",
    )
    return group_zscore(li, "grp", "rid", "l_quantity")


@_q(
    "q_running_distinct_users",
    """
    WITH firstday AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id),
    newperday AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n_new FROM firstday GROUP BY d),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           CAST(SUM(COALESCE(n_new, 0)) OVER (ORDER BY days.d) AS BIGINT) AS cum_users
    FROM days LEFT JOIN newperday ON newperday.d = days.d
    """,
)
def q_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT count-distinct state:
    each user contributes 1 on their first-seen day (a user_id hash
    agg), then a running sum over the tiny per-day relation. The
    window's single-partition sort touches |days| rows, not |events| —
    the only way exact running distincts stay cheap at 100 TB."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    firstday = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    newperday = firstday.groupBy("d").agg(F.count("*").alias("n_new"))
    days = ev.select(F.to_date("ts").alias("d")).distinct()
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(newperday, "d", "left")
        .select("d", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.sum("n_new").over(w).cast("long").alias("cum_users"),
        )
    )


@_q(
    "q_fuzzy_brand_match",
    """
    WITH brands AS (SELECT DISTINCT p_brand FROM part),
    probes AS (SELECT replace(p_brand, '#', '-') AS probe FROM brands),
    scored AS (
      SELECT probe, p_brand AS matched_brand,
             CAST(levenshtein(probe, p_brand) AS BIGINT) AS dist,
             row_number() OVER (PARTITION BY probe
                                ORDER BY levenshtein(probe, p_brand), p_brand) AS rk
      FROM probes CROSS JOIN brands)
    SELECT probe, matched_brand, dist FROM scored WHERE rk = 1
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) join: noisy probe strings matched to their
    closest catalog value by Levenshtein, deterministic tiebreak on the
    candidate. The pattern for typo-tolerant dimension lookup: candidates
    × broadcast(probes) scored JVM-side, best match per probe via one
    window — the cross product is |probes|×|dim-distinct|, never
    fact-sized."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "part")
    brands = p.select("p_brand").distinct()
    probes = brands.select(
        F.replace("p_brand", F.lit("#"), F.lit("-")).alias("probe")
    )
    scored = brands.crossJoin(F.broadcast(probes)).select(
        "probe",
        F.col("p_brand").alias("matched_brand"),
        F.levenshtein("probe", "p_brand").cast("long").alias("dist"),
    )
    w = Window.partitionBy("probe").orderBy("dist", "matched_brand")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("probe", "matched_brand", "dist")
    )


@_q(
    "q_incremental_rollup_merge",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance proven against full recompute:
    events are split deterministically into a historical part
    (event_id % 10 != 0, pre-aggregated as the materialized rollup) and
    a new batch (% 10 == 0, aggregated alone); merging the two partial
    aggregates (operators/incremental.merge_rollup) must equal the
    oracle's one-pass aggregate over ALL events. Sums stay DECIMAL
    through the merge so the two-step total is order-exact."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.incremental import (
        merge_rollup,
    )

    ev = load_table(spark, sf_dir, "events")

    def part_agg(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )

    base = part_agg(ev.filter(F.col("event_id") % 10 != 0))
    delta = part_agg(ev.filter(F.col("event_id") % 10 == 0))
    merged = merge_rollup(base, delta, ["day", "event_type"], ["n", "sum_value"])
    return merged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@_q(
    "q_snapshot_diff_cdc",
    """
    WITH prev AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 <> 0),
    cur AS (SELECT * FROM orders WHERE o_orderkey % 103 <> 0)
    SELECT o_orderkey, change_type FROM (
      SELECT COALESCE(p.o_orderkey, c.o_orderkey) AS o_orderkey,
             CASE WHEN p.o_orderkey IS NULL THEN 'insert'
                  WHEN c.o_orderkey IS NULL THEN 'delete'
                  WHEN (p.o_custkey, p.o_orderstatus, p.o_totalprice,
                        p.o_orderdate, p.o_orderpriority) IS DISTINCT FROM
                       (c.o_custkey, c.o_orderstatus, c.o_totalprice,
                        c.o_orderdate, c.o_orderpriority) THEN 'update'
             END AS change_type
      FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey)
    WHERE change_type IS NOT NULL
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshot states (operators/diff.snapshot_diff):
    prev/cur are derived deterministically from orders (drop keys %97 /
    %103, double the price on %101) so inserts, deletes, and updates all
    occur. The engine compares one xxhash64 row signature per side; the
    oracle compares the tuples directly — agreement proves the signature
    detects exactly the changed rows."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.diff import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    prev = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    cur = o.filter(F.col("o_orderkey") % 103 != 0)
    return snapshot_diff(prev, cur, ["o_orderkey"])


@_q(
    "q_cohort_weekly_retention",
    """
    WITH firstw AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', cohort, w) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity JOIN firstw USING (user_id)
    GROUP BY cohort, week_offset
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted in each later week they return. Both inputs are user_id
    hash aggs and the join is on user_id — the three shuffles share one
    key, and ``(user, week)`` is distinct before the join so the final
    count needs no count-distinct state."""
    ev = load_table(spark, sf_dir, "events")
    firstw = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("w")
    ).distinct()
    return (
        activity.join(firstw, "user_id")
        .groupBy(
            "cohort",
            (F.datediff("w", "cohort") / 7).cast("long").alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
        )
    )


@_q(
    "q_dq_constraint_audit",
    """
    SELECT 'orders_null_custkey' AS constraint_name,
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_nonpositive_price',
           CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer_orphans', CAST(COUNT(*) AS BIGINT)
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem_fk_orders_orphans', CAST(COUNT(*) AS BIGINT)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    FROM lineitem
    """,
)
def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit — the validation pass a pipeline
    runs before publishing a snapshot: null keys, domain violations,
    FK orphans (anti-joins), cross-column ordering. Each FK check is a
    LeftAnti join whose build side is only the key column; the scalar
    checks are map-side conditional counts. One small output row per
    constraint — cheap to alert on."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("constraint_name"),
            F.col("n_violations").cast("long").alias("n_violations"),
        )

    checks = [
        one(
            "orders_null_custkey",
            o.agg(
                F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_violations")
            ),
        ),
        one(
            "orders_nonpositive_price",
            o.agg(
                F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_violations")
            ),
        ),
        one(
            "orders_fk_customer_orphans",
            o.join(
                c.select("c_custkey"),
                o.o_custkey == F.col("c_custkey"),
                "left_anti",
            ).agg(F.count("*").alias("n_violations")),
        ),
        one(
            "lineitem_fk_orders_orphans",
            li.join(
                o.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count("*").alias("n_violations")),
        ),
        one(
            "lineitem_discount_out_of_range",
            li.agg(
                F.count(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
                    )
                ).alias("n_violations")
            ),
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionAll(ch)
    return out


@_q(
    "q_funnel_view_click_purchase",
    """
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    fc AS (
      SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'click' AND e.ts >= fv.first_view
      GROUP BY e.user_id),
    fp AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN fc ON e.user_id = fc.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fc.first_click
      GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM fv) AS BIGINT) AS n_viewed,
           CAST((SELECT COUNT(*) FROM fc) AS BIGINT) AS n_clicked_after,
           CAST((SELECT COUNT(*) FROM fp) AS BIGINT) AS n_purchased_after
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel: users who viewed, then clicked at or
    after their first view, then purchased at or after that first
    qualifying click."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # single scan, single user_id exchange: three sequential whole-
    # partition windows resolve each stage's "first qualifying ts", then
    # one global agg counts the stages — vs. the naive three filtered
    # scans + three joins (13 exchanges → 2).
    w = Window.partitionBy("user_id")
    fv = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = ev.withColumn("fv", fv)
    fc = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") >= F.col("fv")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("fc", fc)
    fp = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("fc")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("fp", fp)
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("fv").isNotNull().cast("int")).alias("v"),
        F.max(F.col("fc").isNotNull().cast("int")).alias("c"),
        F.max(F.col("fp").isNotNull().cast("int")).alias("p"),
    )
    return per_user.agg(
        F.sum("v").cast("long").alias("n_viewed"),
        F.sum("c").cast("long").alias("n_clicked_after"),
        F.sum("p").cast("long").alias("n_purchased_after"),
    )


@_q(
    "q_ntile_price_deciles",
    """
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lo,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS hi
    FROM (SELECT o_totalprice,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
          FROM orders)
    GROUP BY decile
    """,
)
def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning via ntile — the quantile-bucket primitive
    (o_orderkey tiebreak keeps the global order, and thus the bin
    boundaries, engine-deterministic). The global sort is the scale
    cost; for 100 TB use q_approx_percentile_sketch's approx bounds
    instead and bin by range."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    dec = F.ntile(10).over(w).alias("decile")
    pr = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        o.select(pr.alias("p"), dec)
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("p").cast("double").alias("lo"),
            F.max("p").cast("double").alias("hi"),
        )
    )


@_q(
    "q_string_agg_nations",
    """
    SELECT r.r_name AS r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nations"
            )
        )
    )


@_q(
    "q_events_json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch shape of the streaming operators)
# ---------------------------------------------------------------------------


@_q(
    "q_events_tumbling_1h",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    headline=True,
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window agg — identical code runs under Structured
    Streaming with a watermark (streaming/combine_stream.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
        .select(
            _fmt_ts(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@_q(
    "q_events_session_30m",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) — ``session_window`` in Spark;
    the oracle reproduces the same islands with LAG + running sum."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            _fmt_ts(F.col("session_window.start")).alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Reference-parity battery (the reddit pipeline expressions on documents)
# ---------------------------------------------------------------------------

_REF_SALT = "oracle-salt"

@_q(
    "q_ref_expr_battery",
    f"""
    SELECT doc_id,
           substr(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             coalesce(text, ''), '\\n', ' ', 'g'),
             '[ \\t\\n\\x0B\\f\\r\\x1c-\\x1f\\x{{85}}\\x{{a0}}\\x{{1680}}\\x{{2000}}-\\x{{200a}}\\x{{2028}}\\x{{2029}}\\x{{202f}}\\x{{205f}}\\x{{3000}}]+', ' ', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[redacted-email]', 'g'),
             '[0-9]{{7,}}', '[redacted-number]', 'g')), 1, 120) AS title_sanitized,
           CASE WHEN source IS NULL OR source = '' THEN ''
                ELSE sha256('{_REF_SALT}' || source) END AS source_hash,
           CASE WHEN coalesce(nullif(lang, ''), '') = '' THEN 'unknown' ELSE lang END AS lang_or_default,
           regexp_replace(lower(trim('/R/' || source || '//')), '/+$', '') AS permalink_norm,
           coalesce(TRY_CAST(substr(text, 1, 2) AS BIGINT), 0) AS junk_int,
           strftime(TIMESTAMP '1970-01-01 00:00:00' + n_chars * 100000 * INTERVAL 1 SECOND,
                    '%Y-%m-%dT%H:%M:%SZ') AS fake_created_at
    FROM documents
    """,
)
def q_ref_expr_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scalar ops (F3,F4,F5,F7,F9,F10/F11) applied to the
    documents table so the oracle can check them on shared data."""
    from reddit_apache_airflow_postgres_pipeline_spark.functions import expr as E

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        E.sanitize_title("text", 120).alias("title_sanitized"),
        E.salted_sha256(F.col("source"), _REF_SALT).alias("source_hash"),
        E.falsy_or("lang", default="unknown").alias("lang_or_default"),
        E.normalize_permalink(F.concat(F.lit("/R/"), F.col("source"), F.lit("//"))).alias(
            "permalink_norm"
        ),
        E.safe_int(F.substring("text", 1, 2)).alias("junk_int"),
        E.epoch_to_iso(F.col("n_chars") * 100000).alias("fake_created_at"),
    )


@_q(
    "q_ref_dedup_first_wins",
    """
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity FROM (
      SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity) AS rn
      FROM lineitem) t
    WHERE rn = 1
    """,
    headline=True,
)
def q_ref_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 first-wins dedup on a real table: first line of every order
    under an explicit total order."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    # full-payload tie-break: (orderkey, linenumber, partkey) repeats in
    # the synthetic data, and dedup demands a TOTAL order
    return dedup_first(
        li, "l_orderkey", ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity"]
    )


@_q(
    "q_ref_upsert_merge",
    """
    WITH target AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
    stage AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                     o_totalprice + 1000 AS o_totalprice, o_orderdate, o_orderpriority
              FROM orders WHERE o_orderkey % 3 = 0)
    SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_custkey ELSE s.o_custkey END AS o_custkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           strftime(CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderdate ELSE s.o_orderdate END,
                    '%Y-%m-%d') AS o_orderdate,
           CASE WHEN t.o_orderkey IS NOT NULL THEN t.o_orderpriority ELSE s.o_orderpriority END AS o_orderpriority
    FROM target t FULL OUTER JOIN stage s ON t.o_orderkey = s.o_orderkey
    """,
)
def q_ref_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A9 upsert semantics on shared data: even orderkeys are the
    target, every 3rd orderkey arrives as a stage batch with a new status
    + bumped price; immutable cols preserved for existing keys."""
    o = load_table(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0)
    stage = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    merged = upsert_merge(
        target.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ),
        stage,
        "o_orderkey",
        ["o_orderstatus", "o_totalprice"],
    )
    return merged.withColumn(
        "o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd")
    )


# ---------------------------------------------------------------------------
# Text analysis (training-data ops)
# ---------------------------------------------------------------------------

_TOKENS_SQL = (
    "CASE WHEN trim(lower(coalesce(text,''))) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+') END"
)


def _markers_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in textstats.LANG_MARKERS[lang])
    return (
        f"len(list_filter({_TOKENS_SQL}, t -> t IN ({markers})))"
    )


@_q(
    "q_doc_token_stats",
    f"""
    SELECT lang,
           CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(textstats.token_count("text")).alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count("*").alias("n_docs"),
    )


@_q(
    "q_doc_quality",
    f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
           round(CASE WHEN length(coalesce(text,'')) = 0 THEN 0.0
                 ELSE (length(coalesce(text,'')) - length(regexp_replace(coalesce(text,''), '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
                      / length(coalesce(text,'')) END, 6) AS punct_ratio,
           round(CASE WHEN len({_TOKENS_SQL}) = 0 THEN 0.0
                 ELSE len(list_filter({_TOKENS_SQL}, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) * 1.0
                      / len({_TOKENS_SQL}) END, 6) AS stopword_ratio
    FROM documents
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count("text").alias("n_tokens"),
        F.round(textstats.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(textstats.stopword_ratio("text"), 6).alias("stopword_ratio"),
    )


@_q(
    "q_doc_tfidf_topk",
    """
    WITH tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
            FROM documents) t
      WHERE tok <> '' GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             round(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (tok) CROSS JOIN n)
    SELECT doc_id, tok, tf, df, tfidf FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, tok) AS rk
      FROM scored)
    WHERE rk <= 3
    """,
)
def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf) — the relevance/
    keyword-extraction primitive of a training-data pipeline. Plan and
    determinism contract documented on
    operators/textstats.tfidf_top_terms."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.tfidf_top_terms(d, k=3)


@_q(
    "q_nest_unnest_roundtrip",
    """
    WITH nested AS (
      SELECT l_orderkey,
             list(struct_pack(l_linenumber := l_linenumber, l_quantity := l_quantity)
                  ORDER BY l_linenumber) AS items
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey,
           CAST(len(items) AS BIGINT) AS n_items,
           CAST(list_reduce(list_transform(items, x -> x.l_quantity),
                            (a, b) -> a + b) AS DOUBLE) AS sum_qty,
           CAST(items[1].l_linenumber AS BIGINT) AS first_line
    FROM nested
    """,
)
def q_nest_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-record modeling (the training-record/document-store
    shape): lineitems folded into a per-order array of structs — sorted
    by line number so the nesting is deterministic — then consumed with
    array HOFs (size, fold over a field, positional access). One hash
    agg builds the nest; everything after is map-side. l_quantity is
    integer-valued so the sequential fold is order-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.struct("l_linenumber", "l_quantity"))
        ).alias("items")
    )
    return nested.select(
        "l_orderkey",
        F.size("items").cast("long").alias("n_items"),
        F.aggregate(
            F.transform("items", lambda x: x.l_quantity),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("sum_qty"),
        F.col("items")[0]["l_linenumber"].cast("long").alias("first_line"),
    )


@_q(
    "q_try_cast_battery",
    """
    SELECT p_partkey,
           TRY_CAST(p_brand AS BIGINT) AS bad_int,
           TRY_CAST(CAST(p_partkey AS VARCHAR) AS BIGINT) AS good_int,
           CASE WHEN p_partkey % 5 = 0 THEN NULL
                ELSE CAST(p_partkey // (p_partkey % 5) AS BIGINT) END AS guarded_div,
           TRY_CAST(substr(p_type, 1, 4) AS DOUBLE) AS bad_double
    FROM part
    """,
)
def q_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant casts: malformed input yields NULL, never a task
    failure — TRY_CAST / try_divide are how a 100 TB ingest survives the
    garbage percentile without PERMISSIVE-mode blind spots. (Spark's
    try_divide(x, 0) is NULL; DuckDB raises on integer /0, so the
    oracle guards with CASE — same relation.)"""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_brand").try_cast("long").alias("bad_int"),
        F.col("p_partkey").cast("string").try_cast("long").alias("good_int"),
        F.try_divide("p_partkey", F.col("p_partkey") % 5)
        .cast("long")
        .alias("guarded_div"),
        F.substring("p_type", 1, 4).try_cast("double").alias("bad_double"),
    )


@_q(
    "q_pandas_udf_battery",
    """
    WITH t AS (
      SELECT lang, n_chars,
             len(list_filter(
               string_split_regex(trim(lower(coalesce(text,''))), '[\\t\\n\\f\\r ]+'),
               x -> x <> '')) AS n_toks
      FROM documents)
    SELECT lang,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM t GROUP BY lang
    """,
)
def q_pandas_udf_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two sanctioned pandas_udf surfaces (§2.F,
    functions/pandas_ext.py) under the oracle: a SCALAR vectorized
    token count per document and a GROUPED-AGGREGATE exact integer sum,
    composed in one groupBy. Integer outputs keep the Arrow path
    bit-reproducible in SQL; this is the template, the hot paths stay
    pure Column expressions."""
    from reddit_apache_airflow_postgres_pipeline_spark.functions.pandas_ext import (
        sum_long_pd,
        token_count_pandas,
    )

    d = load_table(spark, sf_dir, "documents")
    with_toks = d.select(
        "lang", "n_chars", token_count_pandas("text").alias("n_toks")
    )
    # both aggregates are pandas grouped-aggs: Spark disallows mixing
    # them with builtins in one agg() (INVALID_PANDAS_UDF_PLACEMENT)
    return with_toks.groupBy("lang").agg(
        sum_long_pd("n_chars").alias("total_chars"),
        sum_long_pd("n_toks").alias("total_tokens"),
    )


@_q(
    "q_doc_token_encode",
    """
    WITH toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+')) AS tok,
               generate_subscripts(string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+'), 1) AS pos
        FROM documents) t
      WHERE tok <> ''),
    vocab AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS tok_id
      FROM (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok)
      ORDER BY n DESC, tok LIMIT 100),
    enc AS (
      SELECT t.doc_id, t.pos, COALESCE(v.tok_id, 0) AS tok_id
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           list(tok_id ORDER BY pos) AS token_ids
    FROM enc GROUP BY doc_id
    """,
)
def q_token_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization + vocabulary encoding — the text→ids step of
    a training-data pipeline: top-100 frequency vocabulary (id 1..100,
    ties broken by token; out-of-vocab → 0), every document re-emitted
    as its position-ordered id array. Plan shape: posexplode (map-side)
    → broadcast vocab join → one hash agg collecting (pos,id) structs,
    sorted in-array — no window over the exploded relation."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(textstats.tokens("text")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    # top-100 BEFORE the rank window: orderBy+limit plans as
    # TakeOrderedAndProject (per-partition top-k, no global sort), so
    # the row_number runs over a 100-row relation — never the full
    # data-dependent vocabulary (the RRF lexical-leg lesson, r6)
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(100)
    wv = Window.orderBy(F.desc("n"), "tok")
    vocab = top.select(
        "tok", F.row_number().over(wv).cast("long").alias("tok_id")
    )
    enc = toks.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("tok_id", F.lit(0)).alias("tok_id")
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
            lambda s: s.tok_id,
        ).alias("token_ids"),
    )


@_q(
    "q_doc_pii_scrub",
    r"""
    WITH noisy AS (
      SELECT doc_id,
             coalesce(text, '')
             || CASE WHEN doc_id % 2 = 0
                     THEN ' contact u' || doc_id || '@example.com now' ELSE '' END
             || CASE WHEN doc_id % 3 = 0
                     THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' call +1 555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0')
                     ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t, '\+[0-9]{1,2} [0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
             '\+[0-9]{1,2} [0-9]{3}-[0-9]{4}', '[PHONE]', 'g') AS scrubbed
    FROM noisy
    """,
)
def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction battery (operators/textstats.PII_PATTERNS): the
    corpus carries no PII, so deterministic synthetic email/IP/phone
    strings are injected per doc_id (varied moduli exercise non-matches
    too), then counted and scrubbed in the documented order. Map-only
    codegen regexes — at 100 TB this is a free rider on any scan."""
    d = load_table(spark, sf_dir, "documents")
    noisy = d.select(
        "doc_id",
        F.concat(
            F.coalesce("text", F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" contact u"), F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call +1 555-0"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    counts = textstats.pii_counts("t")
    return noisy.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        textstats.pii_scrub("t").alias("scrubbed"),
    )


@_q(
    "q_doc_langid",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_markers_sql('de')} AS s_de,
             {_markers_sql('en')} AS s_en,
             {_markers_sql('es')} AS s_es,
             {_markers_sql('fr')} AS s_fr
      FROM documents)
    SELECT doc_id, lang AS lang_actual,
           CASE WHEN s_de > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                WHEN s_fr > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM scored
    """,
)
def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        textstats.lang_id("text").alias("lang_pred"),
    )


@_q(
    "q_doc_fingerprint",
    """
    SELECT md5(trim(regexp_replace(lower(coalesce(text,'')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by canonical fingerprint: keeper = min doc_id per
    cluster (deterministic representative)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(textstats.fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )


_CURATION_SAMPLE_THRESH = int(0.5 * (1 << 32))
_STOPWORDS_SQL = "('the','and','of','to','a','in','is','that','it','for')"
_FP_SQL = "md5(trim(regexp_replace(lower(coalesce(text,'')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))"


_CUR_LINE_K = 4       # constructed-line width (corpus has no newlines)
_CUR_LINE_MIN_OCC = 3  # CCNet occurrence bar, as in q_dedup_lines_ccnet
_LANGID_CASE_SQL = (
    "CASE WHEN s_de > 0 AND s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de' "
    "WHEN s_en > 0 AND s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en' "
    "WHEN s_es > 0 AND s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es' "
    "WHEN s_fr > 0 AND s_fr = greatest(s_de, s_en, s_es, s_fr) THEN 'fr' "
    "ELSE 'und' END"
)
_TOKENS_CLEAN_SQL = (
    "CASE WHEN trim(lower(coalesce(text_clean,''))) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(lower(coalesce(text_clean,''))), '[ \\t\\n\\x0b\\f\\r]+') END"
)
_FP_CLEAN_SQL = "md5(trim(regexp_replace(lower(coalesce(text_clean,'')), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')))"


# The langid -> quality-gate -> CCNet-line-dedup CTE prefix, shared by
# q_corpus_curation and registry_curation.q_corpus_curation_spans so the
# two compositions cannot drift: yields filt (doc_id, source, text,
# n_tokens) and clean (doc_id, dropped_lines, text_clean).
_CURATION_LINE_CTES = f"""
    scored AS (
      SELECT doc_id, source, text,
             len({_TOKENS_SQL}) AS n_tokens,
             CASE WHEN len({_TOKENS_SQL}) = 0 THEN 0.0
                  ELSE len(list_filter({_TOKENS_SQL}, t -> t IN {_STOPWORDS_SQL})) * 1.0
                       / len({_TOKENS_SQL}) END AS stop_ratio,
             {_LANGID_CASE_SQL} AS lang_pred
      FROM (
        SELECT doc_id, source, text,
               {_markers_sql('de')} AS s_de, {_markers_sql('en')} AS s_en,
               {_markers_sql('es')} AS s_es, {_markers_sql('fr')} AS s_fr
        FROM documents) m),
    filt AS (
      SELECT doc_id, source, text, n_tokens FROM scored
      WHERE lang_pred = 'en' AND n_tokens >= 25 AND stop_ratio >= 0.02),
    ch AS (
      SELECT doc_id,
        CASE WHEN len(toks) < {_CUR_LINE_K} THEN [array_to_string(toks, ' ')]
             ELSE list_transform(
                    generate_series(0, CAST(ceil(len(toks) / {_CUR_LINE_K}.0) AS BIGINT) - 1),
                    i -> array_to_string(toks[i*{_CUR_LINE_K}+1 : i*{_CUR_LINE_K}+{_CUR_LINE_K}], ' '))
        END AS lines
      FROM (SELECT doc_id, string_split_regex(trim(lower(coalesce(text,''))), '[ \\t\\n\\x0b\\f\\r]+') AS toks
            FROM filt) t),
    ln AS (
      SELECT doc_id, s.i AS idx, s.l AS line,
             trim(regexp_replace(regexp_replace(lower(s.l), '[^a-z ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS nrm
      FROM (SELECT doc_id,
                   unnest(list_transform(lines, (x, j) -> {{'i': j, 'l': x}})) AS s
            FROM ch) u),
    cnt AS (SELECT nrm, COUNT(*) AS occ FROM ln WHERE nrm <> '' GROUP BY nrm),
    clean AS (
      SELECT ln.doc_id,
             CAST(COUNT(CASE WHEN ln.nrm <> '' AND cnt.occ >= {_CUR_LINE_MIN_OCC}
                             THEN 1 END) AS BIGINT) AS dropped_lines,
             coalesce(string_agg(
               CASE WHEN ln.nrm = '' OR coalesce(cnt.occ, 0) < {_CUR_LINE_MIN_OCC}
                    THEN ln.line END, chr(10) ORDER BY ln.idx), '') AS text_clean
      FROM ln LEFT JOIN cnt ON cnt.nrm = ln.nrm
      GROUP BY ln.doc_id)"""


@_q(
    "q_corpus_curation",
    f"""
    WITH {_CURATION_LINE_CTES},
    joined AS (
      SELECT c.doc_id, f.source, c.dropped_lines, c.text_clean,
             len({_TOKENS_CLEAN_SQL}) AS n_tokens
      FROM clean c JOIN filt f ON f.doc_id = c.doc_id),
    surviving AS (SELECT * FROM joined WHERE n_tokens > 0),
    fp AS (SELECT {_FP_CLEAN_SQL} AS fp, doc_id, source, n_tokens, dropped_lines
           FROM surviving),
    keep AS (SELECT fp, MIN(doc_id) AS keeper FROM fp GROUP BY fp),
    dedup AS (SELECT f.doc_id, f.source, f.n_tokens, f.dropped_lines
              FROM fp f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.keeper),
    sampled AS (
      SELECT * FROM dedup
      WHERE ('0x' || substr(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            < {_CURATION_SAMPLE_THRESH})
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(dropped_lines) AS BIGINT) AS dropped_lines
    FROM sampled GROUP BY source
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation composition a training-data pipeline runs:
    language-ID → quality gate (token count + stopword ratio) → CCNet
    line-level dedup over the filtered corpus (corpus-hot normalized
    lines dropped, occurrence-counted — the boilerplate stage; docs
    emptied by it are removed) → exact dedup on the CLEANED text
    (fingerprint, min-doc_id keeper) → deterministic 50% hash sample →
    per-source corpus stats with the line-dedup's drop count surfaced.
    Every stage is one of the engine's oracle-proven operators
    (dedup_lines composed in r7 — verdict r6 #8); filters are map-side
    and the only shuffles are the line-count/fingerprint groupBys and
    the final source aggregate, all linear — no self-join anywhere."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators import curation
    from reddit_apache_airflow_postgres_pipeline_spark.operators.neardup import (
        token_chunks_with_tail,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import sample_by_hash

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        "text",
        textstats.token_count("text").alias("n_tokens"),
        textstats.stopword_ratio("text").alias("stop_ratio"),
        textstats.lang_id("text").alias("lang_pred"),
    )
    # checkpoint the quality-gated corpus: both the line pipeline and
    # the later source re-attach consume it, and without this each
    # consumer re-runs the scan + the regex-heavy langid/quality pass
    # (the q_ingest_chain_sketch_audit lesson: materialize once, read
    # twice — at 100 TB a second langid pass dwarfs the spill)
    filt = scored.filter(
        (F.col("lang_pred") == "en")
        & (F.col("n_tokens") >= 25)
        & (F.col("stop_ratio") >= 0.02)
    ).select("doc_id", "source", "text").localCheckpoint()
    lined = filt.select(
        "doc_id",
        F.array_join(token_chunks_with_tail("text", _CUR_LINE_K), "\n").alias(
            "text"
        ),
    )
    cleaned = curation.dedup_lines(
        lined, min_occurrences=_CUR_LINE_MIN_OCC, split_re="\n", join_with="\n"
    )
    surviving = (
        cleaned.join(filt.select("doc_id", "source"), "doc_id")
        .select(
            "doc_id",
            "source",
            "dropped_lines",
            F.col("text_clean").alias("text"),
            textstats.token_count("text_clean").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    fp = surviving.select(
        textstats.fingerprint("text").alias("fp"),
        "doc_id",
        "source",
        "n_tokens",
        "dropped_lines",
    )
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    dedup = fp.join(
        keep,
        (fp["fp"] == keep["fp"]) & (fp["doc_id"] == keep["keeper"]),
    ).select("doc_id", "source", "n_tokens", "dropped_lines")
    sampled = sample_by_hash(dedup, "doc_id", 0.5, salt="cur")
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("dropped_lines").cast("long").alias("dropped_lines"),
    )


@_q(
    "q_scd2_merge",
    """
    SELECT c_custkey AS k, c_mktsegment AS attr, 't0' AS valid_from,
           CASE WHEN c_custkey % 3 = 0 THEN 't1' END AS valid_to
    FROM customer
    UNION ALL
    SELECT c_custkey, 'MOVED', 't1', NULL FROM customer WHERE c_custkey % 3 = 0
    """,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 merge (operators/scd2.py): every third customer changes
    segment — old version closed out at t1, new current version appended,
    unchanged customers untouched. The oracle states the expected
    end-state relation directly."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.scd2 import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.lit("t0").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    upd = c.select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("attr"),
    )
    return scd2_apply(dim, upd, key="k", ts="t1")


@_q(
    "q_pivot_status",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order totals by priority × status. Explicit value list —
    at scale an unbounded ``pivot()`` first scans for distinct values
    (extra job) and can explode the schema; pin the columns."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(_dsum("o_totalprice"))
    )


@_q(
    "q_unpivot_part",
    """
    SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
      SELECT 'size' AS metric, CAST(p_size AS DOUBLE) AS v FROM part
      UNION ALL
      SELECT 'retailprice', p_retailprice FROM part)
    GROUP BY metric
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via ``stack`` (wide→long), then aggregate per metric —
    the melt shape feature pipelines use before per-feature stats."""
    p = load_table(spark, sf_dir, "part")
    long = p.selectExpr(
        "stack(2, 'size', CAST(p_size AS DOUBLE),"
        " 'retailprice', p_retailprice) AS (metric, v)"
    )
    return long.groupBy("metric").agg(
        F.count("*").alias("n"), _dsum("v").alias("total")
    )


@_q(
    "q_grouping_sets",
    """
    SELECT coalesce(l_returnflag, '<all>') AS rf,
           coalesce(l_linestatus, '<all>') AS ls,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface (rollup/cube have
    DataFrame forms above; arbitrary set lists are SQL-first in Spark)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, '<all>') AS rf,
               coalesce(l_linestatus, '<all>') AS ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@_q(
    "q_array_agg",
    """
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           array_to_string(list(o_orderpriority ORDER BY o_orderpriority), ',')
             AS priorities
    FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 8
    """,
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-customer sorted list of order priorities,
    serialized for cross-engine comparison (collect_list is
    order-nondeterministic → array_sort makes it canonical)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.array_join(
                F.array_sort(F.collect_list("o_orderpriority")), ","
            ).alias("priorities"),
        )
        .filter(F.col("n_orders") >= 8)
    )


@_q(
    "q_events_sliding_2h1h",
    """
    WITH contrib AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, event_type, value
      FROM events)
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM contrib GROUP BY ws, event_type
    """,
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 2-hour windows every 1 hour — each event
    lands in exactly two windows. Spark's ``window(ts, '2 hours',
    '1 hour')``; the oracle materializes the two contributions per event
    explicitly. Same transform runs under Structured Streaming with a
    watermark (streaming/events.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # decimal-exact sum: double summation is order-dependent and
            # Spark's partial-agg order differs from DuckDB's (ADVICE r01)
            _dsum("value", 6).alias("sum_value"),
        )
        .select(
            _fmt_ts(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Joins beyond equi: range/band join, as-of join
# ---------------------------------------------------------------------------

_BANDS = [(900.0 + 20 * i, 920.0 + 20 * i, f"b{i}") for i in range(5)]


@_q(
    "q_join_range_bands",
    f"""
    WITH bands(lo, hi, band) AS (VALUES {", ".join(f"({lo}, {hi}, '{b}')" for lo, hi, b in _BANDS)})
    SELECT b.band,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM part p JOIN bands b
      ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band
    """,
)
def q_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: facts against a broadcast interval dimension —
    the scalable non-equi pattern (broadcast nested-loop over a tiny
    interval table; never a fact×fact theta join)."""
    p = load_table(spark, sf_dir, "part")
    bands = local_df(spark, _BANDS, "lo double, hi double, band string")
    return (
        p.join(
            F.broadcast(bands),
            (p.p_retailprice >= F.col("lo")) & (p.p_retailprice < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            _dsum("p_retailprice").alias("sum_price"),
        )
    )


@_q(
    "q_join_interval_attribution",
    """
    WITH v AS (SELECT user_id, event_id AS view_event_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id AS click_event_id, ts AS click_ts
          FROM events WHERE event_type = 'click')
    SELECT v.user_id, view_event_id, click_event_id,
           CAST(date_diff('second', view_ts, click_ts) AS BIGINT) AS delay_s
    FROM v JOIN c
      ON v.user_id = c.user_id
     AND click_ts >= view_ts
     AND click_ts <= view_ts + INTERVAL 30 MINUTE
    """,
)
def q_join_interval_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (event-time band) self-join: clicks attributed to same-
    user views in the preceding 30 min. The IDENTICAL code runs as a
    watermarked stream-stream join (streaming/joins.py — parity test in
    test_streaming.py); batch-side Spark plans it as a user_id equi-join
    with the time band as a post-filter, so there is no theta-join
    blowup."""
    from reddit_apache_airflow_postgres_pipeline_spark.streaming.joins import (
        view_click_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return view_click_attribution(ev)


@_q(
    "q_join_asof",
    """
    WITH tagged AS (
      SELECT user_id, ts, 1 AS side, event_id,
             NULL::BIGINT AS r_event, NULL::DOUBLE AS r_value
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 0, NULL, event_id, value
      FROM events WHERE event_type = 'view'),
    carried AS (
      SELECT user_id, ts, side, event_id,
             last_value(r_event IGNORE NULLS) OVER w AS view_event_id,
             round(last_value(r_value IGNORE NULLS) OVER w, 2) AS view_value
      FROM tagged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, side
                   ROWS UNBOUNDED PRECEDING))
    SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           view_event_id, view_value
    FROM carried WHERE side = 1
    """,
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event paired with the user's most recent
    prior view (operators/asof.py — union + ordered window, one linear
    shuffle, no range-scan blowup)."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id"),
        F.round("value", 2).alias("view_value"),
    )
    out = asof_join(
        purchases, views, on="user_id", right_cols=["view_event_id", "view_value"],
        suffix="",
    )
    return out.select(
        "event_id", "user_id", _fmt_ts("ts").alias("ts"),
        "view_event_id", "view_value",
    )


# ---------------------------------------------------------------------------
# Percentiles & cardinality sketches
# ---------------------------------------------------------------------------


@_q(
    "q_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS p90,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``). Exact percentile sorts within each group —
    at 100 TB switch to ``approx_percentile`` (t-digest, mergeable
    map-side sketch); declared separately because approx results are not
    oracle-comparable."""
    li = load_table(spark, sf_dir, "lineitem")
    p = F.expr(
        "percentile(CAST(l_extendedprice AS DOUBLE), array(0.5D, 0.9D, 0.99D))"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(p.alias("__p"))
        .select(
            "l_returnflag",
            F.round(F.element_at("__p", 1), 4).alias("p50"),
            F.round(F.element_at("__p", 2), 4).alias("p90"),
            F.round(F.element_at("__p", 3), 4).alias("p99"),
        )
    )


@_q(
    "q_skew_salted_agg",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(l_extendedprice), 4) AS avg_price,
           CAST(MIN(l_partkey) AS BIGINT) AS min_part,
           CAST(MAX(l_partkey) AS BIGINT) AS max_part
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a genuinely skewed key (3 return
    flags across the whole fact table) — result-identical to the plain
    group-by, but hot keys fan out over 16 reducers in phase 1
    (operators/skew.py). The oracle IS the plain group-by."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.skew import Agg, salted_agg

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "__qty", _dec("l_quantity")
    ).withColumn("__price", _dec("l_extendedprice"))
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs=[
            Agg("count", None, "n_rows"),
            Agg("sum", "__qty", "sum_qty"),
            Agg("sum", "__price", "sum_price"),
            Agg("count", "__price", "n_price"),
            Agg("min", "l_partkey", "min_part"),
            Agg("max", "l_partkey", "max_part"),
        ],
    )
    # avg re-derived as DOUBLE sum / count — decimal-division rounding
    # differs from the oracle's double division at the 4dp boundary
    return out.select(
        "l_returnflag",
        "n_rows",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.round(
            F.col("sum_price").cast("double") / F.col("n_price"), 4
        ).alias("avg_price"),
        "min_part",
        "max_part",
    )


@_q(
    "q_approx_count_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality per group, made oracle-checkable: the
    sketch value itself is engine-specific, so the checked relation is
    (group, exact count, sketch-within-5%-of-exact). Spark's HLL++ is
    deterministic for given data (hash-based, no RNG), so within_5pct is
    a stable TRUE and the row hash-matches the oracle's literal TRUE.
    At 100 TB the sketch is the only sane option: fixed memory,
    mergeable map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("__approx"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("__approx") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("within_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# Accessors (import the sub-registries for their registration side effects)
# ---------------------------------------------------------------------------

# the modules registering query rows, in queries() order
_MODULES = (
    "registry",
    "registry_curation",
    "registry_ingest",
    "registry_ml",
    "registry_mm",
    "registry_stats",
    "registry_tpch",
    "registry_ts",
)


def all_specs() -> list[QuerySpec]:
    """Every registered query: this module's rows first, then each
    sub-registry's in ``_MODULES`` order, each module's rows in the
    order it registers them. A sub-registry appends to ``SPECS`` when a
    process first imports it (they import each other mid-file), so the
    raw list order depends on which module the caller imported first;
    ranking by the registering module makes it depend on the code
    alone."""
    rank = {f"{__package__}.{m}": i for i, m in enumerate(_MODULES)}
    for m in _MODULES[1:]:
        importlib.import_module(f"{__package__}.{m}")
    return sorted(SPECS, key=lambda s: rank[s.module])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.spark for s in all_specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in all_specs() if s.oracle is not None}


def headline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.spark for s in all_specs() if s.headline}


@_q(
    "q_approx_percentile_sketch",
    """
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4) AS exact_p50,
           TRUE AS within_2pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t-digest sketch next to the exact median, made oracle-checkable
    the same way as q_approx_count_distinct: the sketch value is
    engine-specific but deterministic for given data, so the checked
    relation is (group, exact median, sketch-within-2%-of-exact). At
    100 TB approx_percentile is the only sane option — fixed-size
    mergeable map-side state instead of a per-group sort."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    agg = li.groupBy("l_returnflag").agg(
        F.expr(
            "percentile(CAST(l_extendedprice AS DOUBLE), 0.5D)"
        ).alias("__exact"),
        F.percentile_approx(price, 0.5, 10000).alias("__approx"),
    )
    return agg.select(
        "l_returnflag",
        F.round("__exact", 4).alias("exact_p50"),
        (
            F.abs(F.col("__approx") - F.col("__exact"))
            <= 0.02 * F.abs("__exact")
        ).alias("within_2pct"),
    )


@_q(
    "q_map_battery",
    """
    WITH cnt AS (
      SELECT r.r_name, n.n_name, COUNT(*) AS c
      FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer cu ON cu.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    m AS (
      SELECT r_name,
             map_from_entries(list((n_name, c) ORDER BY n_name)) AS nmap
      FROM cnt GROUP BY r_name)
    SELECT r_name,
           CAST(cardinality(nmap) AS INT) AS n_nations,
           nmap['ALGERIA'][1] AS algeria_customers,
           nmap['JAPAN'][1] AS japan_customers
    FROM m
    """,
)
def q_map_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + access: per-region map of nation name →
    customer count (entries sorted before construction so both engines
    build the identical map), then cardinality and key lookups —
    ``element_at`` returns NULL for a missing key, matching DuckDB's
    ``m[k][1]`` on an empty hit list."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    cnt = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("c"))
    )
    m = cnt.groupBy("r_name").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("n_name", "c")))
        ).alias("nmap")
    )
    return m.select(
        "r_name",
        F.size("nmap").alias("n_nations"),
        F.element_at("nmap", "ALGERIA").alias("algeria_customers"),
        F.element_at("nmap", "JAPAN").alias("japan_customers"),
    )


def _zorder_sql(bits: int) -> str:
    """Morton key terms for 2 dims (d1 bit j → pos 2j, d2 → 2j+1),
    mirroring functions/zorder.zorder_key's shift layout."""
    terms = " + ".join(
        f"(((d{i+1} >> {j}) & 1) << {j * 2 + i})"
        for j in range(bits)
        for i in range(2)
    )
    return f"""
    WITH dims AS (
      SELECT o_orderkey,
             CAST(o_custkey % 256 AS BIGINT) AS d1,
             greatest(0, least(255,
               CAST(floor(o_totalprice / 1953.125) AS BIGINT))) AS d2
      FROM orders)
    SELECT o_orderkey, d1, d2,
           CAST({terms} AS BIGINT) AS zkey
    FROM dims
    """


@_q("q_zorder_layout_key", _zorder_sql(8))
def q_zorder_layout_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over (customer bucket, price bucket)
    — the clustered-write sort key that makes BOTH dimensions' min/max
    parquet statistics tight, so either predicate prunes row groups
    (the OPTIMIZE ZORDER BY technique). Pure codegen bit arithmetic
    (functions/zorder.py); writing is `df.orderBy(zkey)` into the
    existing partitioned sink. 1953.125 = 500000/256 — the price range
    normalized to 8 bucket bits."""
    from reddit_apache_airflow_postgres_pipeline_spark.functions import zorder

    o = load_table(spark, sf_dir, "orders")
    d1 = (F.col("o_custkey") % 256).cast("long")
    d2 = zorder.bucketize("o_totalprice", 0.0, 500000.0, 256)
    return o.select(
        "o_orderkey",
        d1.alias("d1"),
        d2.alias("d2"),
        zorder.zorder_key([d1, d2], bits=8).alias("zkey"),
    )


# --------------------------------------------------------------------------
# BM25 lexical retrieval (operators/textstats.bm25_scores)
# --------------------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window", "stream"]


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term IN ({terms}) GROUP BY 1, 2),
    dl AS (SELECT doc_id, len({_TOKENS_SQL}) AS dl FROM documents),
    tot AS (SELECT COUNT(*) AS n, SUM(len({_TOKENS_SQL})) AS tk FROM documents),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    idf AS (SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf,
                   CAST(tk AS DOUBLE) / n AS avgdl
            FROM dft, tot),
    s AS (SELECT tf.doc_id AS doc_id,
                 CAST(round((idf.idf * (tf.tf * 2.2))
                            / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / idf.avgdl))),
                            9) AS DECIMAL(28,12)) AS s
          FROM tf JOIN idf USING (term) JOIN dl USING (doc_id))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
           round(CAST(SUM(s) AS DOUBLE), 6) AS score
    FROM s GROUP BY doc_id
    """


@_q("q_text_bm25", _bm25_sql())
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed 4-term
    query — the lexical retrieval scorer beside the dense kNN family
    (hybrid RAG stacks run both and fuse). Lucene's always-positive
    idf; per-term scores round to 9 dp and DECIMAL-sum per doc so the
    reduce is order-free. Corpus scan is filtered to matching tokens
    before the only data-sized exchange; idf/avgdl are broadcast
    scalars. See textstats.bm25_scores."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import bm25_scores

    return bm25_scores(load_table(spark, sf_dir, "documents"), _BM25_TERMS)


@_q(
    "q_events_interpolate",
    """
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1 FROM events),
    spine AS (
      SELECT t.day::DATE AS day, et.event_type
      FROM (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
            FROM bounds) t
      CROSS JOIN (SELECT DISTINCT event_type FROM events) et),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS v
      FROM events GROUP BY 1, 2),
    ctx AS (
      SELECT spine.day, spine.event_type, daily.v,
             -- pd/nd gate on v (not daily.day): a day whose values are
             -- ALL NULL has a daily row but no observation, and must
             -- not advance the anchor (mirrors the Spark side exactly)
             LAST_VALUE(CASE WHEN daily.v IS NOT NULL THEN daily.day END
                        IGNORE NULLS) OVER wp AS pd,
             LAST_VALUE(daily.v IGNORE NULLS) OVER wp AS pv,
             FIRST_VALUE(CASE WHEN daily.v IS NOT NULL THEN daily.day END
                         IGNORE NULLS) OVER wn AS nd,
             FIRST_VALUE(daily.v IGNORE NULLS) OVER wn AS nv
      FROM spine LEFT JOIN daily
        ON daily.day = spine.day AND daily.event_type = spine.event_type
      WINDOW
        wp AS (PARTITION BY spine.event_type ORDER BY spine.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wn AS (PARTITION BY spine.event_type ORDER BY spine.day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  round(pv + (nv - pv) * (date_diff('day', pd, day) * 1.0)
                             / date_diff('day', pd, nd), 6)
                WHEN pv IS NOT NULL THEN pv
                ELSE nv END AS v_interp,
           (v IS NOT NULL) AS observed
    FROM ctx
    """,
)
def q_events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the gap-filled daily series: per
    (event_type, day) the mean value where observed, else the linear
    blend of the PREVIOUS and NEXT observed days (forward/backward
    fill at the series edges) — the densification a model-features
    pipeline runs after q_events_daily_gapfill's zero-fill isn't right
    for level metrics. Grouped windows only (ignore-nulls last/first
    over the per-type spine — partitioned by type, so no global
    window); the spine is the same broadcast-sized date × type grid.
    Determinism: daily means are decimal-summed then 6dp-rounded, the
    interpolation re-rounds at 6dp, and day fractions are exact
    integer ratios."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = ev.select("event_type").distinct()
    spine = days.crossJoin(types)
    daily = ev.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("v")
    )
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ctx = (
        spine.join(F.broadcast(daily), ["day", "event_type"], "left")
        .withColumn("pd", F.last(F.when(F.col("v").isNotNull(), F.col("day")), True).over(wp))
        .withColumn("pv", F.last("v", True).over(wp))
        .withColumn("nd", F.first(F.when(F.col("v").isNotNull(), F.col("day")), True).over(wn))
        .withColumn("nv", F.first("v", True).over(wn))
    )
    frac = F.datediff("day", "pd") * F.lit(1.0) / F.datediff("nd", "pd")
    return ctx.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.round(F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
        .alias("v_interp"),
        F.col("v").isNotNull().alias("observed"),
    )


@_q(
    "q_dq_referential_integrity",
    """
    SELECT 'lineitem->orders' AS edge,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->supplier',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                   WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'supplier->nation',
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT),
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'nation->region',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation n
                 WHERE NOT EXISTS (SELECT 1 FROM region r
                                   WHERE r.r_regionkey = n.n_regionkey)) AS BIGINT)
    """,
)
def q_dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star
    schema: per edge, child cardinality and orphan count (left-anti
    against the parent key). All-zero orphans on intact data — the
    query is the audit a warehouse runs after every load, and the
    anti-joins are the scale shape (broadcast for dim parents, shuffle
    anti only on the fact-fact edge). Complements
    q_dq_constraint_audit's row-level checks with the cross-table
    ones."""
    def edge(child: DataFrame, parent: DataFrame, ck: str, pk: str, name: str):
        orphans = child.join(
            parent.select(F.col(pk).alias(ck)), ck, "left_anti"
        )
        return (
            child.agg(F.count("*").cast("bigint").alias("n_child"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(
                        F.count("*").cast("bigint").alias("n_orphans")
                    )
                )
            )
            .select(F.lit(name).alias("edge"), "n_child", "n_orphans")
        )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    parts = [
        edge(li, o, "l_orderkey", "o_orderkey", "lineitem->orders"),
        edge(li, p, "l_partkey", "p_partkey", "lineitem->part"),
        edge(li, s, "l_suppkey", "s_suppkey", "lineitem->supplier"),
        edge(o, c, "o_custkey", "c_custkey", "orders->customer"),
        edge(c, n, "c_nationkey", "n_nationkey", "customer->nation"),
        edge(s, n, "s_nationkey", "n_nationkey", "supplier->nation"),
        edge(n, r, "n_regionkey", "r_regionkey", "nation->region"),
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionAll(x)
    return out


@_q(
    "q_sample_weighted_aes",
    f"""
    WITH w AS (
      SELECT doc_id, lang, len({_TOKENS_SQL}) + 1 AS wt FROM documents),
    keyed AS (
      SELECT doc_id, lang, wt,
             round(-ln((('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        * 1.0 + 0.5) / 4294967296.0)
                   / CAST(wt AS DOUBLE), 9) AS t
      FROM w),
    sel AS (
      SELECT * FROM keyed ORDER BY t, doc_id LIMIT 200)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sel,
           CAST(SUM(wt) AS BIGINT) AS sel_tokens
    FROM sel GROUP BY lang
    """,
)
def q_sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling without replacement (Efraimidis-
    Spirakis exponential race, sampling.sample_weighted_topk): 200
    docs drawn with inclusion ∝ (token count + 1) via content-
    addressed arrival times — the exact-size companion to the
    Bernoulli q_dsir_weighted_sample (a mixing budget that must be HIT,
    not met in expectation). Per-lang selected-count and token mass;
    longer-doc languages oversample ∝ their token share. The top-k is
    a TakeOrderedAndProject — no global sort."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import (
        sample_weighted_topk,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", (token_count("text") + 1).alias("wt")
    )
    sel = sample_weighted_topk(d, "doc_id", "wt", k=200, salt="aes:")
    return sel.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_sel"),
        F.sum("wt").cast("bigint").alias("sel_tokens"),
    )


@_q(
    "q_sample_weighted_aes_by_lang",
    f"""
    WITH w AS (
      SELECT doc_id, lang, len({_TOKENS_SQL}) + 1 AS wt FROM documents),
    keyed AS (
      SELECT doc_id, lang, wt,
             round(-ln((('0x' || substr(md5('aesg:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        * 1.0 + 0.5) / 4294967296.0)
                   / CAST(wt AS DOUBLE), 9) AS t
      FROM w),
    sel AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY t, doc_id) AS rn
        FROM keyed) z
      WHERE rn <= 40)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sel,
           CAST(SUM(wt) AS BIGINT) AS sel_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM sel GROUP BY lang
    """,
)
def q_sample_weighted_aes_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed exact-k weighted sampling
    (sampling.sample_weighted_topk_by_group): 40 docs from EVERY
    language, inclusion ∝ (token count + 1) within the stratum — the
    per-source quota form of q_sample_weighted_aes (a mixing recipe
    says "k from each feed", not "k overall"). The top-k window is
    partitioned by lang, so no stratum funnels through one task;
    per-lang token mass and the smallest selected id pin the selected
    SET, not just its size."""
    from reddit_apache_airflow_postgres_pipeline_spark.operators.sampling import (
        sample_weighted_topk_by_group,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.operators.textstats import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", (token_count("text") + 1).alias("wt")
    )
    sel = sample_weighted_topk_by_group(
        d, "doc_id", "wt", "lang", k=40, salt="aesg:"
    )
    return sel.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_sel"),
        F.sum("wt").cast("bigint").alias("sel_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )
