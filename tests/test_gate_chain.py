"""The admission-gate chain, both engines, on a hand-built pair set.

``registry_ml._chain_from_pairs`` (Spark) and ``_gate_chain_ctes`` plus
``_blocker_cte`` (the oracle's SQL, run here by DuckDB) must give the
same decisions and the same eligible-blocker sets, and both must match
the policy worked out by hand. Also pins the gate family's module
attributes against ``queries()`` without a Spark session."""

from __future__ import annotations

import duckdb
import pytest

from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import queries

# registers every registry module in queries()' canonical order before
# this file imports two of them (tests/test_oracle_pin.py pins that order)
QUERIES = queries()

from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_ml as ML  # noqa: E402
from reddit_apache_airflow_postgres_pipeline_spark.plans import registry_mm as MMQ  # noqa: E402

N_GENS = 3  # a doc's generation is doc % 3

# undirected candidate pairs over docs 0..11
PAIRS = [
    (0, 3),  # 3 loses to a smaller id of its own generation
    (0, 1),  # 1 is blocked by an accepted earlier doc
    (3, 4),  # 4's only earlier blocker, 3, was rejected: 4 is admitted
    (1, 7),  # 7's same-generation smaller blocker 1 was rejected, and
    #          still blocks it (the pessimistic rule)
    (6, 10),
    (9, 10),  # 10 has two accepted earlier blockers; 9 is not blocked
    #           by the later-generation 10
    (4, 5),
    (2, 5),  # 5: an accepted earlier blocker and a smaller in-gen one
    (7, 8),  # 8's only earlier blocker, 7, was rejected
]
# doc 11 has no pairs at all

ADMITTED = {0: True, 3: False, 6: True, 9: True,
            1: False, 4: True, 7: False, 10: False,
            2: True, 5: False, 8: True, 11: True}
BLOCKERS = {(3, 0), (1, 0), (7, 1), (10, 6), (10, 9), (5, 4), (5, 2)}


def _directed():
    return [(a, b) for a, b in PAIRS] + [(b, a) for a, b in PAIRS]


def _duckdb_chain():
    con = duckdb.connect()
    con.execute("CREATE TABLE gens (doc INTEGER, gen INTEGER)")
    con.executemany(
        "INSERT INTO gens VALUES (?, ?)", [(d, d % N_GENS) for d in ADMITTED]
    )
    con.execute("CREATE TABLE pairs (id_a INTEGER, id_b INTEGER)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", _directed())
    names = [f"blk{g}" for g in range(N_GENS)]
    blks = [
        ML._blocker_cte(n, "e.id_a AS doc, e.id_b AS odoc", "pairs", g)
        for g, n in enumerate(names)
    ]
    ctes = "WITH " + "\n".join(
        [ML._gate_chain_ctes("pairs", "", N_GENS) + ",", *blks,
         ML._union_cte("blk", names)]
    )
    decs = con.execute(
        ctes + "\nSELECT doc, doc NOT IN (SELECT doc FROM rej) FROM gens"
    ).fetchall()
    blk = con.execute(ctes + "\nSELECT doc, odoc FROM blk").fetchall()
    return dict(decs), blk


def _spark_chain(spark):
    gens = spark.createDataFrame(
        [(d, d % N_GENS) for d in ADMITTED], "doc INT, gen INT"
    )
    pairs = spark.createDataFrame(
        [(a, b, a % N_GENS, b % N_GENS) for a, b in _directed()],
        "doc INT, odoc INT, gen_d INT, gen_o INT",
    )
    decs, blks = ML._chain_from_pairs(gens, pairs, N_GENS)
    dec = {r.doc: r.admitted for d in decs for r in d.collect()}
    blk = [(r.doc, r.odoc) for b in blks for r in b.collect()]
    return dec, blk


def test_chain_spark_equals_oracle_sql_on_hand_built_pairs(spark):
    sdec, sblk = _spark_chain(spark)
    ddec, dblk = _duckdb_chain()
    assert sdec == ddec == ADMITTED
    # each eligible blocker once per doc, in both engines
    assert sorted(sblk) == sorted(dblk) == sorted(BLOCKERS)


GATE_ATTRS = {
    ML: ["q_neardup_gate_replay", "q_neardup_gate_dup_of", "q_gate_admission_drift"],
    MMQ: ["q_media_gate_replay", "q_media_gate_dup_of", "q_multimodal_gate_replay"],
}


@pytest.mark.parametrize(
    "module, name",
    [(m, n) for m, names in GATE_ATTRS.items() for n in names],
    ids=lambda v: v if isinstance(v, str) else v.__name__.rsplit(".", 1)[-1],
)
def test_gate_queries_are_module_attributes(module, name):
    assert getattr(module, name) is QUERIES[name]
