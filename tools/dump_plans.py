#!/usr/bin/env python
"""Dump the formatted physical plan of the bench's headline and family
queries into ``<out_dir>/<query>_<tag>.txt`` (tag: before/after, or any
label), for plan diffs across a change.

    python tools/dump_plans.py <out_dir> <tag> [query ...]

Reads the tables under ``$SPARK_GRAFT_SF_DIR`` (required, e.g. the
sf0.1 test data) and defaults to every headline query plus
``bench.FAMILY_QUERIES``. Plan capture only — nothing is timed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import FAMILY_QUERIES  # noqa: E402
from reddit_apache_airflow_postgres_pipeline_spark.plans.registry import (  # noqa: E402
    headline_queries,
    queries as all_queries,
)
from reddit_apache_airflow_postgres_pipeline_spark.session import get_spark  # noqa: E402


def bench_queries() -> dict:
    """The bench's timed set: headline queries, then the families."""
    qs = dict(headline_queries())
    fam = all_queries()
    qs.update((n, fam[n]) for n in FAMILY_QUERIES)
    return qs


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(argv) < 2 or not sf_dir:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    out_dir, tag, wanted = argv[0], argv[1], argv[2:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench_queries()
    for name in wanted or list(qs):
        df = qs[name](spark, sf_dir)
        txt = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
