#!/usr/bin/env python
"""Split each bench query's wall time into CONSTRUCTION (the Python
call that builds the DataFrame — py4j expression building plus any
jobs launched while building) vs EXECUTION (the noop materialization),
after one untimed warm-up pass; prints the min of ``$PHASE_REPS``
(default 2) per phase. Diagnostic only.

    python tools/time_phases.py [query ...]

Reads the tables under ``$SPARK_GRAFT_SF_DIR`` (required, e.g. the
sf0.1 test data) and defaults to every headline query plus
``bench.FAMILY_QUERIES``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dump_plans import bench_queries  # noqa: E402
from reddit_apache_airflow_postgres_pipeline_spark.session import get_spark  # noqa: E402


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    reps = int(os.environ.get("PHASE_REPS", "2"))
    spark = get_spark(app_name="phase-times")
    spark.sparkContext.setLogLevel("ERROR")
    qs = bench_queries()
    for name in argv or list(qs):
        fn = qs[name]
        try:
            _noop(fn(spark, sf_dir))
            spark.catalog.clearCache()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: WARMUP FAILED {exc!r}")
            continue
        best_c = best_e = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _noop(df)
            t2 = time.perf_counter()
            spark.catalog.clearCache()
            best_c, best_e = min(best_c, t1 - t0), min(best_e, t2 - t1)
        print(f"{name:45s} construct={best_c:7.3f}s execute={best_e:7.3f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
