"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), broadcast threshold generous enough to
keep dimension joins shuffle-free, Arrow enabled for the sanctioned
pandas_udf extension point, and UTC session time (reference runs Airflow
with ``default_timezone = utc``, airflow.cfg:43).

VERSION PIN: written and tested against PySpark 4.1.x (the container's
baked-in build). Known 4.1-sensitive surfaces, each localized with a
comment at the use site: the ``_jdf`` plan-stats reach-in
(operators/neardup.py:_plan_size_bytes — guarded, safe fallback), the
``PythonSQLUtils.explainString`` call in the plan tests/audit, and
:func:`local_df`. That helper relies on ``createDataFrame(pyarrow.Table)``
becoming a JVM ``LocalRelation`` while the table is under
``spark.sql.execution.arrow.localRelationThreshold`` (a JVM-side RDD of
Arrow batches above it), and it reuses PySpark's row verifier
``types._make_type_verifier``. Everything else is public DataFrame API.
"""

from __future__ import annotations

import os
import re
from typing import Any, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _make_type_verifier

_LONE_SURROGATE = re.compile("[\ud800-\udfff]")


def _default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half of the
    host's physical memory, at most 16 GiB, in MiB — so that a second
    session beside a busy one cannot ask for more heap than the host
    holds."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "reddit-apache-airflow-postgres-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller leaves it None and spark-submit supplies it.
    ``shuffle_partitions`` defaults to the local core count — on a cluster
    set it to 2-3x total executor cores (AQE coalesces the excess).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime partition coalescing + skew-join handling — the
        # first line of defense for hot keys at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Default advisory size (64m) coalesces small-but-CPU-heavy
        # shuffles (shingle joins, vector math) down to ONE task; 8m keeps
        # them parallel while still batching genuinely tiny exchanges.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        # Arrow for pandas_udf / mapInPandas (vectors, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the Python call site for every DataFrame
        # API call when this is on (the default): getActiveSession +
        # conf.get + origin set/clear = ~4 extra py4j round trips PER
        # CALL, plus a Python traceback walk. Measured on q_sim_sq8
        # construction: 11,683 -> 3,673 round trips with it off. Pure
        # driver-side instrumentation — plans, results and executor
        # work are unchanged; only error messages lose the "called at
        # <file>:<line>" DataFrame context. (guide §5: the driver
        # should do almost no work; query CONSTRUCTION is driver work.)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Keep small-dim joins broadcast (region/nation/supplier style).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Stable timestamp behavior for the DuckDB oracle comparison.
        .config("spark.sql.datetime.java8API.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _arrow_column(values: list, typ: pa.DataType) -> pa.Array:
    """``values`` as one Arrow array. Arrow refuses a lone UTF-16
    surrogate (``json.loads`` yields one for an unpaired ``\\ud83d``
    escape); the JVM decoder behind ``createDataFrame(list)`` turns each
    into U+FFFD, and so does this."""
    try:
        return pa.array(values, typ)
    except UnicodeEncodeError:
        return pa.array(
            [
                _LONE_SURROGATE.sub("\ufffd", v) if isinstance(v, str) else v
                for v in values
            ],
            typ,
        )


def local_df(
    spark: SparkSession, rows: Iterable[Any], schema: StructType | str
) -> DataFrame:
    """Driver-side rows (tuples, ``Row``s or dicts keyed by field name)
    as a DataFrame of ``schema`` (a ``StructType`` or DDL string).

    ``createDataFrame(list)`` pickles the rows into a Python RDD
    (``Scan ExistingRDD``) that a Python worker decodes: 1.2-1.6 s of
    process CPU per call whatever the row count (local[4], 4-core VM).
    Here the rows become a ``pyarrow.Table`` that the JVM reads as a
    ``LocalRelation`` (``LocalTableScan``) with no Python worker:
    0.1-0.25 s. Rows pass the same verifier ``createDataFrame`` runs,
    so a wrong-typed or out-of-range value raises the same error; a
    non-string in a string column, which the pickled path turned into
    Java's ``toString``, raises too."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    rows = list(rows)
    for r in rows:
        verify(r)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        _arrow_column(
            [r.get(f.name) if isinstance(r, dict) else r[i] for r in rows], f.type
        )
        for i, f in enumerate(arrow_schema)
    ]
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )
