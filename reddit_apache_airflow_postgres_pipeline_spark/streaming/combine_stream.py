"""Incremental combine as a Structured Streaming query.

The reference's combine DAG is cron micro-batching over a file inbox:
drain ``data/``, normalize + first-wins dedup, upsert into Postgres,
archive consumed files to ``data/loaded/`` (SURVEY.md §2.E; DAG at
Combine_send_to_postgresql.py:122-264). Structured Streaming's file
source is the exact semantic match: checkpointed exactly-once input
consumption, ``Trigger.AvailableNow`` for the scheduled-drain cadence,
and idempotent PK-upsert output via ``foreachBatch``.

Design — file-NAME stream, not file-CONTENT stream: streaming CSV binds
one static schema by POSITION, which breaks the reference's per-file
header drift tolerance (gen-1 files have 7 columns, current files 11 —
SURVEY.md §1.3). So the stream reads the inbox as ``format("text")``
purely to get Spark's checkpointed file tracking, and ``foreachBatch``
re-reads that batch's file list with the drift-tolerant batch reader
(:func:`...sources.files.read_csv_paths`) before running the SAME
transform composition as batch mode (``combine_pipeline``). Files are
immutable once landed (the reference writes tmp → rename, A6), so the
re-read is consistent.

Archival happens driver-side inside ``foreachBatch`` AFTER the merge
callback returns, mirroring the reference's move-after-commit order
(A11). If the process dies between the batch commit and the move, the
file stays in the inbox but is never re-processed (the checkpoint's file
log already owns it) — same at-least-archived / exactly-once-processed
contract as the reference's Postgres-txn-then-move sequence.

100 TB posture: the per-batch work is the batch combine plan (one
shuffle on ``thing_key``); the text pre-scan adds one cheap pass that
never leaves the executors except as a distinct file-name list (file
COUNT sized, not row sized). ``max_files_per_trigger`` bounds batch size
for backpressure (SURVEY §2.E).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from reddit_apache_airflow_postgres_pipeline_spark.config import EngineConfig
from reddit_apache_airflow_postgres_pipeline_spark.operators.merge import upsert_merge
from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import combine_pipeline
from reddit_apache_airflow_postgres_pipeline_spark.schemas import (
    DB_COLUMNS,
    FETCH_CSV,
    UPSERT_UPDATE_COLUMNS,
)
from reddit_apache_airflow_postgres_pipeline_spark.session import local_df
from reddit_apache_airflow_postgres_pipeline_spark.sinks.archive import archive_files
from reddit_apache_airflow_postgres_pipeline_spark.sources.files import (
    decoded_input_file,
    read_csv_paths,
)


@dataclass
class MemoryUpsertTarget:
    """In-memory upsert target for tests/demos — the pure-Spark J1 merge
    applied batch-over-batch. Production uses a Postgres merge callback
    instead (sinks/postgres.py); both are idempotent on ``thing_key`` so
    foreachBatch re-delivery after a crash converges (D2). The target
    keeps the first batch's column types (all-string ``FETCH_CSV``
    until one arrives): a column NULL in every held row has no Python
    value to infer a type from."""

    key: str = "thing_key"
    update_cols: list[str] = field(default_factory=lambda: list(UPSERT_UPDATE_COLUMNS))
    _rows: list = field(default_factory=list)
    _schema: StructType = FETCH_CSV

    def merge(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.select(*DB_COLUMNS)
        if self._rows:
            target = self.df(batch_df.sparkSession)
            merged = upsert_merge(target, batch_df, self.key, self.update_cols)
        else:
            self._schema = StructType(
                [StructField(f.name, f.dataType) for f in batch_df.schema]
            )
            merged = batch_df
        # The *target table* lives driver-side here only because this is
        # the test double; the production target is Postgres.
        self._rows = [tuple(r) for r in merged.collect()]

    def df(self, spark: SparkSession) -> DataFrame:
        return local_df(spark, self._rows, self._schema)


def start_combine_stream(
    spark: SparkSession,
    cfg: EngineConfig,
    checkpoint_dir: str,
    merge_batch: Callable[[DataFrame, int], None],
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    archive: bool = True,
):
    """Start the incremental combine stream; returns the StreamingQuery.

    ``merge_batch(combined_df, epoch_id)`` receives the batch's combined
    11-column relation (normalized, first-wins-deduped within the batch)
    and must merge it idempotently into the target. Cross-batch dedup is
    the merge itself: later batches update the 5 mutable columns, exactly
    like the reference's ON CONFLICT upsert (D2).
    """
    pattern = os.path.join(cfg.data_dir, f"{cfg.csv_glob_prefix}*.csv")
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    names = reader.load(pattern)

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        # decoded_input_file: percent-decoded local paths, so names with
        # spaces/%/non-ASCII re-read and archive correctly (cf. files.py).
        files = sorted(
            r["f"]
            for r in batch_df.select(decoded_input_file().alias("f"))
            .distinct()
            .collect()
        )
        if not files:
            return
        scan = read_csv_paths(spark, files)
        combined = combine_pipeline(scan.df, cfg)
        merge_batch(combined, epoch_id)
        if archive:
            archive_files(files, cfg.loaded_dir)

    writer = names.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 minutes")  # fetch cadence parity
    return writer.start()
