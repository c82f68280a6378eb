"""Drift-tolerant CSV inbox scan with deterministic lineage columns.

Reference behavior (SURVEY.md §2.A A4-A5): the combiner lists ``DATA_DIR``
sorted lexicographically, keeps ``{prefix}*.csv``, reads each with
``csv.DictReader`` (all values strings), skipping unreadable/empty files
(Combine_send_to_postgresql.py:63-79). File order → row precedence for the
first-wins dedup (D1), so the scan must expose a deterministic
``(file_seq, row_seq)`` lineage.

Spark design: one multi-path ``spark.read.csv`` (NOT a per-file union — the
plan stays O(1) in file count, which matters with thousands of inbox files
at scale), with:

* ``file_seq``  — dense rank of the file name within the scanned set,
  computed from a tiny driver-side listing broadcast into the plan
  (file *names* are driver-visible metadata, not data — this is not a
  collect of row data).
* ``row_seq``   — in-file row position. CSV has no ``_metadata.row_index``
  (Parquet-only in Spark ≤4.1), so we read with ``multiLine=true`` which
  makes CSV non-splittable → each file is exactly one partition → a
  ``row_number`` over (file, monotonically_increasing_id) is the exact
  in-file order. Inbox files are per-run small (reference: ≤100 rows/file),
  so whole-file partitions are the right trade at any scale; huge-file
  inputs should use the parquet path instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_apache_airflow_postgres_pipeline_spark.session import local_df


def decoded_input_file() -> F.Column:
    """``input_file_name()`` decoded to the local filesystem path.

    The builtin returns a percent-encoded ``file:`` URI, so a filename
    with a space, ``%`` or non-ASCII char would fail a raw string
    equi-join against a driver-side ``os.listdir`` listing (leaving
    ``file_seq`` NULL — which sorts first and silently inverts the D1
    first-wins precedence). Decode before joining. ``url_decode`` is
    form-decoding (``+`` → space), but URIs encode a space as ``%20``
    never ``+``, so any literal ``+`` is itself re-encoded to ``%2B``
    first to round-trip exactly."""
    stripped = F.regexp_replace(F.input_file_name(), "^file:(//)?", "")
    return F.url_decode(F.regexp_replace(stripped, r"\+", "%2B"))


@dataclass(frozen=True)
class InboxScan:
    df: DataFrame
    files: list[str]  # lexicographically sorted absolute paths actually scanned
    skipped: list[str]  # unreadable/empty files (archived but contribute no rows)


def list_inbox(data_dir: str, prefix: str = "", suffix: str = ".csv") -> list[str]:
    """A4: sorted(listdir) with prefix/suffix predicate
    (Combine_send_to_postgresql.py:63-73)."""
    if not os.path.isdir(data_dir):
        return []
    return [
        os.path.join(data_dir, name)
        for name in sorted(os.listdir(data_dir))
        if name.endswith(suffix) and name.startswith(prefix)
    ]


def resolve_latest(
    data_dir: str,
    exact: str | None = None,
    prefix: str = "",
    suffix: str = ".csv",
    max_age_s: float = 1800.0,
    now: float | None = None,
) -> str | None:
    """A12 (gen-1 file-arrival sensor path resolver, SURVEY.md §2.A):
    prefer the exact expected filename; otherwise the newest
    prefix/suffix match whose mtime is within ``max_age_s`` (30 min in
    the reference). Returns None when nothing qualifies — the caller's
    sensor/trigger loop keeps polling (streaming mode subsumes this with
    the checkpointed file source)."""
    import time as _time

    if exact:
        p = os.path.join(data_dir, exact)
        if os.path.isfile(p):
            return p
    now = _time.time() if now is None else now
    best: tuple[float, str] | None = None
    for p in list_inbox(data_dir, prefix, suffix):
        try:
            mtime = os.path.getmtime(p)
        except OSError:  # raced with an archive move — not a candidate
            continue
        if now - mtime <= max_age_s and (best is None or mtime > best[0]):
            best = (mtime, p)
    return best[1] if best else None


def read_csv_inbox(
    spark: SparkSession,
    data_dir: str,
    prefix: str = "",
    columns: list[str] | None = None,
) -> InboxScan:
    """Scan the inbox as ONE DataFrame with lineage columns
    ``_file, file_seq, row_seq``.

    All data columns are StringType (schema-on-read parity, A5); missing
    columns are added as NULL so drift variants union cleanly. Empty and
    headerless files are skipped like the reference's try/except read
    (Combine_send_to_postgresql.py:140-150).
    """
    return read_csv_paths(spark, list_inbox(data_dir, prefix), columns)


def read_csv_paths(
    spark: SparkSession,
    paths: list[str],
    columns: list[str] | None = None,
) -> InboxScan:
    """Path-list core of :func:`read_csv_inbox` — also used by the
    streaming combine's ``foreachBatch`` re-read, where the file set comes
    from the stream's batch rather than a directory listing. ``paths``
    order defines ``file_seq`` precedence; callers pass a sorted list."""
    usable: list[str] = []
    skipped: list[str] = []
    all_cols: list[str] = list(columns or [])
    per_file_cols: dict[str, list[str]] = {}
    import csv as _csv

    for p in paths:
        # Header sniff is driver-side file *metadata* work (one line per
        # file), mirroring DictReader's fieldnames probe. Unreadable,
        # non-UTF-8 (binary garbage), and unparsable-header files are
        # SKIPPED like the reference's try/except around _read_csv
        # (Combine_send_to_postgresql.py:140-150) — they still get
        # archived by the caller, never crash the run.
        try:
            with open(p, encoding="utf-8", errors="strict") as fh:
                header = fh.readline().strip()
            cols = next(iter(_csv.reader([header]))) if header else []
        except (OSError, UnicodeDecodeError, _csv.Error):
            skipped.append(p)
            continue
        if not cols:
            skipped.append(p)
            continue
        per_file_cols[p] = cols
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)
        usable.append(p)

    if not usable:
        empty = local_df(
            spark,
            [],
            T.StructType(
                [T.StructField(c, T.StringType()) for c in all_cols]
                + [
                    T.StructField("_file", T.StringType()),
                    T.StructField("file_seq", T.LongType()),
                    T.StructField("row_seq", T.LongType()),
                ]
            ),
        )
        return InboxScan(df=empty, files=[], skipped=skipped)

    # Group files by identical header so each group is one scan with an
    # explicit all-string schema; groups are unioned by name. The number
    # of *distinct schemas* is tiny (producer generations), so the plan
    # stays small even with thousands of files.
    by_schema: dict[tuple[str, ...], list[str]] = {}
    for p in usable:
        by_schema.setdefault(tuple(per_file_cols[p]), []).append(p)

    file_seq_map = {p: i for i, p in enumerate(usable)}  # lexicographic rank
    seq_entries = [(p, i) for p, i in file_seq_map.items()]
    seq_df = local_df(spark, seq_entries, "_file string, file_seq long")

    parts: list[DataFrame] = []
    for cols, group in by_schema.items():
        schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
        part = (
            spark.read.option("header", True)
            .option("multiLine", True)  # forces whole-file partitions → exact row order
            .option("mode", "PERMISSIVE")
            # RFC4180 doubled quotes ("") — the dialect the reference's
            # Python csv writer produces; Spark's default backslash
            # escape mis-parses values with embedded quotes.
            .option("escape", '"')
            .schema(schema)
            .csv(group)
            .withColumn("_file", decoded_input_file())
            .withColumn("_mid", F.monotonically_increasing_id())
        )
        for c in all_cols:
            if c not in cols:
                part = part.withColumn(c, F.lit(None).cast("string"))
        parts.append(part.select(*all_cols, "_file", "_mid"))

    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    # _file is already the decoded local path (decoded_input_file), so it
    # equi-joins exactly with the driver-side listing.
    df = df.join(F.broadcast(seq_df), "_file", "left")

    from pyspark.sql import Window

    w = Window.partitionBy("_file").orderBy("_mid")
    df = df.withColumn("row_seq", F.row_number().over(w).cast("long")).drop("_mid")
    return InboxScan(df=df, files=usable, skipped=skipped)
