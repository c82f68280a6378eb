"""Atomic single-file CSV sink (SURVEY.md A6-A7).

The reference writes ``path + '.tmp'`` then ``os.replace`` for atomic
visibility (Fetch_reddit.py:235-258, Combine_send_to_postgresql.py:179-184),
with deterministic run-stamped names (timestamps INJECTED, never now() —
A7 determinism).

Spark version: write a part-directory via the normal committer (already
atomic-visible), then a driver-side rename of the single part file to the
final name. ``single_file=True`` coalesces to one partition — fine for the
reference's parity mode (inbox-sized outputs), a deliberate scalability
cliff otherwise: for large outputs pass ``single_file=False`` and get a
directory of parts.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def write_atomic_csv(
    df: DataFrame,
    dest_path: str,
    single_file: bool = True,
    header: bool = True,
) -> str:
    """Write ``df`` as CSV to ``dest_path`` (a file if single_file else a
    directory), atomically: nothing partial is ever visible at dest."""
    os.makedirs(os.path.dirname(dest_path) or ".", exist_ok=True)
    staging = tempfile.mkdtemp(
        prefix=".spark-csv-", dir=os.path.dirname(dest_path) or "."
    )
    out_dir = os.path.join(staging, "out")
    writer = df.coalesce(1) if single_file else df
    # Empty-string-not-NULL convention of the reference CSVs (SURVEY §1.2):
    # emptyValue/nullValue both write '' unquoted. escape='"' makes
    # embedded quotes RFC4180 quote-DOUBLED ("" not \") — the dialect
    # Postgres `COPY ... WITH (FORMAT csv, QUOTE '"')` and Python's csv
    # module (the reference's writer) both speak; Spark's default
    # backslash escape corrupts such values on the PG wire path. Spark's
    # writer also trims whitespace at field ends by default; Python's
    # csv module keeps it, so both trims are switched off.
    writer.write.option("header", header).option("emptyValue", "").option(
        "nullValue", ""
    ).option("escape", '"').option("ignoreLeadingWhiteSpace", False).option(
        "ignoreTrailingWhiteSpace", False
    ).mode("overwrite").csv(out_dir)
    try:
        if single_file:
            parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
            if len(parts) != 1:
                raise RuntimeError(f"expected one part file, got {parts}")
            os.replace(parts[0], dest_path)  # same-filesystem atomic rename
        else:
            if os.path.isdir(dest_path):
                shutil.rmtree(dest_path)
            os.replace(out_dir, dest_path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return dest_path
