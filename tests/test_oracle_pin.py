"""Byte-level pins on the registry's driver contract, no Spark session.

``oracle_sql()`` values are pinned by sha256 and ``queries()`` by its
full key list (order included: the driver's correctness gate checks
``list(queries())[:50]``, see tests/test_entry_oracle.py). A refactor
of the registry must leave both unchanged; a deliberate oracle change
regenerates the pin file and says why in the commit:

    python tests/test_oracle_pin.py
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import subprocess
import sys

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PIN = pathlib.Path(__file__).with_name("oracle_pin.json")


def _current() -> dict:
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry

    return {
        "keys": list(entry.queries()),
        "oracle_sha256": {
            name: hashlib.sha256(sql.encode()).hexdigest()
            for name, sql in entry.oracle_sql().items()
        },
    }


def test_query_keys_and_order_pinned():
    assert _current()["keys"] == json.loads(PIN.read_text())["keys"]


_PKG = "reddit_apache_airflow_postgres_pipeline_spark.plans"


@pytest.mark.parametrize(
    "first",
    ["__spark_entry__", f"{_PKG}.registry"]
    + [
        f"{_PKG}.registry_{m}"
        for m in ("curation", "ingest", "ml", "mm", "stats", "tpch", "ts")
    ],
    ids=lambda m: m.rsplit(".", 1)[-1],
)
def test_query_order_independent_of_first_import(first):
    """The sub-registries register their rows on first import and
    import each other mid-file; whichever a fresh process imports
    first, ``queries()`` keeps the pinned order."""
    code = (
        f"import {first}\n"
        "import json, __spark_entry__ as e\n"
        "print(json.dumps(list(e.queries())))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    ).stdout
    assert json.loads(out) == json.loads(PIN.read_text())["keys"]


def test_oracle_sql_bytes_pinned():
    got = _current()["oracle_sha256"]
    want = json.loads(PIN.read_text())["oracle_sha256"]
    assert sorted(got) == sorted(want)
    changed = sorted(n for n in want if got[n] != want[n])
    assert not changed, f"oracle_sql() text changed for: {changed}"


if __name__ == "__main__":
    PIN.write_text(json.dumps(_current(), indent=1, sort_keys=True) + "\n")
