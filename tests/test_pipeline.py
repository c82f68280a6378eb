"""End-to-end combine pipeline on reference-shaped fixture CSVs
(FIXTURES.md §6 scenario matrix), cross-checked against a pure-Python
re-implementation of the reference semantics."""

from __future__ import annotations

import csv
import hashlib
import os
import re

import pytest

from reddit_apache_airflow_postgres_pipeline_spark.config import EngineConfig
from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import run_combine
from reddit_apache_airflow_postgres_pipeline_spark.schemas import DB_COLUMNS

SALT = "test-salt"


def _h(v):
    return hashlib.sha256((SALT + str(v)).encode()).hexdigest() if v else ""


def write_csv(path, cols, rows):
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(cols)
        w.writerows(rows)


@pytest.fixture()
def inbox(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    # file 1 (current-gen schema): two rows, one dup key with file 2
    write_csv(
        data / "italytravel_20250909T010000.csv",
        DB_COLUMNS,
        [
            ["k1", "t3", "id1", "2025-09-09T01:00:00Z", "5", "2", "first k1", "ah1", "/r/x/1/", "ItalyTravel", ""],
            ["k2", "t3", "id2", "2025-09-09T01:00:01Z", "", "abc", "t two", "ah2", "/R/X/2///", "", "Question"],
        ],
    )
    # file 2: duplicate k1 (must lose), new k3
    write_csv(
        data / "italytravel_20250909T020000.csv",
        DB_COLUMNS,
        [
            ["k1", "t3", "id1", "2025-09-09T02:00:00Z", "9", "9", "later k1 must lose", "ah1", "/r/x/1/", "ItalyTravel", ""],
            ["k3", "", "id3", "", "3.5", "4", "t three", "", "/r/x/3", "", ""],
        ],
    )
    # file 3 (gen-1 legacy schema): no thing_key → derived; one row with no id/permalink → dropped
    write_csv(
        data / "italytravel_legacy.csv",
        ["id", "author", "title", "score", "num_comments", "created_at", "permalink"],
        [
            ["idL", "alice", "legacy  title\nwith newline", "7", "1", "2025-09-08T00:00:00Z", "/r/L/9/"],
            ["", "bob", "no identity row", "1", "1", "", ""],
        ],
    )
    # empty file → skipped but archived
    (data / "italytravel_empty.csv").write_text("")
    # non-matching prefix → ignored entirely
    write_csv(data / "other.csv", ["a"], [["1"]])
    return data


def test_combine_end_to_end(spark, tmp_path, inbox):
    cfg = EngineConfig(
        gdpr_salt=SALT,
        data_dir=str(inbox),
        combine_dir=str(tmp_path / "combined"),
        loaded_dir=str(tmp_path / "loaded"),
    )
    res = run_combine(spark, cfg, run_ts="20250909T030000")

    with open(res.combined_path) as fh:
        rows = list(csv.DictReader(fh))
    by_key = {r["thing_key"]: r for r in rows}

    # dup k1: first file (lexicographic) wins
    assert by_key["k1"]["title_sanitized"] == "first k1"
    assert by_key["k1"]["score"] == "5"
    # F7: '' and 'abc' → 0
    assert by_key["k2"]["score"] == "0"
    assert by_key["k2"]["num_comments"] == "0"
    # F9: permalink lowercased, trailing slashes stripped
    assert by_key["k2"]["permalink"] == "/r/x/2"
    # F11 defaults
    assert by_key["k2"]["subreddit"] == "ItalyTravel"
    assert by_key["k3"]["thing_type"] == "t3"
    # F7: '3.5' unparsable → 0
    assert by_key["k3"]["score"] == "0"
    # legacy row: key derived via F12 (colon format), title drift-coalesced + NOT re-sanitized
    dk = _h("t3:idL")
    assert dk in by_key
    assert by_key[dk]["id"] == "idL"
    assert by_key[dk]["permalink"] == "/r/l/9"
    # the no-identity legacy row was dropped (F13)
    assert len(rows) == 4

    # archive drained the inbox (A11): matching-prefix files moved, other.csv stays
    assert sorted(os.listdir(inbox)) == ["other.csv"]
    assert len(os.listdir(tmp_path / "loaded")) == 4

    # column order contract (F14)
    with open(res.combined_path) as fh:
        assert next(csv.reader(fh)) == DB_COLUMNS


def test_combine_no_files_fails(spark, tmp_path):
    cfg = EngineConfig(
        gdpr_salt=SALT,
        data_dir=str(tmp_path / "nope"),
        combine_dir=str(tmp_path / "c"),
        loaded_dir=str(tmp_path / "l"),
    )
    with pytest.raises(FileNotFoundError):
        run_combine(spark, cfg, run_ts="20250909T030000")


def test_combine_zero_valid_rows_archives_then_fails(spark, tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    write_csv(
        data / "italytravel_bad.csv",
        ["id", "author", "title", "score", "num_comments", "created_at", "permalink"],
        [["", "x", "no identity", "1", "1", "", ""]],
    )
    cfg = EngineConfig(
        gdpr_salt=SALT,
        data_dir=str(data),
        combine_dir=str(tmp_path / "c"),
        loaded_dir=str(tmp_path / "l"),
    )
    with pytest.raises(ValueError):
        run_combine(spark, cfg, run_ts="20250909T030000")
    # O7: archived anyway
    assert os.listdir(data) == []
    assert len(os.listdir(tmp_path / "l")) == 1


def test_fetch_transform_matches_reference(spark):
    """DAG-1 body parity: hashing policy + sanitize + epoch format
    (Fetch_reddit.py:140-258)."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import fetch_transform
    from reddit_apache_airflow_postgres_pipeline_spark.schemas import REDDIT_RAW

    cfg = EngineConfig(gdpr_salt=SALT)
    rows = [
        ("t3_abc", "abc", 1757397763.0, 12, 3, "Call 12345678 now\nplease",
         "alice", "/r/ItalyTravel/comments/abc/slug/", "ItalyTravel", "Question"),
        (None, "def", None, None, None, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, REDDIT_RAW)
    out = {r["thing_key"]: r.asDict() for r in fetch_transform(df, cfg).collect()}

    r1 = out[_h("t3_abc")]
    assert r1["id"] == _h("abc")
    assert r1["author_hash"] == _h("alice")
    assert r1["permalink"] == _h("https://www.reddit.com/r/ItalyTravel/comments/abc/slug/")
    assert r1["created_at"] == "2025-09-09T06:02:43Z"
    assert r1["title_sanitized"] == "Call [redacted-number] now please"
    assert r1["subreddit"] == "ItalyTravel"

    r2 = out[_h("t3_def")]  # F6 fullname fallback
    assert r2["created_at"] == ""
    assert r2["score"] == ""
    assert r2["title_sanitized"] == ""


def test_combine_observe_metrics(spark, tmp_path):
    import csv as _csv
    import os

    from reddit_apache_airflow_postgres_pipeline_spark.config import EngineConfig
    from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import run_combine

    cfg = EngineConfig(
        gdpr_salt="test-salt",
        data_dir=str(tmp_path / "d"),
        combine_dir=str(tmp_path / "c"),
        loaded_dir=str(tmp_path / "l"),
    )
    os.makedirs(cfg.data_dir)
    with open(os.path.join(cfg.data_dir, "italytravel_m.csv"), "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["thing_key", "score"])
        w.writerow(["k1", "1"])
        w.writerow(["k1", "2"])   # dedup loser
        w.writerow(["", "3"])     # dropped: no key and no id/permalink
    res = run_combine(spark, cfg, "20260813T050000")
    assert res.rows == 1
    assert res.rows_scanned == 3
    assert res.rows_deduped_or_dropped == 2


def test_inbox_lineage_survives_special_filenames(spark, tmp_path):
    """file_seq must be non-NULL for names input_file_name() percent-
    encodes (space, %, +, non-ASCII) — a raw URI equi-join leaves them
    NULL, which sorts first and silently inverts first-wins (ADVICE r01)."""
    from reddit_apache_airflow_postgres_pipeline_spark.sources.files import read_csv_inbox

    data = tmp_path / "data"
    data.mkdir()
    names = [
        "italytravel_a with space.csv",
        "italytravel_b%25literal.csv",
        "italytravel_c+plus.csv",
        "italytravel_dümlaut.csv",
    ]
    # same key everywhere: only the lexicographically-first file's row wins
    for i, name in enumerate(sorted(names)):
        write_csv(data / name, ["thing_key", "score"], [["k1", str(i)]])

    scan = read_csv_inbox(spark, str(data), prefix="italytravel_")
    rows = scan.df.select("_file", "file_seq", "row_seq", "score").collect()
    assert len(rows) == 4
    assert all(r.file_seq is not None for r in rows), rows
    by_seq = {r.file_seq: (os.path.basename(r._file), r.score) for r in rows}
    assert [by_seq[i][0] for i in range(4)] == sorted(names)
    assert by_seq[0][1] == "0"

    cfg = EngineConfig(
        gdpr_salt=SALT,
        data_dir=str(data),
        combine_dir=str(tmp_path / "combined"),
        loaded_dir=str(tmp_path / "loaded"),
    )
    res = run_combine(spark, cfg, "20260813T000000")
    assert res.rows == 1
    with open(res.combined_path) as fh:
        combined = list(csv.DictReader(fh))
    assert combined[0]["score"] == "0"  # first file won, not an arbitrary one


def test_dedup_strategies_equivalent_on_drift_inbox(spark, tmp_path, inbox):
    """The min_by-agg dedup (100 TB scale path) must produce EXACTLY the
    window form's rows on the drift fixtures — same winners under the
    (file_seq, row_seq) total order."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans.pipelines import combine_pipeline
    from reddit_apache_airflow_postgres_pipeline_spark.sources.files import read_csv_inbox

    cfg = EngineConfig(gdpr_salt=SALT, data_dir=str(inbox))
    scan = read_csv_inbox(spark, cfg.data_dir, cfg.csv_glob_prefix)
    window_rows = sorted(map(tuple, combine_pipeline(scan.df, cfg, "window").collect()))
    agg_rows = sorted(map(tuple, combine_pipeline(scan.df, cfg, "agg").collect()))
    assert window_rows == agg_rows
    assert len(window_rows) == 4  # k1 (first file), k2, k3, legacy-derived

    with pytest.raises(ValueError, match="unknown dedup_strategy"):
        combine_pipeline(scan.df, cfg, "bogus")


def test_dedup_first_agg_matches_window_on_lineitem(spark):
    """Both D1 forms hash-match on the q_ref_dedup_first_wins relation
    (the driver-gate query, VERDICT r01 #6)."""
    from pyspark.sql import functions as F

    from reddit_apache_airflow_postgres_pipeline_spark.operators.dedup import (
        dedup_first,
        dedup_first_agg,
    )
    from reddit_apache_airflow_postgres_pipeline_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    order = ["l_linenumber", "l_partkey", "l_suppkey", "l_quantity"]
    w = dedup_first(li, "l_orderkey", order)
    a = dedup_first_agg(li, "l_orderkey", F.struct(*order)).select(*w.columns)
    assert sorted(map(tuple, w.collect())) == sorted(map(tuple, a.collect()))


def test_binary_garbage_file_skipped_and_archived(spark, tmp_path):
    """A non-UTF-8 (binary) file matching the inbox glob must be skipped
    like the reference's try/except read — and archived — not crash the
    combine run with UnicodeDecodeError."""
    data = tmp_path / "data"
    data.mkdir()
    (data / "italytravel_binary.csv").write_bytes(b"\xff\xfe\x00garbage\x80")
    # NUL bytes parse fine in modern Python csv: the file is read with its
    # odd header, and its rows die at the key-required filter (F13) — same
    # outcome DictReader gives the reference
    (data / "italytravel_nul.csv").write_bytes(b"thing\x00key,score\nk9,1\n")
    write_csv(data / "italytravel_ok.csv", ["thing_key", "score"], [["k1", "5"]])

    cfg = EngineConfig(
        gdpr_salt=SALT,
        data_dir=str(data),
        combine_dir=str(tmp_path / "combined"),
        loaded_dir=str(tmp_path / "loaded"),
    )
    res = run_combine(spark, cfg, "20260813T000000")
    assert res.rows == 1
    assert sorted(os.path.basename(p) for p in res.used_files) == [
        "italytravel_nul.csv",  # parsed (odd header), rows dropped by F13
        "italytravel_ok.csv",
    ]
    # all three archived — inbox fully drained (A11)
    assert sorted(os.listdir(data)) == []
    assert len(os.listdir(cfg.loaded_dir)) == 3


def test_csv_quote_dialect_pg_and_python_csv_parity(spark, tmp_path):
    """RFC4180 quote doubling both directions (VERDICT r3 residual: PG
    COPY quoting). Writer output must parse correctly with Python's csv
    module — the same dialect as `COPY ... (FORMAT csv, QUOTE '"')` and
    the reference's writer — and our reader must read a
    python-csv-written file back verbatim, embedded quotes, commas,
    newlines and backslashes included."""
    import csv as _csv
    import os

    from reddit_apache_airflow_postgres_pipeline_spark.sinks.csv import write_atomic_csv
    from reddit_apache_airflow_postgres_pipeline_spark.sources.files import read_csv_paths

    vals = [
        'he said "hi"',
        "comma, inside",
        "line1\nline2",
        "back\\slash",
        'tricky ""double"" start"',
        "plain",
        "  padded title  ",
        "\tlead tab",
    ]
    df = spark.createDataFrame(
        [(str(i), v) for i, v in enumerate(vals)], "id string, title string"
    )
    dest = str(tmp_path / "out.csv")
    write_atomic_csv(df, dest)
    with open(dest, newline="", encoding="utf-8") as fh:
        parsed = {r[0]: r[1] for r in list(_csv.reader(fh))[1:]}
    assert parsed == {str(i): v for i, v in enumerate(vals)}

    gen = str(tmp_path / "italytravel_gen.csv")
    with open(gen, "w", newline="", encoding="utf-8") as fh:
        w = _csv.writer(fh)
        w.writerow(["id", "title"])
        for i, v in enumerate(vals):
            w.writerow([str(i), v])
    scan = read_csv_paths(spark, [gen])
    got = {r["id"]: r["title"] for r in scan.df.collect()}
    assert got == {str(i): v for i, v in enumerate(vals)}
