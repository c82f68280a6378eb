"""The availableNow drain skeleton (streaming/drain.py): every parquet
stream in the package runs on :func:`drain`, so its exactly-once
contract is pinned here in the default tier — one micro-batch per file
in mtime order, nothing re-delivered on a rerun, only new files
drained on the next one — plus a source guard that keeps the skeleton
from being copied back into the stream modules."""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq

from reddit_apache_airflow_postgres_pipeline_spark.streaming.drain import drain

STREAMING = (
    pathlib.Path(__file__).resolve().parent.parent
    / "reddit_apache_airflow_postgres_pipeline_spark"
    / "streaming"
)


def _land(inbox: str, name: str, k: int, mtime: int) -> None:
    path = os.path.join(inbox, name)
    pq.write_table(pa.table({"k": pa.array([k], pa.int64())}), path)
    os.utime(path, (mtime, mtime))


def test_drain_one_batch_per_file_in_mtime_order_exactly_once(spark, tmp_path):
    inbox, ckpt = str(tmp_path / "inbox"), str(tmp_path / "ckpt")
    os.makedirs(inbox)
    # names sort against landing order, so only mtime explains the order
    base = 1_700_000_000
    for i, name in enumerate(["c.parquet", "b.parquet", "a.parquet"]):
        _land(inbox, name, k=i, mtime=base + 60 * i)
    seen: list[tuple[int, list[int]]] = []

    def on_batch(batch_df, batch_id):
        seen.append((batch_id, [r["k"] for r in batch_df.collect()]))

    drain(spark, inbox, "k long", ckpt, on_batch)
    assert seen == [(0, [0]), (1, [1]), (2, [2])]

    seen.clear()
    drain(spark, inbox, "k long", ckpt, on_batch)
    assert seen == []

    _land(inbox, "0.parquet", k=3, mtime=base + 600)
    drain(spark, inbox, "k long", ckpt, on_batch)
    assert seen == [(3, [3])]


# Stream modules that may build their own query instead of calling
# drain(), each with the reason the skeleton does not fit.
SKELETON_ALLOWED = {
    "combine_stream.py": (
        "text-format file-name reader, optional maxFilesPerTrigger and a "
        "processingTime trigger mode"
    ),
    "events.py": "memory sink with a caller-chosen output mode",
}


def _skeleton_uses(path: pathlib.Path) -> list[str]:
    """Code (not prose) that builds a stream query or redefines the
    compaction threshold: readStream/foreachBatch attributes, an
    availableNow keyword, a ``[_]COMPACT_AFTER_DIRS =`` assignment."""
    hits = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Attribute) and node.attr in (
            "readStream", "foreachBatch",
        ):
            hits.append(f"{node.attr} (line {node.lineno})")
        elif isinstance(node, ast.keyword) and node.arg == "availableNow":
            hits.append(f"availableNow (line {node.value.lineno})")
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("COMPACT_AFTER_DIRS"):
                    hits.append(f"{t.id} = (line {node.lineno})")
    return hits


def test_stream_modules_use_the_one_drain_skeleton():
    found = {
        p.name: _skeleton_uses(p)
        for p in sorted(STREAMING.glob("*.py"))
        if p.name != "drain.py"
    }
    stray = {
        name: hits
        for name, hits in found.items()
        if hits and name not in SKELETON_ALLOWED
    }
    assert not stray, (
        f"stream skeleton outside streaming/drain.py: {stray} — call "
        "drain() (or add the module to SKELETON_ALLOWED with a reason)"
    )
    stale = [name for name in SKELETON_ALLOWED if not found.get(name)]
    assert not stale, f"SKELETON_ALLOWED entries with nothing to allow: {stale}"
    assert _skeleton_uses(STREAMING / "drain.py")
