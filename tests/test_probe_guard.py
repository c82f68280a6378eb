"""Source guard for the neighbour probes: every top-k over
``query_id`` in ``operators/similarity.py`` and
``sinks/vector_index.py`` goes through ``similarity.top_k``, and the
served-index queries score nothing themselves — they call the probe
their in-memory operator runs. No JVM: the modules are parsed, not
imported."""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "reddit_apache_airflow_postgres_pipeline_spark"
)
SIMILARITY = PKG / "operators" / "similarity.py"
VECTOR_INDEX = PKG / "sinks" / "vector_index.py"

# the one place a per-query rank window may live: top_k's body
RANK_FUNCS = {"top_k", "_ranked"}
# scorers and ADC-table pieces a served query must reach through a probe
SCORERS = {
    "cosine", "l2sq", "hamming", "pq_subvectors", "sign_signature", "Window",
}


def _by_function(tree: ast.Module) -> list[tuple[str, ast.AST]]:
    """(enclosing top-level function name or '<module>', node) for every
    node of the module."""
    out = []
    for top in tree.body:
        named = isinstance(top, (ast.FunctionDef, ast.ClassDef))
        name = top.name if named else "<module>"
        out.extend((name, node) for node in ast.walk(top))
    return out


def _query_windows(path: pathlib.Path) -> list[str]:
    """Functions holding a ``partitionBy("query_id")`` call."""
    hits = []
    for fn, node in _by_function(ast.parse(path.read_text())):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "partitionBy"
            and any(
                isinstance(a, ast.Constant) and a.value == "query_id"
                for a in node.args
            )
        ):
            hits.append(f"{fn} (line {node.lineno})")
    return hits


def test_query_rank_window_only_in_top_k():
    sim = _query_windows(SIMILARITY)
    assert sim and all(h.split()[0] in RANK_FUNCS for h in sim), (
        f"per-query rank window outside similarity.top_k: {sim}"
    )
    assert not _query_windows(VECTOR_INDEX), (
        "sinks/vector_index.py cuts its own top-k — call similarity.top_k "
        "through the kind's probe"
    )


def test_window_imported_once_at_module_level():
    fns = [
        fn
        for fn, node in _by_function(ast.parse(SIMILARITY.read_text()))
        if isinstance(node, ast.ImportFrom)
        and any(a.name == "Window" for a in node.names)
    ]
    assert fns == ["<module>"], f"Window imported in: {fns}"


def test_served_queries_score_through_the_probes():
    tree = ast.parse(VECTOR_INDEX.read_text())
    used = sorted(
        {
            n.id if isinstance(n, ast.Name) else n.attr
            for _, n in _by_function(tree)
            if isinstance(n, (ast.Name, ast.Attribute))
        }
        & SCORERS
    )
    imported = sorted(
        {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
        & SCORERS
    )
    adc = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "decimal(28,12)" in n.value.replace(" ", "").lower()
    ]
    assert not used and not imported, (
        f"sinks/vector_index.py scores queries itself ({used or imported}) — "
        "call the kind's similarity probe"
    )
    assert not adc, f"sinks/vector_index.py builds an ADC table (lines {adc})"
