"""Count code lines in Python sources.

A line counts when it holds at least one token that is not a comment,
a NL/NEWLINE/INDENT/DEDENT/ENDMARKER token, or part of a module, class
or function docstring. A token spanning several lines (a multi-line
string) counts on every line it covers. Blank lines, comment-only
lines and docstrings therefore never count.

    python tools/codelines.py PATH [PATH ...]

Each PATH is a ``.py`` file or a directory (searched recursively for
``*.py``). Prints one ``<count>  <path>`` line per argument and, for
several arguments, a total.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_source(src: str) -> int:
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def count_path(path: pathlib.Path) -> int:
    files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
    return sum(count_source(f.read_text()) for f in files)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for arg in argv:
        n = count_path(pathlib.Path(arg))
        total += n
        print(f"{n:>7}  {arg}")
    if len(argv) > 1:
        print(f"{total:>7}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
