"""Report copy-pasted code in the package.

A code line is a source line with its comments, docstrings, import
statements and multi-line string literals (the oracle SQL) removed and
its tokens joined by single spaces. A string passed to a Spark SQL call
(``expr``, ``selectExpr``, ``sql``, ``where``, ``filter``) is code, not
prose: it is kept without its quotes, one code line per source line, so
SQL written as implicitly concatenated pieces matches the same SQL in
one triple-quoted literal. A code line is
*duplicated* when it sits in a window of ``WINDOW`` consecutive code
lines of one file that appears again, unoverlapped, elsewhere in the
scanned tree. Duplicated lines are grouped by the set of top-level
functions (or classes, or ``<module>``) that hold a copy of a window
covering them, largest group first; the last line gives the duplicated
and total code-line counts. Generated modules (docstring starting
"GENERATED") are skipped.

Run: ``python scripts/dup_report.py [path ...]`` (default: the
``gasket_rs_spark`` package).
"""

from __future__ import annotations

import ast
import io
import os
import re
import sys
import tokenize
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 5

_SQL_CALLS = {"expr", "selectExpr", "sql", "where", "filter"}

_SKIP_TOKENS = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _spark_sql(tree: ast.AST) -> set[ast.AST]:
    """The string literals in the arguments of Spark SQL calls."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if name in _SQL_CALLS:
                for arg in [*node.args, *(k.value for k in node.keywords)]:
                    out.update(
                        n for n in ast.walk(arg) if isinstance(n, (ast.Constant, ast.JoinedStr))
                    )
    return out


Span = tuple[tuple[int, int], tuple[int, int]]


def _span(node: ast.AST) -> Span:
    return (node.lineno, node.col_offset), (node.end_lineno, node.end_col_offset)


def _dropped_spans(tree: ast.AST, sql: set[ast.AST]) -> list[Span]:
    """(start, end) positions of docstrings, of import statements and of
    the multi-line string literals that are not Spark SQL."""
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            spans.append(_span(node))
        elif isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            spans.append(_span(node.body[0]))
        elif (
            isinstance(node, ast.JoinedStr)
            or (isinstance(node, ast.Constant) and isinstance(node.value, str))
        ) and node.end_lineno > node.lineno and node not in sql:
            spans.append(_span(node))
    return spans


# a string token's prefix letters and quotes around its body
_QUOTES = re.compile(r"""^[a-zA-Z]*('{3}|"{3}|'|")(.*)\1$""", re.S)


def code_lines(source: str) -> tuple[list[tuple[int, str]], ast.Module]:
    """The file's code lines as (line number, normalized text), and its AST."""
    tree = ast.parse(source)
    sql = _spark_sql(tree)
    spans = _dropped_spans(tree, sql)
    sql_spans = [_span(node) for node in sql]
    by_row: dict[int, list[str]] = defaultdict(list)
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP_TOKENS:
            continue
        if any(a <= tok.start < b for a, b in spans):
            continue
        text = tok.string
        if tok.type == tokenize.STRING and any(a <= tok.start < b for a, b in sql_spans):
            text = _QUOTES.match(text).group(2)
        for k, piece in enumerate(text.split("\n")):
            if piece.strip():
                by_row[tok.start[0] + k].append(piece.strip())
    return [(row, " ".join(by_row[row])) for row in sorted(by_row)], tree


def _owner(tree: ast.Module, path: str):
    """Line number -> "<file>:<top-level def>" for the file."""
    spans = [
        (node.lineno, node.end_lineno, node.name)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]

    def owner(row: int) -> str:
        for lo, hi, name in spans:
            if lo <= row <= hi:
                return f"{path}:{name}"
        return f"{path}:<module>"

    return owner


def _python_files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for root, dirs, files in os.walk(p):
            dirs.sort()
            out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
    return out


def scan(paths: list[str]) -> tuple[dict[frozenset, int], int, int]:
    """Duplicated-line counts per group of top-level defs, the number of
    duplicated code lines and the number of code lines in ``paths``."""
    base = paths[0] if os.path.isdir(paths[0]) else os.path.dirname(paths[0])
    files = []  # (owner fn, [(row, text)])
    for path in _python_files(paths):
        with open(path) as f:
            source = f.read()
        lines, tree = code_lines(source)
        if (ast.get_docstring(tree) or "").startswith("GENERATED"):
            continue
        files.append((_owner(tree, os.path.relpath(path, base)), lines))

    seen: dict[tuple[str, ...], list[tuple[int, int]]] = defaultdict(list)
    for fi, (_, lines) in enumerate(files):
        texts = [t for _, t in lines]
        for i in range(len(texts) - WINDOW + 1):
            seen[tuple(texts[i : i + WINDOW])].append((fi, i))

    groups: dict[tuple[int, int], set[str]] = defaultdict(set)  # line -> defs
    for occ in seen.values():
        if not any(
            f1 != f2 or abs(i1 - i2) >= WINDOW for f1, i1 in occ for f2, i2 in occ
        ):
            continue
        owners = {files[f][0](files[f][1][i][0]) for f, i in occ}
        for f, i in occ:
            for k in range(i, i + WINDOW):
                groups[(f, k)] |= owners

    per_group: dict[frozenset, int] = defaultdict(int)
    for owners in groups.values():
        per_group[frozenset(owners)] += 1
    total = sum(len(lines) for _, lines in files)
    return dict(per_group), len(groups), total


def main(argv: list[str]) -> None:
    paths = argv or [os.path.join(REPO, "gasket_rs_spark")]
    per_group, n_dup, total = scan(paths)
    for owners, n in sorted(per_group.items(), key=lambda kv: (-kv[1], sorted(kv[0]))):
        print(f"{n:5d}  " + ", ".join(sorted(owners)))
    print(f"duplicated code lines: {n_dup} of {total}")


if __name__ == "__main__":
    main(sys.argv[1:])
