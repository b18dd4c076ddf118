#!/usr/bin/env python
"""Count the code lines of a Python package: lines that hold a token
other than a comment, minus docstrings (the first string statement of a
module, class or function) and blank lines. SQL and other string
literals that are not docstrings count as code.

Usage: python scripts/code_lines.py [package_dir] [relative_file ...]

Prints the package total, preceded by the count of each named file
(paths relative to the package) and the subtotals of ``operators/`` and
``queries.py`` — the figures net-line claims quote.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
    tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
}
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
SUBTOTALS = ("operators/", "queries.py")


def code_lines(path: pathlib.Path) -> int:
    src = path.read_text(encoding="utf-8")
    docs: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(
                getattr(first, "value", None), ast.Constant
            ) and isinstance(first.value.value, str):
                docs.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def main(argv: list[str]) -> None:
    root = pathlib.Path(argv[0] if argv else "backend_fastapi_spark")
    counts = {
        p.relative_to(root).as_posix(): code_lines(p)
        for p in sorted(root.rglob("*.py"))
    }
    for name in argv[1:]:
        print(name, counts.get(name, 0))
    for part in SUBTOTALS:
        print(part, sum(n for f, n in counts.items() if f.startswith(part)))
    print("total", sum(counts.values()))


if __name__ == "__main__":
    main(sys.argv[1:])
