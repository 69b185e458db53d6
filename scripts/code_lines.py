"""Count code lines in Python files: non-blank lines that are neither
comments nor docstrings (module, class and function docstrings, found
with ``ast``). Needs no Spark.

Usage: python scripts/code_lines.py FILE [FILE ...]
Prints ``<count> <file>`` per file, then ``<total> total``.
"""

from __future__ import annotations

import ast
import sys


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by every docstring in ``tree``."""
    out: set[int] = set()
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
            out.update(range(body[0].lineno, body[0].end_lineno + 1))
    return out


def code_lines(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    docs = docstring_lines(ast.parse(src, filename=path))
    return sum(
        1
        for i, line in enumerate(src.splitlines(), 1)
        if line.strip()
        and not line.strip().startswith("#")
        and i not in docs
    )


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n} {p}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
