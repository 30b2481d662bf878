"""Count code lines of Python files: lines that are not blank, not a
``#`` comment and not inside a module, class or function docstring.

    python scripts/code_lines.py optimizing_spark/operators/joins.py [FILE...]

Prints one ``<count> <file>`` line per file, plus a total when given
more than one file.
"""

from __future__ import annotations

import ast
import sys


def code_lines(source: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    return sum(
        1 for i, line in enumerate(source.splitlines(), 1)
        if i not in doc and line.strip() and not line.strip().startswith("#")
    )


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n} {path}")
    if len(paths) > 1:
        print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
