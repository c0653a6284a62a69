"""Count Python code lines: lines that are not blank, comment-only or
part of a docstring.

Usage: python tools/code_lines.py [path ...]
       (default: the engine package and bench.py)

A path may be a file or a directory (walked for ``*.py``).  Prints one
``<lines>  <file>`` row per file, then ``<lines>  TOTAL <path>`` per
argument, so a change's net code lines are the difference of two runs
(one per checkout).

A line counts when any token other than a comment or a line break
touches it; a multi-line string counts on every line it spans unless
it is a docstring (the first statement of a module, class or function
that is a bare string literal).
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_PATHS = [
    os.path.join(ROOT, "enterprise_sales_data_pipeline_using_aws_lambda_spark"),
    os.path.join(ROOT, "bench.py"),
]

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
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


def code_lines(source: str) -> int:
    """Number of code lines in one module's source text."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = []
    for d, subdirs, files in os.walk(path):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        found += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return found


def main(argv: list[str]) -> None:
    for path in argv or DEFAULT_PATHS:
        total = 0
        for f in _py_files(path):
            with open(f, encoding="utf-8") as fh:
                n = code_lines(fh.read())
            total += n
            print(f"{n:7d}  {os.path.relpath(f)}")
        print(f"{total:7d}  TOTAL {os.path.relpath(path)}")


if __name__ == "__main__":
    main(sys.argv[1:])
