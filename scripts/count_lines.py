"""Count code, comment/docstring and blank lines in the Python package.

Every physical line of each ``.py`` file under ``aroa_etl_spark/`` falls
in exactly one class:

- blank: whitespace only, docstring interiors included;
- comment/docstring: the line carries only ``#`` comments, or lies
  inside a module, class or function docstring (found with ``ast``);
- code: every other line.

Comments are found with ``tokenize``, so a ``#`` inside a string literal
is code, not a comment.  Run from the repo root; it prints one row per
file and a total row:

    python scripts/count_lines.py
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
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
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def count_file(path: Path) -> tuple[int, int, int]:
    """(code, comment/docstring, blank) line counts of one file."""
    src = path.read_text(encoding="utf-8")
    text_lines = src.splitlines()
    doc = _docstring_lines(ast.parse(src))
    code_lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code_lines.update(range(tok.start[0], tok.end[0] + 1))
    code = comment = blank = 0
    for no, line in enumerate(text_lines, start=1):
        if not line.strip():
            blank += 1
        elif no in doc or no not in code_lines:
            comment += 1
        else:
            code += 1
    return code, comment, blank


def main() -> int:
    files = sorted(Path("aroa_etl_spark").rglob("*.py"))
    if not files:
        print("no .py files under aroa_etl_spark/", file=sys.stderr)
        return 1
    totals = [0, 0, 0]
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for f in files:
        counts = count_file(f)
        totals = [t + c for t, c in zip(totals, counts)]
        print(f"{counts[0]:>7} {counts[1]:>7} {counts[2]:>7}  {f}")
    print(f"{totals[0]:>7} {totals[1]:>7} {totals[2]:>7}  total ({len(files)} files)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
