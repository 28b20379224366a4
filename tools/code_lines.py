"""Count code lines in Python files: lines that hold a token other than a
comment, a newline or a docstring.

    python3 tools/code_lines.py dd_ops_ocr_spark/pipeline.py tests/

A directory argument counts every ``*.py`` file below it. Prints one line
per argument and a total.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize


def _docstring_lines(src: str) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: pathlib.Path) -> int:
    src = path.read_text()
    skip = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
            tokenize.DEDENT, tokenize.ENDMARKER}
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in skip:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(src))


def main(argv: list[str]) -> None:
    total = 0
    for arg in argv:
        p = pathlib.Path(arg)
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        n = sum(code_lines(f) for f in files)
        total += n
        print(f"{n:7d}  {arg}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
