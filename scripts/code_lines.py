"""Count the code lines of Python source files.

Usage: python scripts/code_lines.py FILE [FILE ...]

A code line is a physical line that holds at least one token other than
a comment, a newline, indentation or a docstring. Blank lines, comment
lines and docstrings (module, class and function) do not count; a line
that continues a statement across brackets does. Prints one line per
file, then the total when more than one file is given.
"""

from __future__ import annotations

import ast
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in _SKIP:
                continue
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(paths: list[str]) -> None:
    total = 0
    for p in paths:
        n = code_lines(p)
        total += n
        print(f"{n:7,d}  {p}")
    if len(paths) > 1:
        print(f"{total:7,d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
