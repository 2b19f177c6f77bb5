"""Count the code lines of a Python tree: lines that carry a token other
than a comment, and that are not part of a module, class or function
docstring.  Blank lines do not count.

Usage: ``python3 scripts/count_code_lines.py polars_view_spark`` — run it
on two checkouts to compare the size of a change.
"""

from __future__ import annotations

import ast
import io
import os
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
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def code_lines(src: str) -> int:
    docs: set[int] = set()
    for node in ast.walk(ast.parse(src)):
        first = node.body[0] if isinstance(node, _SCOPES) and node.body else None
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            docs.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - docs)


def main(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name)) as fh:
                    total += code_lines(fh.read())
    return total


if __name__ == "__main__":
    print(main(sys.argv[1]))
