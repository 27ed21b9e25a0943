"""Count the code lines of Python modules: lines that hold a token other
than a comment, a newline or indentation, minus the lines of docstrings
(string-literal statements that open a module, class or function body).

    python tools/code_lines.py smart_data_lake_spark/dataobjects/file.py ...
    python tools/code_lines.py --core      # the pipeline core, with a total

Prints one `<lines>  <path>` row per module and, for several, the total.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import sys
import tokenize

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "smart_data_lake_spark")

#: the pipeline core, as ROADMAP.md lists it (plans/ is app.py and dag.py)
CORE = [
    "actions/base.py",
    "actions/copy.py",
    "actions/historize.py",
    "actions/deduplicate.py",
    "subfeed.py",
    "plans/app.py",
    "plans/dag.py",
    "execution_modes.py",
    "expectations.py",
    "fs.py",
    "dataobjects/base.py",
    "dataobjects/file.py",
    "dataobjects/table.py",
    "partitions.py",
    "merge.py",
    "historization.py",
]

_NON_CODE = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) and isinstance(first.value.value, str):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("paths", nargs="*", help="Python files")
    parser.add_argument("--core", action="store_true", help="count the pipeline core modules")
    args = parser.parse_args(argv)
    paths = list(args.paths) + ([os.path.join(PACKAGE, m) for m in CORE] if args.core else [])
    if not paths:
        parser.error("no files given")
    total = 0
    for path in paths:
        with open(path) as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:6d}  {os.path.relpath(path)}")
    if len(paths) > 1:
        print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
