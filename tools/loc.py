"""Line counts of the package: physical lines, and code-only lines (no
blank, comment or docstring lines), the measure ROADMAP D10's line
target uses.

    python tools/loc.py [PACKAGE_DIR]

A line is code when a token other than a comment or a docstring starts
or continues on it; every line of a multi-line non-docstring string or
bracketed expression counts. Docstrings are the first-statement string
literals of modules, classes and functions.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(physical, code-only) line counts of one module's source."""
    docs = _docstring_lines(ast.parse(source))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        if tok.type == tokenize.STRING and tok.start[0] in docs:
            continue
        code.update(range(tok.start[0], tok.end[0] + 1))
    return len(source.splitlines()), len(code)


def main(argv: list[str]) -> None:
    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = pathlib.Path(argv[0]) if argv else root / "ner_linking_demo_spark"
    physical = code = 0
    for path in sorted(pkg.rglob("*.py")):
        p, c = count(path.read_text())
        physical += p
        code += c
    print(f"{pkg.name}: {physical} physical lines, {code} code-only lines")


if __name__ == "__main__":
    main(sys.argv[1:])
