"""Count the package's code lines: lines that carry at least one Python
token other than a comment or a docstring.

Usage: ``python tools/code_lines.py [package_dir]`` (default: the
``wing_binlog_go_spark`` package next to this script). Prints one
integer, the figure ROADMAP aim 2 tracks.
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by module, class and function docstrings."""
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
    skip = docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(
            n for n in range(tok.start[0], tok.end[0] + 1) if n not in skip
        )
    return len(lines)


def main(argv: list[str]) -> None:
    root = pathlib.Path(
        argv[1]
        if len(argv) > 1
        else pathlib.Path(__file__).resolve().parent.parent / "wing_binlog_go_spark"
    )
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))


if __name__ == "__main__":
    main(sys.argv)
