"""Line counts per Python file: total, code and docstring lines.

A code line is a line that carries a non-comment token outside a
docstring (a multi-line non-docstring string counts on every line it
spans).  Docstring lines are the lines a module, class or function
docstring spans.  Blank and comment-only lines are in neither count.

With ``--rev REV`` each file is read from that git revision instead of
the working tree, so two revisions are counted the same way:

    python scripts/sloc.py csv_query_engine_spark/streaming/events.py
    python scripts/sloc.py --rev HEAD~1 csv_query_engine_spark/streaming/events.py
"""

from __future__ import annotations

import argparse
import ast
import io
import subprocess
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_starts(tree: ast.AST) -> set[tuple[int, int]]:
    """(line, col) of every docstring's string token."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add((body[0].value.lineno, body[0].value.col_offset))
    return out


def count(source: str) -> dict[str, int]:
    doc_starts = _docstring_starts(ast.parse(source))
    code: set[int] = set()
    doc: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _NON_CODE:
            continue
        rows = range(tok.start[0], tok.end[0] + 1)
        if tok.type == tokenize.STRING and tok.start in doc_starts:
            doc.update(rows)
        else:
            code.update(rows)
    return {
        "total": len(source.splitlines()),
        "code": len(code - doc),
        "docstring": len(doc),
    }


def _read(path: str, rev: str | None) -> str:
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    return subprocess.run(
        ["git", "show", f"{rev}:./{path}"],
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--rev", default=None, help="git revision to read the files from")
    args = ap.parse_args(argv)
    print(f"{'total':>7} {'code':>7} {'doc':>7}  file")
    sums = {"total": 0, "code": 0, "docstring": 0}
    for path in args.files:
        c = count(_read(path, args.rev))
        for k in sums:
            sums[k] += c[k]
        print(f"{c['total']:>7} {c['code']:>7} {c['docstring']:>7}  {path}")
    if len(args.files) > 1:
        print(f"{sums['total']:>7} {sums['code']:>7} {sums['docstring']:>7}  (all)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
