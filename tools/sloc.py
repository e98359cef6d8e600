"""Count Python source lines by kind: total, code, comment, docstring.

    python3 tools/sloc.py etl_marketdata_downloader_archived_spark/streaming
    python3 tools/sloc.py path/a.py path/dir --files

Each line of a file falls in exactly one bucket:

- ``blank``: whitespace only;
- ``docstring``: inside a module, class or function docstring;
- ``comment``: holds only a ``#`` comment;
- ``code``: everything else.

``total`` is all lines. Counting ``code`` separately keeps a line delta
made of deleted comments or docstrings from passing for a simpler
program. A directory counts every ``*.py`` below it; ``--files`` also
prints one row per file. Standard library only.
"""

from __future__ import annotations

import argparse
import ast
import io
import sys
import tokenize
from pathlib import Path

KINDS = ("total", "code", "comment", "docstring", "blank")


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


def count_source(src: str) -> dict[str, int]:
    """Line counts by kind for one Python source text."""
    lines = src.splitlines()
    docs = _docstring_lines(ast.parse(src))
    # lines carrying a token other than a comment or a line break
    busy: set[int] = set()
    comments: set[int] = set()
    skip = (tokenize.NL, tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
            tokenize.ENDMARKER)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            comments.add(tok.start[0])
        elif tok.type not in skip:
            busy.update(range(tok.start[0], tok.end[0] + 1))
    out = dict.fromkeys(KINDS, 0)
    out["total"] = len(lines)
    for no, line in enumerate(lines, start=1):
        if no in docs:
            out["docstring"] += 1
        elif not line.strip():
            out["blank"] += 1
        elif no in comments and no not in busy:
            out["comment"] += 1
        else:
            out["code"] += 1
    return out


def count_path(path: Path) -> dict[str, int]:
    return count_source(path.read_text(encoding="utf-8"))


def _files(path: Path) -> list[Path]:
    if path.is_dir():
        return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)
    return [path]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", type=Path)
    ap.add_argument("--files", action="store_true", help="one row per file too")
    args = ap.parse_args(argv)
    print(f"{'path':<60} " + " ".join(f"{k:>9}" for k in KINDS))
    for root in args.paths:
        if not root.exists():
            print(f"sloc: no such path: {root}", file=sys.stderr)
            return 2
        agg = dict.fromkeys(KINDS, 0)
        for f in _files(root):
            c = count_path(f)
            for k in KINDS:
                agg[k] += c[k]
            if args.files and root.is_dir():
                print(f"{str(f):<60} " + " ".join(f"{c[k]:>9}" for k in KINDS))
        print(f"{str(root):<60} " + " ".join(f"{agg[k]:>9}" for k in KINDS))
    return 0


if __name__ == "__main__":
    sys.exit(main())
