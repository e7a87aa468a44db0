"""Count code lines of Python sources, leaving out comments, blank
lines and docstrings.

A line counts when it holds at least one token that is not a comment,
a newline or part of a docstring (the first string statement of a
module, class or function body, found with ``ast``).

    python tools/code_lines.py tidb_cdc_spark            # total
    python tools/code_lines.py tidb_cdc_spark --per-file
    python tools/code_lines.py tidb_cdc_spark/streaming/enrich.py \\
        --members NearDupAdmissionSink DigestAdmissionSink

``--members`` prints, for each named class, the code lines of every
member (method or class attribute) and the total; the script only
reads the files it is given.
"""

from __future__ import annotations

import argparse
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
    tokenize.ENCODING,
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


def code_lines(source: str) -> set[int]:
    """Line numbers of ``source`` that carry code."""
    doc = _docstring_lines(ast.parse(source))
    out: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in doc:
                out.add(ln)
    return out


def _files(paths: list[str]) -> list[str]:
    found = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, names in os.walk(p):
                found += [os.path.join(d, n) for n in names if n.endswith(".py")]
        else:
            found.append(p)
    return sorted(found)


def member_lines(source: str, class_name: str) -> dict[str, int]:
    """{member: code lines} for one class of ``source``."""
    lines = code_lines(source)
    tree = ast.parse(source)
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and node.name == class_name:
            out = {}
            for m in node.body:
                start = min(
                    [m.lineno] + [d.lineno for d in getattr(m, "decorator_list", [])]
                )
                name = getattr(m, "name", None) or ast.unparse(m).split("=")[0].strip()
                n = len(lines & set(range(start, m.end_lineno + 1)))
                if n:
                    out[name] = n
            return out
    raise SystemExit(f"class {class_name} not found")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--per-file", action="store_true")
    ap.add_argument("--members", nargs="+", metavar="CLASS")
    args = ap.parse_args(argv)
    if args.members:
        for path in _files(args.paths):
            with open(path, encoding="utf-8") as f:
                src = f.read()
            for cls in args.members:
                per = member_lines(src, cls)
                for name, n in per.items():
                    print(f"{cls}.{name}\t{n}")
                print(f"{cls}\ttotal\t{sum(per.values())}")
        return 0
    total = 0
    for path in _files(args.paths):
        with open(path, encoding="utf-8") as f:
            n = len(code_lines(f.read()))
        total += n
        if args.per_file:
            print(f"{n}\t{path}")
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main())
