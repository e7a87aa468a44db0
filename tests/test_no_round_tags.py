"""No comment or docstring in ``tidb_cdc_spark/``, ``bench.py`` or
``__spark_entry__.py`` carries a development-round tag (``r12``,
``r14 note``, ``NOTES r12``).

History lives in git and in CHANGES.md: a round number says when a
line was written, not why, and goes stale the moment the code moves.
The reason and any measured figure belong in the comment itself.
Only comments and docstrings are scanned, so a variable or an SQL
alias named like ``r0`` is not a tag.
"""

from __future__ import annotations

import ast
import io
import os
import re
import tokenize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAG = re.compile(r"\br\d{1,2}\b")
DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _prose(src: str):
    """(line number, text) of every comment and docstring line."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, DOC_OWNERS) and ast.get_docstring(node):
            doc = node.body[0]
            for k, line in enumerate(doc.value.value.splitlines()):
                yield doc.lineno + k, line


def _sources():
    """Every Python file of the package, then the two entry scripts."""
    for d, _, names in os.walk(os.path.join(ROOT, "tidb_cdc_spark")):
        for n in sorted(names):
            if n.endswith(".py"):
                yield os.path.join(d, n)
    for n in ("bench.py", "__spark_entry__.py"):
        yield os.path.join(ROOT, n)


def test_package_has_no_round_tags():
    hits = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            src = f.read()
        rel = os.path.relpath(path, ROOT)
        hits += [
            f"{rel}:{line}: {text.strip()}"
            for line, text in _prose(src)
            if TAG.search(text)
        ]
    assert not hits, "round tags:\n" + "\n".join(hits)
