"""Fault-injection harness for the crash-safe store
(``tidb_cdc_spark/streaming/store.py``).

Every store mutation goes through three primitives
(``store._write_file``, ``store._replace``, ``store._remove``) and
every sink data write through ``DataFrameWriter.parquet``. Both are
monkeypatched: one uninterrupted run of a sink operation enumerates
their calls as its steps and, before performing call k, copies the
store — the exact on-disk state a crash just before step k leaves.
``run_matrix`` then restarts a fresh sink instance on each copy,
replays the operation and compares the result with the uninterrupted
run's.

Capturing the states in one run keeps the matrix inside the default
test tier's time budget. With ``raise_check=True`` the matrix also
reruns the operation from the pre-state with call k raising ``Crash``
and checks that this leaves the captured state (data files compared by
name, everything else byte for byte) — so no code under test swallows
the failure or writes after it.
"""

from __future__ import annotations

import os
import re
import shutil
from contextlib import contextmanager

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from tidb_cdc_spark.streaming import store

# (owner, attribute, index of the path argument that names the step)
_HOOKS = (
    (store, "_write_file", 0),
    (store, "_replace", 1),
    (store, "_remove", 0),
    (DataFrameWriter, "parquet", 1),
)


class Crash(BaseException):
    """An injected crash. A BaseException, so no ``except Exception``
    in the code under test can swallow it."""


@contextmanager
def faults(crash_at: int | None = None, before=None):
    """Count primitive calls into the yielded list of step names
    (``"<primitive>(<basename of its path>)"``). ``before(k)`` runs
    ahead of call k; call ``crash_at`` raises ``Crash`` instead of
    running."""
    steps: list[str] = []

    def hook(name, fn, path_arg):
        def call(*args, **kwargs):
            k = len(steps)
            steps.append(f"{name}({os.path.basename(str(args[path_arg]).rstrip('/'))})")
            if before is not None:
                before(k)
            if k == crash_at:
                raise Crash(steps[k])
            return fn(*args, **kwargs)

        return call

    saved = [(owner, name, getattr(owner, name)) for owner, name, _ in _HOOKS]
    for (owner, name, fn), (_, _, path_arg) in zip(saved, _HOOKS):
        setattr(owner, name, hook(name, fn, path_arg))
    try:
        yield steps
    finally:
        for owner, name, fn in saved:
            setattr(owner, name, fn)


def _equal(expected, got, k: int, steps: list[str]) -> None:
    assert got == expected


def run_matrix(
    spark,
    tmp_path,
    prepare,
    operation,
    observe,
    check=_equal,
    only=None,
    replay=None,
    raise_check=False,
) -> list[str]:
    """Crash ``operation`` before each of its steps and check recovery.

    ``prepare(root)`` builds the committed pre-state once;
    ``operation(root)`` runs the operation under test with a fresh
    sink on ``root``; ``observe(root)`` reads the outcome with a fresh
    sink (it may write, e.g. apply a follow-up batch).
    ``check(expected, got, k, steps)`` compares the outcome after a
    crash before step ``k`` with the uninterrupted one (default:
    equality). ``replay(root)`` is what the restarted process runs
    (default: ``operation`` again). ``only(step)`` restricts the
    crash points. ``raise_check`` also compares a raised crash with
    each captured state. Returns the steps of the uninterrupted run."""
    base, ref = str(tmp_path / "base"), str(tmp_path / "ref")
    prepare(base)
    shutil.copytree(base, ref)
    states: list[str] = []  # per step k: the store just before call k

    def capture(k):
        states.append(str(tmp_path / f"crash{k}"))
        shutil.copytree(ref, states[k])

    with faults(before=capture) as steps:
        operation(ref)
    expected = observe(ref)
    failures = []
    for k, (step, root) in enumerate(zip(steps, states)):
        if raise_check:
            raised = str(tmp_path / "raised")
            shutil.copytree(base, raised)
            with faults(crash_at=k), pytest.raises(Crash):
                operation(raised)
            spark.catalog.clearCache()  # a crashed run leaves its persists
            assert tree(raised) == tree(root), f"crash before step {k} {step}"
            shutil.rmtree(raised)
        if only is None or only(step):
            (replay or operation)(root)  # restart: a fresh sink replays
            try:
                check(expected, observe(root), k, steps)
            except AssertionError as e:
                failures.append(f"crash before step {k} {step}: {e}")
        shutil.rmtree(root)
    assert not failures, "\n".join(failures)
    return steps


_PART = re.compile(r"part-(\d+)-[0-9a-f-]{36}")


def tree(root: str) -> dict[str, bytes | None]:
    """{relative path: content} of every file under ``root``; Spark
    data files, whose names carry a per-job UUID, by normalized name
    only."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            rel = os.path.relpath(os.path.join(d, n), root)
            if _PART.search(n):
                out[_PART.sub(r"part-\1", rel)] = None
            else:
                with open(os.path.join(d, n), "rb") as f:
                    out[rel] = f.read()
    return out


def rows(df) -> list[tuple]:
    """Order-free, None-safe row list of a DataFrame (None → [])."""
    if df is None:
        return []
    return sorted((tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr)
