"""Physical-plan string inspection helpers."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan pushes a filter mentioning
    ``fragment`` (column name, usually)."""
    plan = explain_str(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if fragment in m.group(1):
            return True
    return False


def num_exchanges(df: DataFrame) -> int:
    """Shuffle count in the plan (Exchange nodes, excluding
    broadcast exchanges) — the metric to minimize at scale. Uses
    simple mode, where partitioning prints inline on the node."""
    plan = explain_str(df, mode="simple")
    return len(re.findall(r"\bExchange (?:hash|range)partitioning", plan))
