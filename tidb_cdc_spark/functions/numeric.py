"""Cross-engine-deterministic numeric aggregation.

Summing doubles is order-dependent; Spark and an oracle engine
(DuckDB) can differ in the last ulp, and rounding after the fact
only moves the boundary. The engine's convention for money-typed
measures: cast to a TIGHT decimal first (the testdata's monetary
columns are 2-dp), do the arithmetic exactly in decimal, aggregate
exactly, and cast the final result to double. Equal exact decimals
cast to equal doubles — bit-for-bit reproducible on any engine and
any partitioning/merge order, which also makes Spark's own results
stable across cluster sizes (a real property at 100 TB, where
partition counts change run to run).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Cast a 2-dp-ish double measure to an exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


