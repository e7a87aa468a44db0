"""Plan inspection: assert the physical plans we design for.

Used by tests to pin scale-critical properties — a query that is
correct but loses its broadcast or its pushed filters regresses at
100 TB long before it fails a correctness test.
"""

from tidb_cdc_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    num_exchanges,
)

__all__ = [
    "explain_str",
    "has_broadcast_join",
    "has_pushed_filters",
    "num_exchanges",
]
