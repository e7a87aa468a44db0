"""tidb_cdc_spark — a PySpark-native analytics & CDC engine.

A from-scratch re-expression of the capabilities of the reference
library ``dollarkillerx/tidb-cdc`` (a Go Kafka/Maxwell CDC consumer,
see ``/root/reference/cdc_manager.go``) as an idiomatic Spark engine:

- ``cdc/``       Maxwell-envelope parsing, typed projection, and
                 latest-wins apply semantics — pure Catalyst
                 expressions (no row-at-a-time UDFs).
- ``sources/``   Kafka + file source builders (batch & streaming).
- ``streaming/`` multi-table Connector registry, foreachBatch merge
                 sinks, checkpointed exactly-once-to-idempotent-sink.
- ``operators/`` batch relational operators the engine exposes as
                 named capabilities (as-of join, top-k per group,
                 sessionize, dedup).
- ``functions/`` scalar/vector function library: text analysis,
                 similarity search, MinHash/SimHash dedup,
                 multimodal columns (``media_probe`` / ``media_decode``
                 / ``media_hash`` / ``media_synth``).
- ``plans/``     plan-inspection helpers (pushdown / broadcast /
                 codegen assertions) used by tests to pin the
                 physical plans we want at 100 TB scale.

Design rules (enforced throughout):
- DataFrame/SQL only; declare the logical plan, let Catalyst pick
  the physical one.
- No Python row-at-a-time UDFs in any hot path; Arrow-batched
  pandas UDFs only where built-ins cannot express the semantics.
- Every operator documents its shuffle behavior and its 100 TB
  strategy in the docstring.
"""

from tidb_cdc_spark.session import (
    get_spark,
    load_tables,
    read_table,
    register_views,
)

__all__ = ["get_spark", "read_table", "load_tables", "register_views"]
__version__ = "0.1.0"
