"""CDC layer: Maxwell envelope parse → typed projection → apply.

Reference parity: the whole live dataflow of
``/root/reference/cdc_manager.go`` (Kafka → JSON parse → op branch →
reflection-based typed projection → handler fan-out → offset commit)
re-expressed as Catalyst expressions over DataFrames.
"""

from tidb_cdc_spark.cdc.schema import (
    ENVELOPE_SCHEMA,
    CDCType,
    envelope_schema,
)
from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec, is_widening, snake_case
from tidb_cdc_spark.cdc.parse import (
    parse_envelope,
    parse_cdc,
    schema_drift,
)
from tidb_cdc_spark.cdc.apply import conflate_latest, apply_changes

__all__ = [
    "ENVELOPE_SCHEMA",
    "CDCType",
    "envelope_schema",
    "ColumnSpec",
    "TableSpec",
    "is_widening",
    "snake_case",
    "parse_envelope",
    "parse_cdc",
    "schema_drift",
    "conflate_latest",
    "apply_changes",
]
