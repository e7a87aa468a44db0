"""The Maxwell change contract: the envelope every message carries and
the typed change row every operator after the parse reads. Both are
declared here and nowhere else.

Envelope (``CDCSchema`` at ``cdc_utils.go:14-21``),
one JSON document per Kafka message:

    {database, table, type: delete|insert|update, ts: epoch-seconds,
     data: {col: val, ...},   # full after-image (or deleted row)
     old:  {col: val, ...}}   # update only: CHANGED columns only

Its header is ``ENVELOPE_HEADER``; three readers build on it:

- the dead-letter and drift readers (``parse.parse_envelope``,
  ``parse.schema_drift``) read ``data`` and ``old`` as
  ``map<string,string>`` (``envelope_schema()``): any table's
  message parses, and the drift report sees which keys it carries;
- ``parse.parse_cdc`` reads one table's messages with ``data`` as a
  struct of the spec's source columns (``envelope_schema(spec)``);
- the Connector's shared-stream routing reads ``database, table``
  only (``ROUTE_SCHEMA``).

``old`` is a map for every reader: the before-image overlay needs to
tell "column not in old" from "column null in old".

Change row, as ``parse_cdc`` emits it:
``op string, ts long, _seq long, before struct<...>, after struct<...>``
— ``_seq`` orders changes that share a ``ts``; ``after`` is null for a
delete, ``before`` for an insert. ``change_image`` is the row a change
leaves, read from either image.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from tidb_cdc_spark.cdc.spec import TableSpec

#: the raw message column of every source (Kafka's ``value``)
VALUE_COL = "value"
#: the change row's event time and its within-source tiebreak
TS_COL, SEQ_COL = "ts", "_seq"

ENVELOPE_HEADER = (
    StructField("database", StringType()),
    StructField("table", StringType()),
    StructField("type", StringType()),
    StructField(TS_COL, LongType()),  # epoch seconds, cdc_utils.go:18
)
ROUTE_SCHEMA = StructType(list(ENVELOPE_HEADER[:2]))
_IMAGE_MAP = MapType(StringType(), StringType())


class CDCType:
    """Op-type enum, ``cdc_utils.go:23-29``."""

    INSERT = "insert"
    UPDATE = "update"
    DELETE = "delete"
    ALL = (INSERT, UPDATE, DELETE)


def envelope_schema(spec: TableSpec | None = None) -> StructType:
    """The envelope with string-map row images, or, for one table's
    ``spec``, with ``data`` as a struct of its source columns.

    Both keep every value a string (coercion is ``parse.cast_value``):
    ``from_json`` coerces a scalar JSON value to its canonical text.
    The struct is the fast read of one table: a map makes every
    column lookup a linear scan of the row's map, O(columns²) per
    row, where a struct field is O(1)."""
    data = _IMAGE_MAP
    if spec is not None:
        data = StructType(
            [StructField(c.source, StringType()) for c in spec.resolved_columns()]
        )
    return StructType(
        [*ENVELOPE_HEADER, StructField("data", data), StructField("old", _IMAGE_MAP)]
    )


ENVELOPE_SCHEMA = envelope_schema()


def change_image(cols: list[str]) -> list[Column]:
    """Columns ``cols`` of the row a change leaves: read from
    ``after``, or from ``before`` when ``after`` is null (a delete
    carries the full deleted row in its before-image,
    cdc_manager.go:249-256)."""
    return [
        F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c) for c in cols
    ]
