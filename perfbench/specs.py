"""Table specs of the generated workloads, built from the generator's
column lists (``deals`` uses the engine's own ``deals_spec``)."""

from __future__ import annotations

from perfbench.gen import MANY_COLUMNS, ORDERS_COLUMNS

_DTYPES = {
    "pk": "bigint",
    "pkstr": "string",
    "int": "int",
    "str": "string",
    "dec": "decimal(18,4)",
    "dbl": "double",
    "bool01": "boolean",
    "ts_wall": "timestamp",
    "ts_ms": "timestamp",
}


def _spec(database: str, table: str, columns):
    from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec

    return TableSpec(
        database=database,
        table=table,
        columns=tuple(
            ColumnSpec(name, _DTYPES[kind], column=name, pk=kind in ("pk", "pkstr"),
                       bool01=kind == "bool01")
            for name, kind, _ in columns
        ),
    )


def orders_spec():
    return _spec("shop", "orders", ORDERS_COLUMNS)


def many_spec(table: str):
    return _spec("multi", table, MANY_COLUMNS)
