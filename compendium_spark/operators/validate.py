"""Schema validation at the storage boundary.

The reference trusts SQLite's dynamic typing (`db.py:31-51` inserts
whatever tuples arrive); this engine validates every DataFrame against
the declared table schema BEFORE it reaches storage, so a drifted
ingest fails loudly at the write, not silently at the next read.
Names and types must match positionally; nullability is advisory
(parquet can't enforce it) and is not compared for DataFrames. A
pyarrow Table committed from the driver is checked against the
schema's Arrow projection instead, and there a null in a non-nullable
column is refused too: pyarrow does not enforce ``nullable=False`` on
its own.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T


class SchemaMismatchError(ValueError):
    pass


def _types(st: T.StructType) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in st.fields}


def _check(have: dict[str, str], want: dict[str, str], table: str) -> None:
    missing = sorted(set(want) - set(have))
    extra = sorted(set(have) - set(want))
    wrong = sorted(
        f"{n}: {have[n]} != {want[n]}" for n in set(have) & set(want)
        if have[n] != want[n]
    )
    if missing or extra or wrong:
        raise SchemaMismatchError(
            f"table {table!r}: schema mismatch — "
            f"missing={missing} extra={extra} wrong_type={wrong}"
        )


def validate_schema(df: DataFrame, expected: T.StructType, table: str) -> DataFrame:
    """Raise SchemaMismatchError unless df's columns match `expected`
    in name and type (any order); returns df re-projected into the
    declared column order."""
    _check(_types(df.schema), _types(expected), table)
    return df.select(*[f.name for f in expected.fields])


def validate_arrow(tbl: pa.Table, expected: pa.Schema, table: str) -> pa.Table:
    """validate_schema for a pyarrow Table against the declared
    schema's Arrow projection ``expected``; a non-nullable column may
    hold no null. Returns the table in the declared column order and
    schema."""
    have, want = ({f.name: str(f.type) for f in sch} for sch in (tbl.schema, expected))
    _check(have, want, table)
    nulls = [f.name for f in expected if not f.nullable and tbl.column(f.name).null_count]
    if nulls:
        raise SchemaMismatchError(f"table {table!r}: nulls in non-nullable columns {nulls}")
    return tbl.select(expected.names).cast(expected)
