"""Row-checksum canonicalization (reconciliation Q2).

The reference checksums a record as SHA-256 over JSON with sorted keys
and stringified values (``src/services/reconciliation_engine.py:410-421``).
We pin an engine-portable canonical form so the Spark engine and the
DuckDB oracle produce byte-identical checksums:

- columns in **sorted name order**, joined with ``|`` (``concat_ws``)
- string   → as-is
- int/bigint → decimal string
- double   → ``printf('%.4f')``  (fixed 4-dp rendering)
- timestamp → ``yyyy-MM-dd HH:mm:ss`` (UTC, second precision)
- checksum = lower-hex SHA-256 of the joined string

NULL handling: NULL is canonicalized **explicitly** to the sentinel
``"\\x00NULL"`` (NUL byte prefix — unrepresentable in real column
text) *before* joining.  ``concat_ws`` skips NULLs in both engines,
so without the sentinel rows differing only in *which* column is NULL
— ``('a', NULL)`` vs ``(NULL, 'a')`` — or NULL-vs-empty-string would
collide to the same checksum and reconciliation would miss them.

All of this runs JVM-side (``sha2``, ``format_string``,
``date_format``) inside whole-stage codegen — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_INT = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType)

#: explicit NULL canonicalization — see module docstring
NULL_SENTINEL = "\x00NULL"


def _canon_spark(col: str, dt: T.DataType) -> Column:
    c = F.col(col)
    if isinstance(dt, _FLOATING):
        return F.format_string("%.4f", c.cast("double"))
    if isinstance(dt, _NUMERIC_INT):
        return c.cast("string")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dt, T.DateType):
        return F.date_format(c, "yyyy-MM-dd")
    if isinstance(dt, T.DecimalType):
        return c.cast("string")
    if isinstance(dt, T.BooleanType):
        return F.when(c, F.lit("true")).otherwise(F.lit("false"))
    return c.cast("string")


def _canon_sql(col: str, dt: T.DataType) -> str:
    if isinstance(dt, _FLOATING):
        return f"printf('%.4f', CAST({col} AS DOUBLE))"
    if isinstance(dt, _NUMERIC_INT):
        return f"CAST({col} AS VARCHAR)"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    if isinstance(dt, T.DateType):
        return f"strftime({col}, '%Y-%m-%d')"
    if isinstance(dt, T.BooleanType):
        return f"CASE WHEN {col} THEN 'true' ELSE 'false' END"
    return f"CAST({col} AS VARCHAR)"


def canonical_cols(df: DataFrame, cols: list[str] | None = None) -> list[Column]:
    """Canonical string Columns for *cols* (default: all), sorted by name."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    names = sorted(cols if cols is not None else schema.keys())
    return [_canon_spark(n, schema[n]) for n in names]


def row_checksum(df: DataFrame, cols: list[str] | None = None) -> Column:
    """SHA-256 checksum Column over the canonical form of *cols*."""
    parts = [F.coalesce(c, F.lit(NULL_SENTINEL)) for c in canonical_cols(df, cols)]
    return F.sha2(F.concat_ws("|", *parts), 256)


def canonical_sql(schema: dict[str, T.DataType], cols: list[str]) -> list[str]:
    return [
        f"COALESCE({_canon_sql(n, schema[n])}, chr(0) || 'NULL')"
        for n in sorted(cols)
    ]


def row_checksum_sql(schema: dict[str, T.DataType], cols: list[str]) -> str:
    """DuckDB SQL expression computing the identical checksum."""
    parts = ", ".join(canonical_sql(schema, cols))
    return f"sha256(concat_ws('|', {parts}))"
