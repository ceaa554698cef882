"""Reference-parity output rendering (SURVEY.md §2.8 F4-F6).

The reference serializes every value to PG text; we keep DataFrames typed
but render the reference's text forms for `_ts` (ms-precision UTC,
server.go:2794-2797) and bytea (`\\x` + hex, server.go:2799-2808) so golden
outputs and the DuckDB oracle agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TS_TEXT_FORMAT = "yyyy-MM-dd HH:mm:ss.SSS"
#: DuckDB twin of TS_TEXT_FORMAT (strftime)
TS_TEXT_FORMAT_DUCK = "%Y-%m-%d %H:%M:%S.%g"


def ts_text(col: Column) -> Column:
    """`YYYY-MM-DD HH:MM:SS.mmm` (server.go:2794-2797)."""
    return F.date_format(col, TS_TEXT_FORMAT)


def bytea_text(col: Column) -> Column:
    """`\\x` + lowercase hex (server.go:2799-2808); NULL passes through."""
    return F.when(col.isNull(), F.lit(None)).otherwise(
        F.concat(F.lit("\\x"), F.lower(F.hex(col.cast("binary"))))
    )


def ts_text_sql(expr: str) -> str:
    """SQL form of ts_text for a SQL expression."""
    return f"date_format({expr}, '{TS_TEXT_FORMAT}')"


def bytea_text_sql(expr: str) -> str:
    """SQL form of bytea_text for a SQL expression (concat is NULL on a
    NULL input; chr(92) is the backslash, whatever the session's string
    escape rules)."""
    return f"concat(chr(92), 'x', lower(hex(CAST({expr} AS BINARY))))"


def duck_ts_text(expr: str) -> str:
    return f"strftime({expr}, '{TS_TEXT_FORMAT_DUCK}')"


def duck_bytea_text(expr: str) -> str:
    return f"CASE WHEN {expr} IS NULL THEN NULL ELSE '\\x' || lower(hex({expr})) END"
