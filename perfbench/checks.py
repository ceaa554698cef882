"""Output checks. A wrong result counts as a failed operation.

KAFSQL results are compared with a DuckDB twin of their template, built
with the repository's oracle helpers and run over the same topic parquet
files the engine reads, or, for the introspection statements, with an
exact invariant. The ingest checks read the files the producer committed;
the curation check compares an order-independent digest with the one
recorded from the seed code.
"""

from __future__ import annotations

import glob
import os
from datetime import timedelta

from gen import DASHBOARD, NOW, N_PARTITIONS, Statement
from platform_spark.oracles import bytea, dsum, jval, ts
from stats import canon_rows

_NOW = f"TIMESTAMP '{NOW:%Y-%m-%d %H:%M:%S}'"


def _last(days: int, col: str = "_ts") -> str:
    lo = NOW - timedelta(days=days)
    return f"{col} >= TIMESTAMP '{lo:%Y-%m-%d %H:%M:%S}' AND {col} <= {_NOW}"


def twin_sql(st: Statement) -> str | None:
    """DuckDB SQL giving the rows `st` must return (same column order), or
    None for statements checked by invariant instead."""
    if st.kind == "dashboard":
        col, topic, days = DASHBOARD[st.param("panel")]
        if col == "_partition":
            return (
                f"SELECT _partition, count(*), {ts('max(_ts)')} FROM events "
                f"WHERE {_last(days)} GROUP BY 1"
            )
        return (
            f"SELECT {jval('_value', '$.' + col)}, count(*) FROM {topic} "
            f"WHERE {_last(days)} GROUP BY 1"
        )
    if st.kind == "range":
        return (
            f"SELECT _partition, _offset, {ts('_ts')}, {bytea('_key')} "
            f"FROM events WHERE _partition = {st.param('partition')} "
            f"AND _offset BETWEEN {st.param('lo')} AND {st.param('hi')}"
        )
    if st.kind == "agg":
        return (
            f"SELECT _partition, count(*), {dsum(jval('_value', '$.amount'))} "
            f"FROM events WHERE {_last(st.param('days'))} GROUP BY 1"
        )
    if st.kind == "topk":
        return (
            f"SELECT _offset, _partition, {ts('_ts')} FROM events "
            f"WHERE _ts <= TIMESTAMP '{st.param('cut'):%Y-%m-%d %H:%M:%S}' "
            f"ORDER BY _ts DESC LIMIT {st.param('k')}"
        )
    if st.kind == "tail":
        return (
            f"SELECT _partition, _offset, {bytea('_key')} FROM events "
            f"ORDER BY _partition DESC, _offset DESC LIMIT {st.param('n')}"
        )
    if st.kind == "join":
        band_us = st.param("within_min") * 60 * 1_000_000
        return (
            f"SELECT {bytea('o._key')}, {jval('p._value', '$.method')} "
            f"FROM (SELECT * FROM orders WHERE {_last(st.param('days'))}) o "
            f"JOIN payments p ON o._key = p._key "
            f"AND abs(epoch_us(o._ts) - epoch_us(p._ts)) <= {band_us}"
        )
    return None


def invariant_ok(st: Statement, rows: list) -> bool:
    """Exact invariants of statements with no DuckDB twin, and the row
    count and offset bounds every range read must meet."""
    if st.kind == "range":
        lo, hi, part = st.param("lo"), st.param("hi"), st.param("partition")
        return len(rows) == hi - lo + 1 and all(
            r[0] == part and lo <= r[1] <= hi for r in rows
        )
    if st.kind != "meta":
        return True
    which = st.param("which")
    if which == "SHOW TOPICS":
        return {"events", "orders", "payments"} <= {r[0] for r in rows}
    if which == "SHOW PARTITIONS FROM events":
        return [r[0] for r in rows] == list(range(N_PARTITIONS))
    if which == "DESCRIBE orders":
        names = [r[0] for r in rows]
        return names[:3] == ["_topic", "_partition", "_offset"] and "status" in names
    return bool(rows) and rows[0][0].startswith("scan topic=events")


class Twins:
    """A DuckDB connection with one view per materialized topic."""

    def __init__(self, topic_dirs: dict[str, str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for name, path in topic_dirs.items():
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT CAST(_partition AS INT) AS _partition, "
                f"_offset, CAST(_ts AS TIMESTAMP) AS _ts, _key, _value "
                f"FROM read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
            )
        self._memo: dict[str, list[str]] = {}

    def expected(self, st: Statement) -> list[str] | None:
        """Canonical expected rows of `st` (memoised per statement text)."""
        sql = twin_sql(st)
        if sql is None:
            return None
        if st.sql not in self._memo:
            rows = self.con.execute(sql).fetchall()
            self._memo[st.sql] = canon_rows(rows, ordered=st.kind == "topk")
        return self._memo[st.sql]

    def close(self) -> None:
        self.con.close()


def statement_ok(twins: Twins, st: Statement, rows: list | None) -> bool:
    """True when `rows`, the collected result of `st`, is right; None
    stands for a statement that raised."""
    if rows is None or not invariant_ok(st, rows):
        return False
    want = twins.expected(st)
    return want is None or canon_rows(rows, ordered=st.kind == "topk") == want


def count_failed(twins: Twins, results) -> int:
    """Wrong or failed results among (statement, rows) pairs."""
    return sum(not statement_ok(twins, st, rows) for st, rows in results)


# -- ingest -------------------------------------------------------------


def offsets_contiguous(offsets_by_partition: dict[int, list[int]]) -> bool:
    """Each partition's offsets are exactly 0, 1, ..., n-1."""
    return all(
        sorted(offs) == list(range(len(offs))) for offs in offsets_by_partition.values()
    )


def hwm_ok(hwm: dict[int, int], offsets_by_partition: dict[int, list[int]], appended: int) -> bool:
    """High-water marks equal each partition's record count and sum to the
    number of records appended."""
    return sum(hwm.values()) == appended and all(
        hwm.get(p, 0) == len(offs) for p, offs in offsets_by_partition.items()
    )


def data_files(root: str, suffix: str) -> list[str]:
    return sorted(glob.glob(os.path.join(root, "**", f"*{suffix}"), recursive=True))
