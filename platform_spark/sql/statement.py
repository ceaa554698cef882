"""One KAFSQL statement as one Spark SQL text.

The compiler renders a whole statement as a single SQL string over named
relations and hands it to the JVM in one call,
``SparkSession.sql(text, java.util.Map args)``: Catalyst parses and
analyzes the plan once, instead of once per Python DataFrame call (each
of which also pays several py4j round trips for call-site capture).

Values never enter the text. ``value()`` binds them as named parameters
(``:p0``); only exact Python ints are written as digits. Identifiers go
through ``quote()``.

Relations: a frame the catalog has already named (a memoized topic
frame's session view, see ``TopicCatalog.frame_view``) is referenced by
that name; any other frame gets a view named for this statement only,
dropped by ``close()`` once ``sql()`` has returned the analyzed plan.
"""

from __future__ import annotations

import calendar
import time
import uuid
from datetime import datetime

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

#: name prefix of the views a statement registers for its per-call frames
STATEMENT_VIEW_PREFIX = "__kafsql_stmt_"


def quote(name: str) -> str:
    """A backquoted SQL identifier (embedded backquotes doubled)."""
    return "`" + name.replace("`", "``") + "`"


class SqlStatement:
    """Bound values and relation names of one SQL text; a context manager
    that drops the statement's views on exit."""

    def __init__(self, spark: SparkSession, frame_view=None) -> None:
        self.spark = spark
        #: catalog hook: the session view naming a frame, or None
        self._frame_view = frame_view
        self.args: dict[str, object] = {}
        self._id = uuid.uuid4().hex[:12]
        self._views: list[str] = []
        self._named: list[tuple[str, DataFrame]] = []

    def value(self, v) -> str:
        """SQL for a literal: digits for an exact int, else a bound
        parameter holding the value `F.lit` would make of it."""
        if type(v) is int:
            return str(v)
        if isinstance(v, datetime) and v.year >= 1900:
            # the instant py4j's datetime converter gives `F.lit` (aware:
            # UTC; naive: this process's local time), bound as epoch micros
            # — a Long crosses py4j without the converter's JVM round
            # trips. Earlier years keep the converter and Spark's
            # Julian-calendar rebase.
            secs = (
                calendar.timegm(v.utctimetuple())
                if v.tzinfo
                else time.mktime(v.timetuple())
            )
            micros = int(secs) * 1_000_000 + v.microsecond
            return f"timestamp_micros({self._param(micros)})"
        return self._param(v)

    def _param(self, v) -> str:
        name = f"p{len(self.args)}"
        self.args[name] = v
        return f":{name}"

    def relation(self, df: DataFrame) -> str:
        """The quoted view name `df` is read through in this statement."""
        view = self._frame_view(df) if self._frame_view is not None else None
        if view is None:
            view = f"{STATEMENT_VIEW_PREFIX}{self._id}_{len(self._views)}"
            df.createOrReplaceTempView(view)
            self._views.append(view)
        else:
            self._named.append((view, df))
        return quote(view)

    def sql(self, text: str) -> DataFrame:
        """Parse and analyze `text` with the bound values: one JVM call."""
        try:
            return self._run(text)
        except AnalysisException:
            # a catalog view named here may have been dropped since
            # relation() (a concurrent clear of the topic memo): read the
            # frame through its old name for this statement only
            stale = [(v, df) for v, df in self._named if self._frame_view(df) != v]
            if not stale:
                raise
            for view, df in stale:
                df.createOrReplaceTempView(view)
                self._views.append(view)
            return self._run(text)

    def _run(self, text: str) -> DataFrame:
        return DataFrame(self.spark._jsparkSession.sql(text, self.args), self.spark)

    def close(self) -> None:
        for view in self._views:
            self.spark.catalog.dropTempView(view)
        self._views.clear()

    def __enter__(self) -> "SqlStatement":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def local_rows(spark: SparkSession, names: tuple[str, ...], rows) -> DataFrame:
    """Rows as an inline VALUES table: a JVM LocalRelation built in one
    call, whose collect runs no Spark job. A column of exact ints is INT,
    a column of strings STRING; an empty table has STRING columns."""
    st = SqlStatement(spark)
    if not rows:
        cols = ", ".join(f"CAST(NULL AS STRING) AS {quote(n)}" for n in names)
        return st.sql(f"SELECT {cols} WHERE false")
    values = ", ".join(
        "(" + ", ".join(st.value(v) for v in row) + ")" for row in rows
    )
    cols = ", ".join(quote(n) for n in names)
    return st.sql(f"SELECT * FROM VALUES {values} AS t({cols})")
