"""KAFSQL compiler: Query IR → one parameterized Spark SQL plan.

This replaces the reference's hand-rolled execution pipeline
(server.go:1308-1484 handleSelect → project/sort/tail/limit,
server.go:1762-2010 handleAggregateSelect, server.go:2281-2464
handleJoinSelect) with one declarative SQL statement over named topic
relations, analyzed once by a single JVM call (statement.py); Catalyst
then provides segment pruning, predicate pushdown, column pruning,
spillable aggregation and size-aware join strategies — everything §4 of
SURVEY.md shows the reference hard-codes or lacks.

Semantics parity notes (the "watch list" of SURVEY.md §7):
- numeric coercion: SUM/AVG/MIN/MAX over JSON paths parse numeric strings
  and skip non-numeric values (server.go:2095-2109) — expressed as
  `cast(double)` under non-ANSI mode (bad cast → NULL → skipped).
- SUM accumulates as float64 in the reference (server.go:2237-2241); we sum
  exactly as DECIMAL(38,9) and cast to double, which is deterministic under
  any partitioning/ordering — a strictly stronger guarantee with the same
  logical value.
- group rows are emitted sorted by the group-key *string* with `\\x1f`
  separators and `<nil>` for NULL (server.go:1829-1833, 1968-1981).
- TAIL = last n records in scan order; scan order is (partition, offset)
  (segment listing order, discovery.go:115-200).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, replace
from typing import NamedTuple
from datetime import datetime, timedelta

from pyspark.sql import DataFrame

from platform_spark.errors import ValidationError
from platform_spark.functions import render
from platform_spark.sql.ast import (
    ColumnKind,
    JoinExprKind,
    Query,
    SelectColumn,
)
from platform_spark.sql.parser import MAX_KEY_IN
from platform_spark.sql.statement import SqlStatement, quote
from platform_spark.topics import IMPLICIT_COLUMNS, TopicCatalog

GROUP_KEY_SEP = "\x1f"
GROUP_KEY_NULL = "<nil>"


#: every optional kwarg a catalog scan/estimate hook may understand —
#: the capability vocabulary `scan_capabilities` resolves against
SCAN_CAPABILITIES = frozenset(
    {
        "partition", "ts_min", "ts_max", "offset_min", "offset_max",
        "key_eq", "as_of", "snapshot_id", "ref", "with_schema_columns",
    }
)

#: the time-travel keys: a hook that accepts-and-IGNORES one of these
#: serves CURRENT state as historical — wrong data, not merely unpruned
#: data (dropping a prune key like ts_min only costs pruning). A bare
#: ``**kwargs`` signature therefore never implies these; they require a
#: declared ``topic_scan_capabilities`` or an explicitly named parameter.
TIME_TRAVEL_CAPABILITIES = frozenset({"as_of", "snapshot_id", "ref"})


def scan_capabilities(owner, fn) -> frozenset:
    """The optional-kwarg capabilities of a catalog hook (``topic_scan``
    or ``estimate_topic_scan``). A DECLARED ``topic_scan_capabilities``
    attribute on the catalog wins outright — signature sniffing alone
    (the r13 shape) silently breaks on a decorator-wrapped hook (whose
    visible signature is ``*args, **kwargs``) and mis-fires time
    travel's loud-rejection contract. The fallback inspects the
    signature FOLLOWING ``__wrapped__`` chains; a bare ``**kwargs``
    grants only the PRUNE keys (a forwarding wrapper that drops one of
    those merely skips pruning), never the time-travel keys, where an
    accept-and-ignore hook would silently serve current state as
    historical (r14 ADVICE) — those demand a declaration or a named
    parameter."""
    if fn is None:
        return frozenset()  # no hook ⇒ no capabilities, declared or not
    caps = getattr(owner, "topic_scan_capabilities", None)
    if caps is not None:
        return frozenset(caps)
    import inspect

    try:
        sig = inspect.signature(fn, follow_wrapped=True)
    except (TypeError, ValueError):
        return frozenset()
    params = sig.parameters
    named = frozenset(params) & SCAN_CAPABILITIES
    if any(
        p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
    ):
        return (SCAN_CAPABILITIES - TIME_TRAVEL_CAPABILITIES) | named
    return named


@dataclass
class CompilerOptions:
    default_limit: int = 1000
    max_rows: int = 100_000
    max_unbounded_scan: int = 1000  # row cap applied to SCAN FULL
    require_time_bound: bool = True
    #: render _ts/_key/_value projections as reference text (F4/F5)
    render_text: bool = True
    #: exact emulation of the reference's MIN/MAX kind rule for JSON paths
    #: (first value in scan order decides number-vs-string, mismatched kinds
    #: ignored — server.go:2132-2182). Costs one tiny top-1 job per MIN/MAX
    #: over a JSON path; off by default in favor of the static rule.
    first_kind_wins: bool = False


class Compiler:
    def __init__(
        self,
        catalog: TopicCatalog,
        options: CompilerOptions | None = None,
        now: datetime | None = None,
    ) -> None:
        self.catalog = catalog
        self.opt = options or CompilerOptions()
        self.now = now  # pinned clock for LAST; None = wall clock
        #: the wall clock a compile pins when `now` is None, per thread
        self._compile_clock = threading.local()

    # ------------------------------------------------------------------
    def compile(self, q: Query, materialize: bool = True) -> DataFrame:
        """The statement's analyzed plan. ``materialize=False`` (EXPLAIN)
        reads a not-yet-materialized topic through its envelope view
        instead of writing it."""
        self._validate(q)
        # Pin the clock for the WHOLE compile: metadata pruning
        # (_topic_frame), the row filters (_ts_conds) and a join's
        # widened right-side frame each call time_bounds(), and for LAST
        # windows every call would otherwise take its own wall-clock
        # `now` — pruning and filtering would disagree about rows stamped
        # between the two instants (a row in a pruned-out file could pass
        # the filter bound yet never be read).
        self._compile_clock.now = self.now or datetime.utcnow()
        try:
            frame_view = getattr(self.catalog, "frame_view", None)
            with SqlStatement(self.catalog.spark, frame_view) as st:
                src = self._scan(st, q, materialize)
                if q.is_join():
                    text = self._join_sql(st, q, src, materialize)
                elif q.has_aggregates():
                    text = self._aggregate_sql(st, q, src)
                else:
                    text = self._select_sql(st, q, src)
                return st.sql(text)
        finally:
            self._compile_clock.now = None

    # -- validation (server.go:1312-1352, 1888-1911, 2285-2299) --------
    def _validate(self, q: Query) -> None:
        if q.order_by and q.order_by != "_ts":
            raise ValidationError("ORDER BY supports only _ts")
        if q.tail is not None and (q.order_by or q.has_aggregates()):
            raise ValidationError("TAIL cannot be combined with ORDER BY/aggregates")
        if q.has_aggregates():
            if q.order_by:
                raise ValidationError("ORDER BY is not supported with aggregates")
            if any(c.kind == ColumnKind.STAR for c in q.select):
                raise ValidationError("SELECT * cannot be combined with aggregates")
            for c in q.select:
                if c.kind == ColumnKind.FIELD and c.column not in q.group_by:
                    raise ValidationError(
                        f"column {c.column!r} must appear in GROUP BY"
                    )
                if c.kind in (
                    ColumnKind.JSON_VALUE,
                    ColumnKind.JSON_QUERY,
                    ColumnKind.JSON_EXISTS,
                ):
                    raise ValidationError(
                        "JSON helpers are not supported as plain columns with aggregates"
                    )
        if q.group_by and not q.has_aggregates():
            raise ValidationError("GROUP BY requires aggregate functions")
        if q.is_join():
            if q.within_seconds is None or q.last_seconds is None:
                raise ValidationError("joins require WITHIN and LAST")
            if q.tail is not None or q.scan_full:
                raise ValidationError("joins do not support TAIL/SCAN FULL")
            if q.partition is not None or q.offset_min is not None or q.offset_max is not None:
                raise ValidationError("joins do not support partition/offset filters")
            if q.key_eq is not None or q.key_in is not None:
                raise ValidationError("joins do not support _key filters")
            # per-side FOR SYSTEM_TIME/SYSTEM_VERSION is allowed: each
            # side routes through _topic_frame, which still rejects
            # loudly on catalogs without snapshot history
            if q.has_aggregates():
                raise ValidationError("joins do not support aggregates")
        if (
            q.key_in is not None
            and len(q.key_in) > MAX_KEY_IN
            and not q.has_time_bound()
        ):
            # the cap bites only TIME-UNBOUNDED lists (r14 ADVICE —
            # parse-time enforcement broke valid LAST-bounded batch
            # fetches): on the admitted unbounded path >100 random keys
            # cover essentially every bucket of a bucket[16..64] spec,
            # so the bucket-union prunes nothing and the isin plan
            # bloats; a bounded list's files are already time-pruned
            raise ValidationError(
                f"_key IN lists {len(q.key_in)} keys (max {MAX_KEY_IN} "
                "without a time bound); add LAST/_ts bounds, or JOIN "
                "against a topic holding the keys instead"
            )
        if (
            self.opt.require_time_bound
            and not q.scan_full
            and q.tail is None
            and not q.has_time_bound()
            and not self._admits_key_lookup(q)
        ):
            raise ValidationError(
                "unbounded query: add LAST/TAIL/_ts bounds or SCAN FULL"
            )

    def _admits_key_lookup(self, q: Query) -> bool:
        """A ``_key =`` / ``_key IN`` query whose catalog PLANS the
        lookup from bucket metadata (1/N of the files from manifests
        alone) may run without a time bound: its cost is MEASURED —
        ``estimate_topic_scan`` prices the planned file set and the
        engine's ScanBudget enforces the cap before execution — so the
        blanket clause-shape guard (r13) would force SCAN FULL's
        ``max_unbounded_scan`` row cap onto the reference's S7
        point-fetch shape (log.go:468 binary-search-by-offset is its
        offset analogue) for no reason. Non-bucketed topics and
        catalogs without metadata planning keep the loud rejection:
        there a bare key filter IS a full scan."""
        if (q.key_eq is None and q.key_in is None) or q.is_join():
            return False
        plans = getattr(self.catalog, "plans_key_lookup", None)
        if plans is None:
            return False
        try:
            return bool(plans(q.topic))
        except FileNotFoundError:
            return False  # unknown topic: _scan() raises its own error

    # -- effective limit (server.go:1321-1346) --------------------------
    def effective_limit(self, q: Query) -> int:
        limit = q.limit if q.limit is not None else self.opt.default_limit
        limit = min(limit, self.opt.max_rows)
        if q.scan_full and not q.has_time_bound() and q.tail is None:
            limit = min(limit, self.opt.max_unbounded_scan)
        return limit

    def _now(self) -> datetime:
        pinned = getattr(self._compile_clock, "now", None) or self.now
        return pinned or datetime.utcnow()

    # -- scan + row filters (P4-P7) -------------------------------------
    def _scan(self, st: SqlStatement, q: Query, materialize: bool = True) -> _Source:
        """The query topic's relation and its exact row conditions."""
        ts_min, ts_max = self.time_bounds(q)
        # key_eq and key_in share the catalog's bucket-planning hook: a
        # single key rides as a scalar, an IN list as a tuple (the
        # catalog plans the union of the keys' buckets)
        key_sel = q.key_eq if q.key_eq is not None else q.key_in
        df = self._topic_frame(
            q.topic, q.partition, ts_min, ts_max, q.offset_min, q.offset_max,
            key_eq=key_sel, as_of=q.as_of, version_of=q.version_of,
            version_ref=q.version_ref, materialize=materialize,
        )
        conds = []
        if q.partition is not None:
            conds.append(f"`_partition` = {st.value(q.partition)}")
        if q.offset_min is not None:
            conds.append(f"`_offset` >= {st.value(q.offset_min)}")
        if q.offset_max is not None:
            conds.append(f"`_offset` <= {st.value(q.offset_max)}")
        # exact row filter on top of any bucket prune: the record key is
        # binary; a text literal compares against its UTF-8 decode (same
        # convention the join ON `_key` path uses)
        if q.key_eq is not None:
            conds.append(f"CAST(`_key` AS STRING) = {st.value(q.key_eq)}")
        if q.key_in is not None:
            keys = ", ".join(st.value(k) for k in q.key_in)
            conds.append(f"CAST(`_key` AS STRING) IN ({keys})")
        return _Source(st.relation(df), conds + self._ts_conds(st, q), df)

    def _topic_frame(
        self,
        topic: str,
        partition=None,
        ts_min=None,
        ts_max=None,
        offset_min=None,
        offset_max=None,
        key_eq=None,
        as_of=None,
        version_of=None,
        version_ref=None,
        materialize: bool = True,
    ) -> DataFrame:
        """Catalogs with their own metadata layer (Iceberg) expose
        ``topic_scan``: a read whose planned FILE LIST already honors the
        partition/time/offset bounds (a superset of the matching rows —
        files without stats survive), so a LAST-window query over a
        years-deep table never plans the other years' files and a
        `WHERE _offset >=` fetch never plans below the watermark. The
        exact row conditions of _scan() still apply on
        top; catalogs without the hook return the full topic frame and
        rely on Spark-side pruning.

        ``key_eq`` rides along when the catalog understands it (bucket
        point-lookup planning — a catalog without the capability just
        gets the exact row filter). ``as_of`` is different: time travel
        NEEDS snapshot history, so a catalog that cannot honor it must
        reject the query loudly rather than silently serve the current
        state as if it were historical."""
        fn = getattr(self.catalog, "topic_scan", None)
        supported = scan_capabilities(self.catalog, fn)
        if as_of is not None and "as_of" not in supported:
            raise ValidationError(
                "FOR SYSTEM_TIME AS OF requires an Iceberg-backed topic "
                "(snapshot history); this catalog serves only the "
                "current state"
            )
        if (
            version_of is not None and "snapshot_id" not in supported
        ) or (version_ref is not None and "ref" not in supported):
            raise ValidationError(
                "FOR SYSTEM_VERSION AS OF requires an Iceberg-backed "
                "topic (snapshot history); this catalog serves only the "
                "current state"
            )
        if fn is not None:
            kwargs = dict(
                partition=partition,
                ts_min=ts_min,
                ts_max=ts_max,
                offset_min=offset_min,
                offset_max=offset_max,
            )
            if key_eq is not None and "key_eq" in supported:
                kwargs["key_eq"] = key_eq
            if as_of is not None:
                kwargs["as_of"] = as_of
            if version_of is not None:
                kwargs["snapshot_id"] = version_of
            if version_ref is not None:
                kwargs["ref"] = version_ref
            return fn(topic, **kwargs)
        if not materialize and getattr(self.catalog, "cache_root", None):
            return self.catalog.topic(topic, materialize=False)
        return self.catalog.topic(topic)

    def _ts_conds(
        self, st: SqlStatement, q: Query, widen: timedelta = timedelta(0)
    ) -> list[str]:
        """`_ts` bound conditions, each bound widened by `widen`."""
        ts_min, ts_max = self.time_bounds(q)
        conds = []
        if ts_min is not None:
            conds.append(f"`_ts` >= {st.value(ts_min - widen)}")
        if ts_max is not None:
            conds.append(f"`_ts` <= {st.value(ts_max + widen)}")
        return conds

    def time_bounds(self, q: Query) -> tuple[datetime | None, datetime | None]:
        ts_min, ts_max = q.ts_min, q.ts_max
        if q.last_seconds is not None:
            now = self._now()
            lo = now - timedelta(seconds=q.last_seconds)
            ts_min = max(ts_min, lo) if ts_min else lo
            ts_max = min(ts_max, now) if ts_max else now
        return ts_min, ts_max

    # -- plain SELECT pipeline (server.go:1400-1484) --------------------
    def _select_sql(self, st: SqlStatement, q: Query, src: _Source) -> str:
        rows = f"SELECT * {_from(src)}"
        if q.tail is not None:
            # last n in scan order = top-n by (partition, offset) descending
            # (ring buffer server.go:1600-1610); re-emitted in scan order.
            rows = (
                f"SELECT * FROM ({rows} ORDER BY `_partition` DESC, "
                f"`_offset` DESC LIMIT {st.value(q.tail)}) "
                "ORDER BY `_partition`, `_offset`"
            )
        else:
            if q.order_by:
                rows += f" ORDER BY `_ts` {'DESC' if q.order_desc else 'ASC'}"
            rows += f" LIMIT {st.value(self.effective_limit(q))}"
        return f"SELECT {', '.join(self._projection(st, q))} FROM ({rows})"

    # -- projection (P1-P3, F1-F5) --------------------------------------
    def _projection(self, st: SqlStatement, q: Query) -> list[str]:
        cols: list[str] = []
        for item in q.select:
            if item.kind == ColumnKind.STAR:
                cols.extend(self._star_columns(q))
            else:
                cols.append(self._item_sql(st, item))
        return cols

    def _star_columns(self, q: Query) -> list[str]:
        out = [
            f"{self._column_sql(name)} AS {quote(name)}"
            for name in IMPLICIT_COLUMNS
        ]
        cfg = self.catalog.configs.get(q.topic)
        if cfg:
            out.extend(quote(c.name) for c in cfg.columns)
        return out

    def _column_sql(self, name: str, prefix: str = "") -> str:
        """A column; `_ts`/`_key`/`_value` as reference text (F4/F5)."""
        col = _ref(name, prefix)
        if not self.opt.render_text:
            return col
        if name == "_ts":
            return render.ts_text_sql(col)
        if name in ("_key", "_value"):
            return render.bytea_text_sql(col)
        return col

    def _item_sql(self, st: SqlStatement, item: SelectColumn, prefix: str = "") -> str:
        """One non-star select item, its columns under `prefix`."""
        col, path = item.column, item.json_path
        if item.kind == ColumnKind.FIELD:
            expr = self._column_sql(col, prefix)
        elif item.kind in (ColumnKind.JSON_VALUE, ColumnKind.JSON_QUERY):
            expr = self._json_sql(st, col, path, prefix)
        elif item.kind == ColumnKind.JSON_EXISTS:
            expr = self._json_exists_sql(st, col, path, prefix)
        else:
            raise ValidationError(f"cannot project {item.raw!r}")
        return f"{expr} AS {quote(item.output_name())}"

    def _json_sql(self, st: SqlStatement, column: str, path: str, prefix: str = "") -> str:
        src = f"CAST({_ref(column, prefix)} AS STRING)"
        return f"get_json_object({src}, {st.value(path)})"

    def _json_exists_sql(
        self, st: SqlStatement, column: str, path: str, prefix: str = ""
    ) -> str:
        """Tri-state (server.go:1719-1729): true/false when `_value` is valid
        JSON, NULL when it is not."""
        src = f"CAST({_ref(column, prefix)} AS STRING)"
        # `get_json_object(src, '$')` is NULL iff src is not valid JSON
        return (
            f"CASE WHEN get_json_object({src}, '$') IS NULL "
            f"THEN CAST(NULL AS BOOLEAN) "
            f"ELSE get_json_object({src}, {st.value(path)}) IS NOT NULL END"
        )

    # -- aggregates (server.go:1762-2010) -------------------------------
    def _agg_sql(
        self, st: SqlStatement, q: Query, src: _Source, item: SelectColumn
    ) -> str:
        fn = item.agg_func
        if item.agg_star:
            arg = "1"
        elif item.agg_json_path:
            arg = self._json_sql(st, item.agg_column, item.agg_json_path)
        else:
            arg = quote(item.agg_column)
        if fn == "count":
            return f"count({arg})"
        if fn in ("sum", "avg"):
            # numeric coercion: strings parse, junk → NULL → skipped
            dec = f"CAST({arg} AS DECIMAL(38,9))"
            if fn == "sum":
                return f"CAST(sum({dec}) AS DOUBLE)"
            # avg = exact decimal sum cast to double, / count — bit-exact
            # on any engine (IEEE division of deterministic operands)
            return f"CAST(sum({dec}) AS DOUBLE) / count({dec})"
        if fn in ("min", "max"):
            kind = self._minmax_kind(q, item)
            if item.agg_json_path and self.opt.first_kind_wins:
                kind = self._peek_kind(st, src, arg)
            typed = f"CAST({arg} AS {kind})" if kind else arg
            if kind == "string" and item.agg_json_path and self.opt.first_kind_wins:
                # string kind: number-valued extractions are a kind
                # mismatch and are ignored (server.go:2132-2182)
                typed = f"CASE WHEN CAST({arg} AS DOUBLE) IS NULL THEN {arg} END"
            col = f"{fn}({typed})"
            if self.opt.render_text and kind == "timestamp":
                col = render.ts_text_sql(col)
            return col
        raise ValidationError(f"unknown aggregate {fn!r}")

    def _peek_kind(self, st: SqlStatement, src: _Source, arg: str) -> str:
        """First-seen-kind emulation: look at the first non-null extraction
        in scan order ((partition, offset)); number-parseable → double kind,
        else string."""
        present = src._replace(conds=src.conds + [f"{arg} IS NOT NULL"])
        rows = st.sql(
            f"SELECT {arg} AS v {_from(present)} "
            "ORDER BY `_partition`, `_offset` LIMIT 1"
        ).collect()
        if not rows:
            return "string"
        try:
            float(rows[0]["v"])
            return "double"
        except (TypeError, ValueError):
            return "string"

    def _minmax_kind(self, q: Query, item: SelectColumn) -> str | None:
        """MIN/MAX value kind. The reference decides per-group from the
        first value seen in scan order (server.go:2132-2182) — inherently
        order-dependent. We resolve the kind *statically*: `_ts` →
        timestamp, declared numeric schema columns and JSON numeric paths →
        double, everything else → string (documented deviation; identical
        on homogeneous data, deterministic on mixed data)."""
        if item.agg_column == "_ts":
            return "timestamp"
        if item.agg_column in ("_offset", "_partition"):
            return None  # already numeric
        cfg = self.catalog.configs.get(q.topic)
        if cfg and not item.agg_json_path:
            for c in cfg.columns:
                if c.name == item.agg_column:
                    return (
                        "double"
                        if c.type in ("int", "long", "double")
                        else ("timestamp" if c.type == "timestamp" else "string")
                    )
        return "string"

    def _aggregate_sql(self, st: SqlStatement, q: Query, src: _Source) -> str:
        aggs = [
            f"{self._agg_sql(st, q, src, c)} AS {quote(c.output_name())}"
            for c in q.select
            if c.kind == ColumnKind.AGGREGATE
        ]
        if not q.group_by:
            return f"SELECT {', '.join(aggs)} {_from(src)}"
        groups = [quote(g) for g in q.group_by]
        # deterministic emit order: the reference's group key string —
        # values cast to string, NULL → `<nil>`, joined with 0x1f
        # (server.go:1829-1833, 1968-1981; A8)
        key = ", ".join(
            f"coalesce(CAST({g} AS STRING), '{GROUP_KEY_NULL}')" for g in groups
        )
        grouped = (
            f"SELECT {', '.join(groups + aggs)} {_from(src)} "
            f"GROUP BY {', '.join(groups)} "
            f"ORDER BY concat_ws(chr({ord(GROUP_KEY_SEP)}), {key}) "
            f"LIMIT {st.value(self.effective_limit(q))}"
        )
        # project in select-list order, rendering group cols as needed
        final = [
            self._item_sql(st, item)
            if item.kind == ColumnKind.FIELD
            else quote(item.output_name())
            for item in q.select
        ]
        return f"SELECT {', '.join(final)} FROM ({grouped})"

    # -- joins (server.go:2281-2464) ------------------------------------
    def _join_names(self, q: Query) -> tuple[set[str], set[str]]:
        """Accepted qualifiers per side: the alias AND the topic name
        (reference resolveJoinSide accepts both even when an alias is
        declared — parser.go:639-693)."""
        left = {q.topic} | ({q.topic_alias} if q.topic_alias else set())
        right = {q.join_topic} | ({q.join_alias} if q.join_alias else set())
        return left, right

    def _join_sql(
        self, st: SqlStatement, q: Query, src: _Source, materialize: bool
    ) -> str:
        # Left rows are LAST-window-filtered (server.go:2407-2408). The
        # reference scans the right side unfiltered (server.go:2384); the
        # WITHIN band then implies right._ts ∈ [window ± within] — we push
        # that derived bound so the right scan prunes too (same semantics,
        # bounded scan at any scale).
        ts_min, ts_max = self.time_bounds(q)
        w = timedelta(seconds=q.within_seconds)
        # the right side's metadata pruning must use the WIDENED bounds
        # (window ± band) — the band condition admits right rows up to
        # `within` outside the left window
        right = self._topic_frame(
            q.join_topic,
            ts_min=ts_min - w if ts_min is not None else None,
            ts_max=ts_max + w if ts_max is not None else None,
            as_of=q.join_as_of,
            version_of=q.join_version_of,
            version_ref=q.join_version_ref,
            materialize=materialize,
        )
        right_src = _Source(st.relation(right), self._ts_conds(st, q, widen=w), right)

        lk, rk = self._join_key(st, q, "left"), self._join_key(st, q, "right")
        # WITHIN band: |l._ts - r._ts| <= d (server.go:2644-2650)
        band = (
            f"abs(unix_micros({_ref('_ts', LEFT)}) - unix_micros({_ref('_ts', RIGHT)}))"
            f" <= {st.value(int(q.within_seconds * 1_000_000))}"
        )
        how = "LEFT OUTER" if q.join_type == "left" else "INNER"
        joined = (
            f"SELECT * FROM {_side(src, LEFT)} AS l "
            f"{how} JOIN {_side(right_src, RIGHT)} AS r ON {lk} = {rk} AND {band}"
        )
        # LIMIT applies to joins too (reference stops at sent >= limit,
        # limit = user LIMIT or DefaultLimit, server.go handleJoinSelect).
        # Deterministic survivor set for a binding limit: emit order is left
        # scan order then right scan order. Limits up to
        # topKSortFallbackThreshold (10k) compile to a distributed top-k
        # heap (TakeOrderedAndProject, which renders the projection for
        # the survivors only), not a global sort. The sort applies
        # whenever the user set a LIMIT explicitly (even one equal to or
        # capped at max_rows — it can still bind and must pick a
        # deterministic survivor set); only the purely-implicit guardrail
        # cap skips it.
        limit = self.effective_limit(q)
        if q.limit is not None or limit < self.opt.max_rows:
            order = (_ref(c, p) for p in (LEFT, RIGHT) for c in ("_partition", "_offset"))
            joined += f" ORDER BY {', '.join(order)}"
        joined += f" LIMIT {st.value(limit)}"
        return f"SELECT {', '.join(self._join_projection(st, q))} FROM ({joined})"

    def _join_key(self, st: SqlStatement, q: Query, want: str) -> str:
        """The ON expression of side `want`. Which ON side belongs to which
        topic: by qualifier (alias OR topic name both accepted,
        parser.go:639-693), positionally otherwise."""
        left_names, right_names = self._join_names(q)
        for i, e in enumerate((q.join_on.left, q.join_on.right)):
            side = (
                "left"
                if e.side in left_names
                else ("right" if e.side in right_names else ("left", "right")[i])
            )
            if side == want:
                prefix = LEFT if want == "left" else RIGHT
                if e.kind == JoinExprKind.KEY:
                    return f"CAST({_ref('_key', prefix)} AS STRING)"
                return self._json_sql(st, "_value", e.json_path, prefix)
        raise ValidationError("cannot resolve join expression sides")

    def _join_projection(self, st: SqlStatement, q: Query) -> list[str]:
        left_names, right_names = self._join_names(q)

        def prefix_for(source: str, column: str) -> str:
            # alias OR topic name resolve to their side; unknown qualifiers
            # fall back to left (reference joinSideFromSource behavior)
            if source in left_names:
                return LEFT
            if source in right_names:
                return RIGHT
            if not source and column.startswith("_right_"):
                return RIGHT
            return LEFT

        cols: list[str] = []
        for item in q.select:
            if item.kind == ColumnKind.STAR:
                # left implicit columns under their own names, right under
                # `_right_*` (server.go:2581-2589)
                cols.extend(
                    f"{self._column_sql(name, LEFT)} AS {quote(name)}"
                    for name in IMPLICIT_COLUMNS
                )
                cols.extend(
                    f"{self._column_sql(name, RIGHT)} AS {quote('_right' + name)}"
                    for name in IMPLICIT_COLUMNS
                )
                continue
            prefix = prefix_for(item.source, item.column)
            if item.kind == ColumnKind.FIELD and item.column.startswith("_right_"):
                item = replace(
                    item,
                    column="_" + item.column[len("_right_") :],
                    alias=item.output_name(),
                )
            cols.append(self._item_sql(st, item, prefix))
        return cols


#: column-name prefixes of a join's left and right side
LEFT, RIGHT = "__l_", "__r_"


class _Source(NamedTuple):
    """A statement's topic relation, its row conditions and its frame."""

    rel: str
    conds: list[str]
    frame: DataFrame


def _ref(column: str, prefix: str = "") -> str:
    """A column reference, under a join side's prefix if given."""
    return quote(prefix + column)


def _from(src: _Source) -> str:
    """`FROM rel [WHERE c1 AND c2 ...]`."""
    where = f" WHERE {' AND '.join(src.conds)}" if src.conds else ""
    return f"FROM {src.rel}{where}"


def _side(src: _Source, prefix: str) -> str:
    """A join side: every column of its frame renamed under `prefix`, so
    the joined rows can be ordered and limited before the projection."""
    cols = ", ".join(f"{quote(c)} AS {_ref(c, prefix)}" for c in src.frame.columns)
    return f"(SELECT {cols} {_from(src)})"
