"""KAFSQL parser: statement text → Query IR.

Fresh Python implementation of the dialect the reference parses in
sql/parser.go (regex/token based, no grammar): SELECT with the Kafka
extensions (LAST / TAIL / WITHIN / SCAN FULL), the fixed WHERE subset on
`_partition`/`_offset`/`_ts` (parser.go:231-258 — anything else is
rejected, parser.go:259-261), JSON helpers, the five aggregates, two-topic
joins, and the introspection statements (SHOW/DESCRIBE/EXPLAIN).
"""

from __future__ import annotations

import re

from platform_spark.errors import ParseError
from platform_spark.functions.durations import parse_duration, parse_ts_literal
from platform_spark.sql.ast import (
    ColumnKind,
    JoinCondition,
    JoinExpr,
    JoinExprKind,
    Query,
    QueryType,
    SelectColumn,
)

_AGG_FUNCS = {"count", "sum", "avg", "min", "max"}  # parser.go:522 whitelist
_JSON_FUNCS = {"json_value", "json_query", "json_exists"}  # parser.go:553-563

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"

#: cap on `_key IN (...)` members for TIME-UNBOUNDED queries (enforced
#: in Compiler._validate, where the bounds are visible — r14 ADVICE):
#: past this, the unbounded batch fetch belongs in a join — 100 random
#: keys already cover essentially every bucket of a bucket[16..64] spec
#: (coupon collector), so a longer list bloats the plan's isin literals
#: without the bucket union pruning anything. LAST/_ts-bounded lists may
#: exceed it: their files are already pruned by time.
MAX_KEY_IN = 100


def _squash(text: str) -> str:
    """Collapse whitespace outside single-quoted strings."""
    out: list[str] = []
    in_q = False
    prev_space = False
    for ch in text:
        if ch == "'":
            in_q = not in_q
            out.append(ch)
            prev_space = False
        elif not in_q and ch.isspace():
            if not prev_space:
                out.append(" ")
            prev_space = True
        else:
            out.append(ch)
            prev_space = False
    return "".join(out).strip()


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0, outside quotes."""
    parts: list[str] = []
    depth = 0
    in_q = False
    cur: list[str] = []
    for ch in text:
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
        if ch == sep and depth == 0 and not in_q:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def _mask_quoted(text: str) -> str:
    """`text` with every character inside a single-quoted literal replaced
    by NUL: the same length, so a regex match on the mask gives the span
    of the original text, and no keyword or separator matches inside a
    literal. A doubled quote (the `''` escape) closes and reopens the
    literal, so its content stays masked."""
    out: list[str] = []
    in_q = False
    for ch in text:
        if ch == "'":
            in_q = not in_q
            out.append(ch)
        else:
            out.append("\0" if in_q else ch)
    return "".join(out)


def _unquote(lit: str) -> str:
    """The value of a `'...'` literal (a doubled quote is one quote)."""
    return lit[1:-1].replace("''", "'")


def _find_kw(text: str, kw: str) -> int:
    """Index of a top-level keyword (outside quotes/parens), or -1."""
    pat = re.compile(rf"(?i)\b{kw}\b")
    depth = 0
    in_q = False
    for i, ch in enumerate(text):
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                m = pat.match(text, i)
                if m:
                    return i
    return -1


def parse(statement: str) -> Query:
    text = _squash(statement).rstrip(";").strip()
    if not text:
        raise ParseError("empty statement")
    upper = text.upper()

    if upper == "SHOW TOPICS":
        return Query(type=QueryType.SHOW_TOPICS)
    m = re.match(rf"(?i)^SHOW\s+PARTITIONS\s+FROM\s+({_IDENT})$", text)
    if m:
        return Query(type=QueryType.SHOW_PARTITIONS, topic=m.group(1))
    m = re.match(rf"(?i)^SHOW\s+SNAPSHOTS\s+FROM\s+({_IDENT})$", text)
    if m:
        # the discovery half of time travel: lists (made_current_at,
        # snapshot_id, parent_id, is_current_ancestor) so a user can
        # pick the instant/id to feed FOR SYSTEM_TIME/SYSTEM_VERSION
        return Query(type=QueryType.SHOW_SNAPSHOTS, topic=m.group(1))
    m = re.match(rf"(?i)^DESCRIBE\s+({_IDENT})$", text)
    if m:
        return Query(type=QueryType.DESCRIBE, topic=m.group(1))
    if upper.startswith("EXPLAIN "):
        inner = parse(text[len("EXPLAIN ") :])
        if inner.type != QueryType.SELECT:
            raise ParseError("EXPLAIN supports only SELECT")
        return Query(type=QueryType.EXPLAIN, explain=inner)
    if not upper.startswith("SELECT "):
        raise ParseError(f"unsupported statement: {text[:40]!r}")

    q = Query(type=QueryType.SELECT)
    body = text[len("SELECT ") :]
    from_idx = _find_kw(body, "FROM")
    if from_idx < 0:
        raise ParseError("SELECT requires FROM")
    select_list = body[:from_idx].strip()
    tail = body[from_idx + len("FROM") :].strip()

    # --- extension keywords (can appear anywhere in the tail) ---
    tail = _extract_keyword_clauses(q, tail)

    # --- FROM topic [alias] [JOIN ...] ---
    tail = _parse_from(q, tail)

    # --- WHERE / GROUP BY / ORDER BY / LIMIT, in order ---
    tail = _parse_where(q, tail)
    tail = _parse_group_order_limit(q, tail)
    if tail.strip():
        raise ParseError(f"unexpected trailing input: {tail.strip()[:40]!r}")

    for item in _split_top(select_list):
        q.select.append(_parse_select_item(item))
    if not q.select:
        raise ParseError("empty select list")
    return q


def _extract_keyword_clauses(q: Query, tail: str) -> str:
    masked = _mask_quoted(tail)

    def take(pattern: str) -> str | None:
        nonlocal tail, masked
        m = re.search(pattern, masked, flags=re.IGNORECASE)
        if not m:
            return None
        value = tail[m.start(1) : m.end(1)] if m.groups() else ""
        tail = tail[: m.start()] + " " + tail[m.end() :]
        masked = masked[: m.start()] + " " + masked[m.end() :]
        return value

    v = take(r"\bLAST\s+([0-9][0-9a-zA-Zµ.]*)")
    if v is not None:
        q.last_seconds = parse_duration(v)
    v = take(r"\bTAIL\s+(\d+)")
    if v is not None:
        q.tail = int(v)
    v = take(r"\bWITHIN\s+([0-9][0-9a-zA-Zµ.]*)")
    if v is not None:
        q.within_seconds = parse_duration(v)
    if take(r"\bSCAN\s+FULL\b") is not None:
        q.scan_full = True
    return tail.strip()


def _parse_time_travel(tail: str):
    """(as_of, version_of, version_ref, rest) from an optional
    `FOR SYSTEM_VERSION AS OF <id|'ref'>` / `FOR SYSTEM_TIME AS OF <ts>`
    suffix — shared by the FROM topic and the JOIN topic, so either
    join side can pin independently."""
    as_of = version_of = version_ref = None
    vm = re.match(
        r"(?i)^FOR\s+SYSTEM_VERSION\s+AS\s+OF\s+(\d+|'[^']*')\s*", tail
    )
    if vm:
        lit = vm.group(1)
        if lit.startswith("'"):
            # quoted = a named ref (tag/branch), Iceberg's VERSION AS OF
            # 'name' form; bare digits = a snapshot id
            version_ref = lit[1:-1]
        else:
            version_of = int(lit)
        tail = tail[vm.end() :]
    fm = re.match(
        rf"(?i)^FOR\s+SYSTEM_TIME\s+AS\s+OF\s+({_TS_LIT})\s*", tail
    )
    if fm:
        if version_of is not None or version_ref is not None:
            raise ParseError(
                "pass ONE of FOR SYSTEM_TIME / FOR SYSTEM_VERSION"
            )
        as_of = parse_ts_literal(fm.group(1))
        tail = tail[fm.end() :]
    return as_of, version_of, version_ref, tail


def _parse_from(q: Query, tail: str) -> str:
    m = re.match(rf"(?i)^({_IDENT})(?:\s+(?!(?:JOIN|LEFT|WHERE|GROUP|ORDER|LIMIT|FOR)\b)({_IDENT}))?\s*", tail)
    if not m:
        raise ParseError(f"cannot parse FROM clause: {tail[:40]!r}")
    q.topic = m.group(1)
    q.topic_alias = m.group(2) or ""
    tail = tail[m.end() :]

    # time travel: FROM topic [alias] FOR SYSTEM_TIME AS OF <ts>
    # (SQL:2011 temporal syntax; resolved to the Iceberg snapshot that
    # was current at the instant — rejected by the compiler on catalogs
    # without snapshot history), or FOR SYSTEM_VERSION AS OF <id>
    # (a pinned snapshot id from SHOW SNAPSHOTS)
    q.as_of, q.version_of, q.version_ref, tail = _parse_time_travel(tail)

    jm = re.match(
        rf"(?i)^(LEFT\s+(?:OUTER\s+)?JOIN|JOIN|INNER\s+JOIN)\s+({_IDENT})"
        rf"(?:\s+(?!(?:ON|WHERE|GROUP|ORDER|LIMIT|FOR)\b)({_IDENT}))?\s*",
        tail,
    )
    if jm:
        q.join_type = "left" if jm.group(1).upper().startswith("LEFT") else "inner"
        q.join_topic = jm.group(2)
        q.join_alias = jm.group(3) or ""
        tail = tail[jm.end() :]
        # per-side pin: JOIN topic [alias] FOR SYSTEM_TIME/VERSION AS OF
        # — the corpus-reproducibility join (docs AS OF the training cut
        # against today's eval topic); each side pins independently
        (
            q.join_as_of, q.join_version_of, q.join_version_ref, tail,
        ) = _parse_time_travel(tail)
        om = re.match(r"(?i)^ON\s+", tail)
        if om:
            tail = tail[om.end() :]
            # the ON expression runs until the next top-level clause keyword
            end = len(tail)
            for kw in ("WHERE", "GROUP", "ORDER", "LIMIT"):
                i = _find_kw(tail, kw)
                if 0 <= i < end:
                    end = i
            q.join_on = _parse_join_condition(tail[:end].strip())
            tail = tail[end:]
        else:
            # ON omitted ⇒ `_key = _key` (parser.go:639-693)
            q.join_on = JoinCondition(
                JoinExpr(JoinExprKind.KEY), JoinExpr(JoinExprKind.KEY)
            )
    return tail


def _parse_join_expr(text: str) -> JoinExpr:
    text = text.strip()
    m = re.match(
        rf"(?i)^json_value\s*\(\s*(?:({_IDENT})\.)?_value\s*,\s*'([^']+)'\s*\)$", text
    )
    if m:
        return JoinExpr(JoinExprKind.JSON, side=m.group(1) or "", json_path=m.group(2))
    m = re.match(rf"(?i)^(?:({_IDENT})\.)?_key$", text)
    if m:
        return JoinExpr(JoinExprKind.KEY, side=m.group(1) or "")
    raise ParseError(f"unsupported join expression: {text!r}")


def _parse_join_condition(text: str) -> JoinCondition:
    sides = _split_top(text, "=")
    if len(sides) != 2:
        raise ParseError(f"join ON must be a single equality: {text!r}")
    return JoinCondition(_parse_join_expr(sides[0]), _parse_join_expr(sides[1]))


_TS_LIT = r"(?:'[^']*'|\d+)"
#: a single-quoted string literal, `''` being an escaped quote
_STR_LIT = r"'(?:[^']|'')*'"


def _parse_where(q: Query, tail: str) -> str:
    m = re.match(r"(?i)^WHERE\s+", tail)
    if not m:
        return tail
    tail = tail[m.end() :]
    end = len(tail)
    for kw in ("GROUP", "ORDER", "LIMIT"):
        i = _find_kw(tail, kw)
        if 0 <= i < end:
            end = i
    clause = tail[:end].strip()
    tail = tail[end:]

    # BETWEEN first (its AND would confuse the conjunct split). Keywords
    # and separators are matched on the quote mask, never inside literals
    masked = _mask_quoted(clause)
    bm = re.search(
        rf"(?i)\b_ts\s+BETWEEN\s+({_TS_LIT})\s+AND\s+({_TS_LIT})", masked
    )
    if bm:
        q.ts_min = parse_ts_literal(clause[bm.start(1) : bm.end(1)])
        q.ts_max = parse_ts_literal(clause[bm.start(2) : bm.end(2)])
        # excise the conjunct with one adjoining AND, the one before it if
        # there is one, so no "... AND AND ..." is left behind
        lo, hi = bm.span()
        before = re.search(r"(?i)\s+AND\s*$", masked[:lo])
        after = re.match(r"(?i)\s*AND\s+", masked[hi:])
        if before:
            lo = before.start()
        elif after:
            hi += after.end()
        clause = clause[:lo] + " " + clause[hi:]
        masked = masked[:lo] + " " + masked[hi:]

    cuts = [m.span() for m in re.finditer(r"(?i)\s+AND\s+", masked)]
    starts = [0] + [e for _, e in cuts]
    ends = [b for b, _ in cuts] + [len(clause)]
    for lo, hi in zip(starts, ends):
        pred = clause[lo:hi].strip()
        if not pred:
            continue
        pm = re.match(r"(?i)^_partition\s*=\s*(\d+)$", pred)
        if pm:
            q.partition = int(pm.group(1))
            continue
        om = re.match(r"(?i)^_offset\s*(>=|<=)\s*(\d+)$", pred)
        if om:
            if om.group(1) == ">=":
                q.offset_min = int(om.group(2))
            else:
                q.offset_max = int(om.group(2))
            continue
        tm = re.match(rf"(?i)^_ts\s*(>=|<=)\s*({_TS_LIT})$", pred)
        if tm:
            if tm.group(1) == ">=":
                q.ts_min = parse_ts_literal(tm.group(2))
            else:
                q.ts_max = parse_ts_literal(tm.group(2))
            continue
        km = re.match(rf"(?i)^_key\s*=\s*({_STR_LIT})$", pred)
        if km:
            # extension (the reference rejects _key predicates,
            # parser.go:259-261): point lookup by record key — over a
            # _key-bucketed Iceberg topic the catalog plans only the
            # key's spec bucket (1/N of the files)
            q.key_eq = _unquote(km.group(1))
            continue
        kin = re.match(
            rf"(?i)^_key\s+IN\s*\((\s*{_STR_LIT}(?:\s*,\s*{_STR_LIT})*\s*)\)$", pred
        )
        if kin:
            # batch fetch: the IN-list twin (union of the keys' buckets)
            q.key_in = tuple(
                _unquote(m.group(0)) for m in re.finditer(_STR_LIT, kin.group(1))
            )
            # cap enforcement moved to Compiler._validate (r14 ADVICE):
            # only TIME-UNBOUNDED large lists are rejected there — the
            # bucket-union-prunes-nothing rationale applies to the
            # budget-admitted unbounded path, not to a LAST-bounded
            # batch fetch whose files are already pruned by time
            continue
        # the reference rejects every other predicate (parser.go:259-261)
        raise ParseError(f"unsupported WHERE predicate: {pred!r}")
    return tail


def _parse_group_order_limit(q: Query, tail: str) -> str:
    m = re.match(r"(?i)^GROUP\s+BY\s+", tail)
    if m:
        tail = tail[m.end() :]
        end = len(tail)
        for kw in ("ORDER", "LIMIT"):
            i = _find_kw(tail, kw)
            if 0 <= i < end:
                end = i
        q.group_by = [c.strip() for c in _split_top(tail[:end])]
        tail = tail[end:]
    m = re.match(rf"(?i)^ORDER\s+BY\s+({_IDENT})(\s+(?:ASC|DESC))?\s*", tail)
    if m:
        q.order_by = m.group(1)
        q.order_desc = bool(m.group(2)) and m.group(2).strip().upper() == "DESC"
        tail = tail[m.end() :]
    m = re.match(r"(?i)^LIMIT\s+(\d+)\s*", tail)
    if m:
        q.limit = int(m.group(1))
        tail = tail[m.end() :]
    return tail


def _parse_select_item(item: str) -> SelectColumn:
    raw = item
    alias = ""
    am = re.search(rf"(?i)\s+AS\s+({_IDENT})$", item)
    if am:
        alias = am.group(1)
        item = item[: am.start()].strip()

    if item == "*":
        return SelectColumn(raw=raw, kind=ColumnKind.STAR)

    fm = re.match(rf"(?i)^({_IDENT})\s*\(", item)
    if fm:
        fn = fm.group(1).lower()
        if fn in _AGG_FUNCS:
            return _parse_aggregate(raw, alias, fn, item)
        if fn in _JSON_FUNCS:
            col = _parse_json_helper(fn, item)
            col.raw, col.alias = raw, alias
            return col
        raise ParseError(f"unknown function {fn!r}")

    m = re.match(rf"^(?:({_IDENT})\.)?({_IDENT})$", item)
    if m:
        return SelectColumn(
            raw=raw,
            kind=ColumnKind.FIELD,
            alias=alias,
            source=m.group(1) or "",
            column=m.group(2),
        )
    raise ParseError(f"cannot parse select item {raw!r}")


def _parse_json_helper(fn: str, item: str) -> SelectColumn:
    m = re.match(
        rf"(?i)^{fn}\s*\(\s*(?:({_IDENT})\.)?({_IDENT})\s*,\s*'([^']+)'\s*\)$", item
    )
    if not m:
        raise ParseError(f"cannot parse {fn}: {item!r}")
    kind = {
        "json_value": ColumnKind.JSON_VALUE,
        "json_query": ColumnKind.JSON_QUERY,
        "json_exists": ColumnKind.JSON_EXISTS,
    }[fn]
    return SelectColumn(
        raw=item,
        kind=kind,
        source=m.group(1) or "",
        column=m.group(2),
        json_path=m.group(3),
    )


def _parse_aggregate(raw: str, alias: str, fn: str, item: str) -> SelectColumn:
    m = re.match(rf"(?i)^{fn}\s*\(\s*(.*)\s*\)$", item)
    if not m:
        raise ParseError(f"cannot parse aggregate {raw!r}")
    arg = m.group(1).strip()
    col = SelectColumn(raw=raw, kind=ColumnKind.AGGREGATE, alias=alias, agg_func=fn)
    if arg == "*":
        if fn != "count":
            raise ParseError(f"{fn}(*) is not supported")
        col.agg_star = True
        return col
    jm = re.match(
        rf"(?i)^json_value\s*\(\s*(?:({_IDENT})\.)?({_IDENT})\s*,\s*'([^']+)'\s*\)$",
        arg,
    )
    if jm:
        col.agg_source = jm.group(1) or ""
        col.agg_column = jm.group(2)
        col.agg_json_path = jm.group(3)
        return col
    am = re.match(rf"^(?:({_IDENT})\.)?({_IDENT})$", arg)
    if am:
        col.agg_source = am.group(1) or ""
        col.agg_column = am.group(2)
        return col
    raise ParseError(f"unsupported aggregate argument {arg!r}")
