"""Parser tests, modeled on the reference's parser_test.go cases."""

from __future__ import annotations

import pytest

from platform_spark.errors import ParseError
from platform_spark.sql import parser
from platform_spark.sql.ast import ColumnKind, JoinExprKind, QueryType


def test_show_topics():
    q = parser.parse("SHOW TOPICS;")
    assert q.type == QueryType.SHOW_TOPICS


def test_show_partitions():
    q = parser.parse("SHOW PARTITIONS FROM events")
    assert q.type == QueryType.SHOW_PARTITIONS
    assert q.topic == "events"


def test_describe():
    q = parser.parse("DESCRIBE orders;")
    assert q.type == QueryType.DESCRIBE
    assert q.topic == "orders"


def test_simple_select_tail():
    q = parser.parse("SELECT * FROM orders TAIL 100;")
    assert q.topic == "orders"
    assert q.tail == 100
    assert q.select[0].kind == ColumnKind.STAR


def test_select_last_group_by():
    q = parser.parse(
        "SELECT _partition, count(*), max(_ts) AS latest FROM orders LAST 5m GROUP BY _partition"
    )
    assert q.last_seconds == 300.0
    assert q.group_by == ["_partition"]
    assert q.select[1].agg_func == "count" and q.select[1].agg_star
    assert q.select[2].agg_func == "max" and q.select[2].alias == "latest"


def test_where_predicates():
    q = parser.parse(
        "SELECT _offset FROM events WHERE _partition = 2 AND _offset >= 10 "
        "AND _offset <= 99 AND _ts >= '2024-01-02 00:00:00' AND _ts <= 1706572800000 LIMIT 5"
    )
    assert q.partition == 2
    assert q.offset_min == 10 and q.offset_max == 99
    assert q.ts_min.year == 2024
    assert q.ts_max.year == 2024
    assert q.limit == 5


def test_ts_between():
    q = parser.parse(
        "SELECT _offset FROM events WHERE _ts BETWEEN '2024-01-02 00:00:00' AND '2024-01-03 12:00:00.500'"
    )
    assert q.ts_min.day == 2
    assert q.ts_max.microsecond == 500000


def test_where_rejects_other_predicates():
    # `_key = '<text>'` is an r13 EXTENSION (bucket point lookup) —
    # everything else outside the reference's fixed WHERE subset
    # (parser.go:259-261) is still rejected
    with pytest.raises(ParseError):
        parser.parse("SELECT * FROM events WHERE _value = 'a' LAST 5m")
    with pytest.raises(ParseError):
        parser.parse("SELECT * FROM events WHERE amount > 5 LAST 5m")


def test_json_helpers():
    q = parser.parse(
        "SELECT json_value(_value, '$.a.b') AS v, json_query(_value, '$.a'), "
        "json_exists(_value, '$.x') FROM events LAST 1h"
    )
    assert q.select[0].kind == ColumnKind.JSON_VALUE
    assert q.select[0].json_path == "$.a.b"
    assert q.select[0].alias == "v"
    assert q.select[1].kind == ColumnKind.JSON_QUERY
    assert q.select[2].kind == ColumnKind.JSON_EXISTS


def test_agg_json_value():
    q = parser.parse(
        "SELECT sum(json_value(_value, '$.amount')) AS total FROM events LAST 1d"
    )
    c = q.select[0]
    assert c.agg_func == "sum"
    assert c.agg_json_path == "$.amount"
    assert q.last_seconds == 86400.0


def test_join():
    q = parser.parse(
        "SELECT o._key, o._value, p._value FROM orders o JOIN payments p "
        "ON o._key = p._key WITHIN 10m LAST 1h"
    )
    assert q.topic == "orders" and q.topic_alias == "o"
    assert q.join_topic == "payments" and q.join_alias == "p"
    assert q.join_type == "inner"
    assert q.join_on.left.kind == JoinExprKind.KEY
    assert q.within_seconds == 600.0
    assert q.last_seconds == 3600.0
    assert q.select[0].source == "o" and q.select[0].column == "_key"


def test_left_join_json_on():
    q = parser.parse(
        "SELECT o._key FROM orders o LEFT JOIN payments p "
        "ON json_value(o._value, '$.order_id') = json_value(p._value, '$.order_id') "
        "WITHIN 5m LAST 2h"
    )
    assert q.join_type == "left"
    assert q.join_on.left.kind == JoinExprKind.JSON
    assert q.join_on.left.json_path == "$.order_id"
    assert q.join_on.left.side == "o"


def test_join_without_on_defaults_to_key():
    q = parser.parse("SELECT * FROM orders o JOIN payments p WITHIN 5m LAST 1h")
    assert q.join_on is not None
    assert q.join_on.left.kind == JoinExprKind.KEY


def test_order_by_limit_scan_full():
    q = parser.parse("SELECT _ts FROM events ORDER BY _ts DESC LIMIT 10 SCAN FULL")
    assert q.order_by == "_ts" and q.order_desc
    assert q.limit == 10
    assert q.scan_full


def test_explain():
    q = parser.parse("EXPLAIN SELECT * FROM orders LAST 24h")
    assert q.type == QueryType.EXPLAIN
    assert q.explain.topic == "orders"
    assert q.explain.last_seconds == 86400.0


def test_durations():
    assert parser.parse("SELECT * FROM t LAST 90s").last_seconds == 90
    assert parser.parse("SELECT * FROM t LAST 1h30m").last_seconds == 5400
    assert parser.parse("SELECT * FROM t LAST 1.5h").last_seconds == 5400
    assert parser.parse("SELECT * FROM t LAST 7d").last_seconds == 7 * 86400
    assert parser.parse("SELECT * FROM t LAST 250ms").last_seconds == 0.25


def test_ts_between_mid_clause():
    # BETWEEN flanked by other conjuncts: excising it must not leave a
    # dangling AND AND (reference accepts this shape via regex extraction)
    q = parser.parse(
        "SELECT _offset FROM events WHERE _partition = 0 "
        "AND _ts BETWEEN '2024-01-02 00:00:00' AND '2024-01-03 00:00:00' "
        "AND _offset >= 5"
    )
    assert q.partition == 0
    assert q.ts_min.day == 2 and q.ts_max.day == 3
    assert q.offset_min == 5


def test_key_equality_predicate():
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key = 'doc-42' LAST 1h"
    )
    assert q.key_eq == "doc-42"
    # composes with the classic predicates
    q = parser.parse(
        "SELECT _offset FROM events "
        "WHERE _partition = 1 AND _key = 'k' AND _offset >= 5 LAST 1h"
    )
    assert q.partition == 1 and q.key_eq == "k" and q.offset_min == 5
    # only equality against a quoted literal is supported
    with pytest.raises(ParseError):
        parser.parse("SELECT * FROM events WHERE _key > 'a' LAST 1h")
    with pytest.raises(ParseError):
        parser.parse("SELECT * FROM events WHERE _key = 42 LAST 1h")


def test_for_system_time_as_of():
    q = parser.parse(
        "SELECT * FROM events FOR SYSTEM_TIME AS OF "
        "'2024-01-15 00:00:00' LAST 30d"
    )
    assert q.as_of is not None and q.as_of.day == 15
    assert q.topic == "events" and q.topic_alias == ""
    # with an alias before the temporal clause; epoch-millis literal
    q = parser.parse(
        "SELECT e._offset FROM events e FOR SYSTEM_TIME AS OF "
        "1700000000000 LAST 1h"
    )
    assert q.topic_alias == "e" and q.as_of.year == 2023
    # FOR is never mistaken for an alias
    q = parser.parse("SELECT * FROM events LAST 1h")
    assert q.as_of is None


def test_for_system_version_and_show_snapshots():
    q = parser.parse(
        "SELECT _offset FROM events FOR SYSTEM_VERSION AS OF 7 LAST 1h"
    )
    assert q.version_of == 7 and q.as_of is None
    with pytest.raises(ParseError, match="ONE of"):
        parser.parse(
            "SELECT * FROM events FOR SYSTEM_VERSION AS OF 7 "
            "FOR SYSTEM_TIME AS OF 1700000000000 LAST 1h"
        )
    q = parser.parse("SHOW SNAPSHOTS FROM events")
    assert q.type == QueryType.SHOW_SNAPSHOTS and q.topic == "events"
    # quoted form = a named tag/branch ref (Iceberg VERSION AS OF 'name')
    q = parser.parse(
        "SELECT * FROM events FOR SYSTEM_VERSION AS OF 'corpus-v1' LAST 1h"
    )
    assert q.version_ref == "corpus-v1" and q.version_of is None


def test_join_side_time_travel_parses():
    """Per-side FOR SYSTEM_TIME/VERSION on either join topic (r13
    verdict #6): each side pins independently; FOR is not swallowed as
    a join alias; the one-of rule applies per side."""
    q = parser.parse(
        "SELECT o._key FROM orders o FOR SYSTEM_TIME AS OF 1700001800000 "
        "JOIN payments p FOR SYSTEM_VERSION AS OF 42 "
        "ON o._key = p._key WITHIN 10m LAST 1h"
    )
    assert q.as_of is not None and q.version_of is None
    assert q.join_version_of == 42 and q.join_as_of is None
    assert q.join_alias == "p"
    # right side only, named ref, no alias — FOR must not parse as alias
    q = parser.parse(
        "SELECT _offset FROM orders "
        "JOIN payments FOR SYSTEM_VERSION AS OF 'cut-v1' "
        "ON _key = _key WITHIN 10m LAST 1h"
    )
    assert q.join_version_ref == "cut-v1" and q.join_alias == ""
    assert q.as_of is None and q.version_of is None
    with pytest.raises(ParseError, match="ONE of"):
        parser.parse(
            "SELECT _offset FROM orders JOIN payments "
            "FOR SYSTEM_VERSION AS OF 42 FOR SYSTEM_TIME AS OF 170 "
            "ON _key = _key WITHIN 10m LAST 1h"
        )


def test_key_in_predicate():
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key IN ('a', 'b', 'c') LAST 1h"
    )
    assert q.key_in == ("a", "b", "c") and q.key_eq is None
    q = parser.parse(
        "SELECT _offset FROM events "
        "WHERE _partition = 1 AND _key IN ('x') LAST 1h"
    )
    assert q.partition == 1 and q.key_in == ("x",)
    with pytest.raises(ParseError):
        parser.parse("SELECT * FROM events WHERE _key IN (42) LAST 1h")
    with pytest.raises(ParseError):
        parser.parse("SELECT * FROM events WHERE _value IN ('a') LAST 1h")
    # MAX_KEY_IN is NOT a parse-time cap (r14 ADVICE moved enforcement
    # to Compiler._validate, where time bounds are visible): an
    # over-cap list with LAST parses fine — the compiler rejects it
    # only when the query is time-unbounded (tests/test_compiler.py)
    over = ", ".join(f"'k{i}'" for i in range(parser.MAX_KEY_IN + 1))
    q = parser.parse(
        f"SELECT _offset FROM events WHERE _key IN ({over}) LAST 1h"
    )
    assert len(q.key_in) == parser.MAX_KEY_IN + 1


def test_keywords_inside_quoted_literals_are_data():
    # a clause keyword inside a literal is part of the value: it must not
    # be lifted out of the statement, nor split the WHERE conjuncts
    q = parser.parse("SELECT _offset FROM events WHERE _key = 'TAIL 5' LAST 1d")
    assert q.key_eq == "TAIL 5" and q.tail is None and q.last_seconds == 86400.0
    q = parser.parse("SELECT _offset FROM events WHERE _key = 'x AND y' LAST 1d")
    assert q.key_eq == "x AND y"
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key = 'LAST 2d' AND _partition = 1 TAIL 3"
    )
    assert q.key_eq == "LAST 2d" and q.last_seconds is None
    assert q.partition == 1 and q.tail == 3
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key IN ('WITHIN 5m', 'SCAN FULL') LAST 1h"
    )
    assert q.key_in == ("WITHIN 5m", "SCAN FULL")
    assert q.within_seconds is None and not q.scan_full
    # the same keywords outside the literal still count
    q = parser.parse("SELECT _offset FROM events WHERE _key = 'k' SCAN FULL")
    assert q.key_eq == "k" and q.scan_full
    # a BETWEEN next to a quoted AND keeps both conjuncts whole
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key = 'a AND b' "
        "AND _ts BETWEEN '2024-01-02 00:00:00' AND '2024-01-03 00:00:00'"
    )
    assert q.key_eq == "a AND b" and q.ts_min.day == 2 and q.ts_max.day == 3


def test_doubled_quote_escape_in_literals():
    # '' is one quote inside a literal, and the text after it is still
    # inside the literal
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key = 'it''s TAIL 9' LAST 1d"
    )
    assert q.key_eq == "it's TAIL 9" and q.tail is None
    q = parser.parse(
        "SELECT _offset FROM events WHERE _key IN ('o''k', 'a AND ''b''') LAST 1d"
    )
    assert q.key_in == ("o'k", "a AND 'b'")
    with pytest.raises(ParseError):
        parser.parse("SELECT _offset FROM events WHERE _key = 'it's' LAST 1d")
