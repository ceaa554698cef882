"""Compiler semantics tests (modeled on the reference's server_test.go
cases: TestHandleSelectTail:248, TestHandleSelectOrderBy:623,
TestHandleAggregateGroupBy:1393, TestHandleSelectRejectsUnbounded:658)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from platform_spark.errors import ValidationError
from platform_spark.sql import parser
from platform_spark.sql.engine import KafSqlEngine
from tests.conftest import SF_DIR, jobs_run

NOW = datetime(2024, 1, 31)


@pytest.fixture(scope="module")
def engine(catalog):
    return KafSqlEngine(catalog, now=NOW)


def test_rejects_unbounded(engine):
    with pytest.raises(ValidationError, match="unbounded"):
        engine.sql("SELECT * FROM events")


def test_scan_full_allows_unbounded(engine):
    assert engine.sql("SELECT _offset FROM events SCAN FULL").count() > 0


def test_scan_full_row_cap(engine):
    # SCAN FULL rows cap at max_unbounded_scan=1000 (server.go:1344-1346)
    assert engine.sql("SELECT _offset FROM events SCAN FULL LIMIT 5000").count() == 1000


def test_default_limit(engine):
    n = engine.sql("SELECT _offset FROM events LAST 30d").count()
    assert n == min(1000, 1000)


def test_order_by_only_ts(engine):
    with pytest.raises(ValidationError):
        engine.sql("SELECT _offset FROM events ORDER BY _offset LAST 1d")


def test_tail_conflicts(engine):
    with pytest.raises(ValidationError):
        engine.sql("SELECT count(*) FROM events TAIL 10")


def test_aggregate_bare_column_needs_group_by(engine):
    with pytest.raises(ValidationError):
        engine.sql("SELECT _partition, count(*) FROM events LAST 1d")


def test_star_with_aggregate_rejected(engine):
    with pytest.raises(ValidationError):
        engine.sql("SELECT *, count(*) FROM events LAST 1d")


def test_join_requires_within_and_last(engine):
    with pytest.raises(ValidationError):
        engine.sql("SELECT o._key FROM orders o JOIN payments p LAST 1h")
    with pytest.raises(ValidationError):
        engine.sql("SELECT o._key FROM orders o JOIN payments p WITHIN 5m")


def test_join_rejects_partition_filter(engine):
    with pytest.raises(ValidationError):
        engine.sql(
            "SELECT o._key FROM orders o JOIN payments p WITHIN 5m LAST 1h "
            "WHERE _partition = 1"
        )


def test_tail_returns_scan_order_tail(engine):
    rows = engine.sql("SELECT _partition, _offset FROM events TAIL 5").collect()
    assert len(rows) == 5
    # tail of scan order = highest (partition, offset) pairs
    assert all(r["_partition"] == 3 for r in rows)
    offs = [r["_offset"] for r in rows]
    assert offs == sorted(offs)


def test_order_by_ts_desc(engine):
    rows = engine.sql(
        "SELECT _ts FROM events ORDER BY _ts DESC LIMIT 5 LAST 30d"
    ).collect()
    vals = [r["_ts"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_group_output_sorted_by_group_key_string(engine):
    rows = engine.sql(
        "SELECT event_type, count(*) AS n FROM events LAST 30d GROUP BY event_type"
    ).collect()
    keys = [(r["event_type"] if r["event_type"] is not None else "<nil>") for r in rows]
    assert keys == sorted(keys)


def test_sum_numeric_string_coercion(engine, catalog):
    # numeric strings participate in SUM; non-numeric are skipped
    row = engine.sql(
        "SELECT count(*) AS n, count(amount) AS na, "
        "sum(json_value(_value, '$.amount')) AS s FROM events LAST 30d"
    ).collect()[0]
    assert row["n"] > row["na"] > 0  # absent/non-numeric/invalid rows exist
    assert row["s"] is not None and row["s"] > 0


def test_json_exists_tristate(engine):
    rows = engine.sql(
        "SELECT json_exists(_value, '$.event_type') AS e, _value FROM events "
        "WHERE _partition = 0 SCAN FULL LIMIT 1000"
    ).collect()
    vals = {r["e"] for r in rows}
    assert None in vals  # invalid JSON rows → NULL
    assert True in vals


def test_describe_lists_schema_columns(engine):
    rows = engine.sql("DESCRIBE events").collect()
    cols = {r["column"] for r in rows}
    assert {"_topic", "_offset", "event_type", "amount", "flag"} <= cols


def test_describe_rows_identical_across_catalogs(engine, tmp_path):
    """Parquet, .kfs and Iceberg catalogs answer DESCRIBE with the same
    rows: the implicit columns in reference order, then the schema."""
    from platform_spark.iceberg.catalog import IcebergTopicCatalog
    from platform_spark.kfs import KfsTopicCatalog

    cat = engine.catalog
    rows = cat.describe("events")
    assert rows[:8] == [
        ("_topic", "text", "implicit"),
        ("_partition", "integer", "implicit"),
        ("_offset", "bigint", "implicit"),
        ("_ts", "timestamp", "implicit"),
        ("_key", "bytea", "implicit"),
        ("_value", "bytea", "implicit"),
        ("_headers", "jsonb", "implicit"),
        ("_segment", "text", "implicit"),
    ]
    assert len(rows) > 8
    for other in (KfsTopicCatalog, IcebergTopicCatalog):
        assert other(cat.spark, str(tmp_path), cat.configs).describe("events") == rows


def test_result_cache_hits(engine):
    stmt = "SELECT _offset FROM events LAST 2d LIMIT 10"
    engine.cache.hits = engine.cache.misses = 0
    engine.sql(stmt)
    engine.sql(stmt)
    assert engine.cache.hits >= 1


def test_explain_reports_plan(engine):
    lines = [r["plan"] for r in engine.sql("EXPLAIN SELECT * FROM events LAST 1d").collect()]
    assert any("scan topic=events" in l for l in lines)
    assert any("time_bounds" in l for l in lines)


def test_collect_with_timeout_normal(engine):
    df = engine.sql("SELECT _offset FROM events LAST 2d LIMIT 5")
    rows = engine.collect_with_timeout(df, timeout=60)
    assert len(rows) <= 5


def test_collect_with_timeout_cancels(engine, spark):
    import time
    from platform_spark.errors import GovernanceError
    import pyspark.sql.functions as F
    import pytest as _pytest

    # a deliberately slow job: big cross product (large enough that a warm
    # whole-stage-codegen JVM still needs multiple seconds)
    slow = (
        spark.range(2_000_000)
        .crossJoin(spark.range(40_000).withColumnRenamed("id", "id2"))
        .agg(F.sum(F.col("id") * F.col("id2")))
    )
    t0 = time.time()
    with _pytest.raises(GovernanceError, match="timeout"):
        engine.collect_with_timeout(slow, timeout=1.0)
    assert time.time() - t0 < 60


def test_minmax_first_kind_wins(catalog):
    from platform_spark.sql.compiler import CompilerOptions
    from platform_spark.sql.engine import EngineOptions

    opts = EngineOptions()
    opts.compiler = CompilerOptions(first_kind_wins=True)
    eng = KafSqlEngine(catalog, options=opts, now=NOW)
    # first scan-order amount is a JSON number → numeric kind → numeric
    # min/max over parseable values ('n/a' ignored)
    row = eng.sql(
        "SELECT min(json_value(_value, '$.amount')) AS mn, "
        "max(json_value(_value, '$.amount')) AS mx FROM events LAST 30d"
    ).collect()[0]
    assert isinstance(row["mn"], float) and isinstance(row["mx"], float)
    assert 0 <= row["mn"] <= row["mx"]
    # static rule (default) treats JSON paths as strings → lexicographic
    static = KafSqlEngine(catalog, now=NOW)
    srow = static.sql(
        "SELECT min(json_value(_value, '$.amount')) AS mn FROM events LAST 30d"
    ).collect()[0]
    assert isinstance(srow["mn"], str)


def test_join_applies_limit(engine):
    # reference enforces LIMIT on joins (handleJoinSelect stops at
    # sent >= limit); a small LIMIT must bound the result
    n = engine.sql(
        "SELECT o.order_id FROM orders o "
        "JOIN payments p ON o._key = p._key "
        "WITHIN 15000d LAST 15000d LIMIT 7"
    ).count()
    assert n == 7


def test_join_default_limit_applies(engine):
    # no explicit LIMIT → default_limit caps join output too
    n = engine.sql(
        "SELECT o.order_id FROM orders o "
        "JOIN payments p ON o._key = p._key "
        "WITHIN 15000d LAST 15000d"
    ).count()
    assert n <= engine.opt.compiler.default_limit


def test_join_topic_name_qualifier_resolves(engine):
    # topic NAME works as a qualifier even when an alias is declared
    # (reference resolveJoinSide accepts both); unknown qualifiers fall
    # back to the left side rather than erroring
    rows = engine.sql(
        "SELECT orders._key, payments._offset FROM orders o "
        "JOIN payments p ON o._key = p._key "
        "WITHIN 15000d LAST 15000d LIMIT 3"
    ).collect()
    assert len(rows) == 3


def test_collect_with_timeout_preserves_real_errors(engine, spark):
    # a genuine failure must NOT be masked as a timeout
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    from platform_spark.errors import GovernanceError

    @F.udf(returnType=LongType())
    def boom(x):
        raise ValueError("genuine failure")

    df = spark.range(4).select(boom(F.col("id")))
    try:
        engine.collect_with_timeout(df, timeout=120)
        raise AssertionError("expected the job to fail")
    except GovernanceError:
        raise AssertionError("real error masked as timeout")
    except Exception:
        pass  # original Spark error surfaced — correct


def test_result_cache_serves_rows_without_scan(engine):
    # a hit returns a LOCAL relation — no file scan, no cluster job
    stmt = "SELECT _offset FROM events LAST 3d LIMIT 10"
    engine.sql(stmt)
    hit = engine.sql(stmt)
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan or "LocalRelation" in plan
    assert "FileScan" not in plan and "parquet" not in plan.lower()
    assert hit.count() == 10


def test_result_cache_first_execution_stays_lazy(engine):
    # collect-on-repeat: a statement's FIRST execution must not trigger a
    # driver-side collect — it returns the lazy scan plan untouched
    stmt = "SELECT _offset FROM events LAST 5d LIMIT 10"
    df = engine.sql(stmt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    # second execution inside the TTL window materializes rows
    hit = engine.sql(stmt)
    plan2 = hit._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan2
    assert hit.count() == 10


def test_result_cache_max_rows_not_eagerly_collected(engine):
    # effective limit above cache_max_rows → stays a lazy plan (not cached)
    stmt = "SELECT _offset FROM events LAST 4d LIMIT 99000"
    df = engine.sql(stmt)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan


def test_set_reset_session_vars(catalog):
    from platform_spark.errors import GovernanceError

    eng = KafSqlEngine(catalog, now=NOW)
    eng.sql("SET default_limit = 5")
    assert eng.opt.compiler.default_limit == 5
    assert eng.sql("SELECT _offset FROM events LAST 30d").count() == 5
    eng.sql("RESET default_limit")
    assert eng.opt.compiler.default_limit == 1000
    # dotted names go to spark.conf
    eng.sql("SET spark.sql.shuffle.partitions = 7")
    assert eng.spark.conf.get("spark.sql.shuffle.partitions") == "7"
    eng.sql("SET spark.sql.shuffle.partitions = 8")
    rows = eng.sql("SET enable_cache = false").collect()
    assert rows[0]["name"] == "enable_cache" and eng.opt.enable_cache is False
    eng.sql("RESET enable_cache")
    with pytest.raises(GovernanceError, match="unknown setting"):
        eng.sql("SET bogus_knob = 1")


def test_set_clears_result_cache(catalog):
    eng = KafSqlEngine(catalog, now=NOW)
    stmt = "SELECT _offset FROM events LAST 6d"
    first = eng.sql(stmt).count()
    assert first > 5  # cached at default_limit sizing
    eng.sql("SET default_limit = 5")
    # same statement must NOT serve the stale cached result
    assert eng.sql(stmt).count() == 5
    eng.sql("RESET default_limit")


def test_materialize_prunes_only_aged_versions(spark, tmp_path):
    # stale v= dirs inside the grace period survive (another process may be
    # mid-query on them); aged-out ones are collected
    import os
    import time

    from platform_spark.topics import TopicCatalog

    root = str(tmp_path / "c")
    cat = TopicCatalog(spark, "/root/testdata/sf0.001", cache_root=root)
    topic_dir = os.path.join(root, "topic=events")
    recent = os.path.join(topic_dir, "v=recentfake")
    aged = os.path.join(topic_dir, "v=agedfake")
    os.makedirs(recent)
    os.makedirs(aged)
    old = time.time() - cat.PRUNE_GRACE_SECONDS - 10
    os.utime(aged, (old, old))
    cat.materialize("events", root)
    assert not os.path.isdir(aged)
    assert os.path.isdir(recent)


def test_explain_never_materializes(spark, tmp_path):
    from platform_spark.topics import TopicCatalog

    cat = TopicCatalog(spark, "/root/testdata/sf0.001", cache_root=str(tmp_path / "c"))
    eng = KafSqlEngine(cat, now=NOW)
    lines = [r["plan"] for r in eng.sql("EXPLAIN SELECT _offset FROM events LAST 5d").collect()]
    assert cat._materialized == {}  # introspection ran no write job
    assert any("raw-parquet-estimate" in l and "candidate_files=" in l for l in lines)


def test_compile_pins_clock_for_last_windows(catalog, monkeypatch):
    # ADVICE r10: metadata pruning and the row filters each call
    # time_bounds(); with a wall clock they'd take different `now`s and a
    # LAST window's prune ts_max would trail the filter ts_max. compile()
    # pins one clock for the whole compile — every time_bounds() call in
    # one compile must return the SAME tuple even when utcnow advances.
    from datetime import timedelta

    import platform_spark.sql.compiler as compiler_mod
    from platform_spark.sql import parser
    from platform_spark.sql.compiler import Compiler

    ticks = iter(range(10_000))

    class SteppingDatetime(datetime):
        @classmethod
        def utcnow(cls):
            return NOW + timedelta(seconds=next(ticks))

    monkeypatch.setattr(compiler_mod, "datetime", SteppingDatetime)
    comp = Compiler(catalog)  # no pinned now: wall clock
    seen = []
    orig = Compiler.time_bounds

    def spy(self, q):
        out = orig(self, q)
        seen.append(out)
        return out

    monkeypatch.setattr(Compiler, "time_bounds", spy)
    comp.compile(parser.parse("SELECT _offset FROM events LAST 1h"))
    assert len(seen) >= 2  # pruning + row filters both consulted bounds
    assert len(set(seen)) == 1  # ...and agreed on one window
    assert comp.now is None  # the pin does not outlive the compile


def test_concurrent_compiles_pin_their_own_clocks(catalog, monkeypatch):
    # the pin belongs to one compile: overlapping compiles on a
    # wall-clock Compiler each keep one window, and neither un-pins nor
    # freezes the other's clock
    import threading

    import platform_spark.sql.compiler as compiler_mod
    from platform_spark.sql.compiler import Compiler

    ticks = iter(range(10_000))
    lock = threading.Lock()

    class SteppingDatetime(datetime):
        @classmethod
        def utcnow(cls):
            with lock:
                return NOW + timedelta(seconds=next(ticks))

    monkeypatch.setattr(compiler_mod, "datetime", SteppingDatetime)
    comp = Compiler(catalog)
    both_in = threading.Barrier(2, timeout=60)
    seen: dict[int, list] = {}
    time_bounds, scan = Compiler.time_bounds, Compiler._scan

    def spy(self, q):
        out = time_bounds(self, q)
        seen.setdefault(threading.get_ident(), []).append(out)
        return out

    def held(self, st, q, materialize=True):
        both_in.wait()  # both compiles started before either reads bounds
        return scan(self, st, q, materialize)

    monkeypatch.setattr(Compiler, "time_bounds", spy)
    monkeypatch.setattr(Compiler, "_scan", held)
    errors = []

    def run():
        try:
            comp.compile(parser.parse("SELECT _offset FROM events LAST 1h"))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert len(seen) == 2
    assert all(len(v) >= 2 and len(set(v)) == 1 for v in seen.values())
    assert comp.now is None
    assert comp._now() != comp._now()  # back on the wall clock


def test_budget_prices_join_right_side_with_widened_frame(catalog, monkeypatch):
    # ADVICE r10: the compiled WITHIN join scans the RIGHT topic without
    # the partition filter and with bounds widened by ±within; the budget
    # estimate must price that same frame, not the left one
    from datetime import timedelta

    from platform_spark.governance import ScanEstimate
    from platform_spark.sql import parser

    eng = KafSqlEngine(catalog, now=NOW)
    calls = []

    def fake_estimate(
        topic, partition=None, ts_min=None, ts_max=None,
        offset_min=None, offset_max=None,
    ):
        calls.append((topic, partition, ts_min, ts_max))
        return ScanEstimate(files=1, bytes=1, rows=1)

    monkeypatch.setattr(
        catalog, "estimate_topic_scan", fake_estimate, raising=False
    )
    q = parser.parse(
        "SELECT o.order_id FROM orders o JOIN payments p "
        "ON o._key = p._key WITHIN 60s LAST 1h"
    )
    eng._check_budget(q)
    assert [c[0] for c in calls] == ["orders", "payments"]
    (_, _, lmin, lmax), (_, rpart, rmin, rmax) = calls
    assert rpart is None
    w = timedelta(seconds=60)
    assert rmin == lmin - w and rmax == lmax + w


def test_key_in_cap_only_when_unbounded(engine):
    """MAX_KEY_IN enforcement lives in _validate, not the parser (r14
    ADVICE): a LAST-bounded batch fetch may exceed 100 keys (its files
    are already time-pruned), while the same list without a time bound
    is rejected with the JOIN alternative — on the unbounded path >100
    random keys cover every bucket, so the union prunes nothing."""
    from platform_spark.sql.parser import MAX_KEY_IN

    over = ", ".join(f"'k{i}'" for i in range(MAX_KEY_IN + 1))
    # bounded: valid (parses AND compiles; zero matching rows is fine)
    df = engine.sql(
        f"SELECT _offset FROM events WHERE _key IN ({over}) LAST 30d"
    )
    assert df.count() == 0
    # unbounded: loud rejection naming the cap and the alternative
    with pytest.raises(ValidationError, match="JOIN against a topic"):
        engine.sql(f"SELECT _offset FROM events WHERE _key IN ({over})")
    # SCAN FULL with an over-cap list: also time-unbounded -> rejected
    with pytest.raises(ValidationError, match="max 100"):
        engine.sql(
            f"SELECT _offset FROM events WHERE _key IN ({over}) SCAN FULL"
        )


def test_result_cache_hit_runs_no_job_and_keeps_rows_exact(
    catalog, spark, monkeypatch
):
    # raw (unrendered) projections: binary _key/_value (as .kfs topics
    # carry them), TimestampType _ts and NULLs must survive the JVM-side
    # collect and the LocalRelation round trip bit for bit
    import pyspark.sql.functions as F

    from platform_spark.sql.compiler import CompilerOptions
    from platform_spark.sql.engine import EngineOptions

    topic = catalog.topic

    def binary_topic(name, with_schema_columns=True):
        return topic(name, with_schema_columns).withColumns(
            {c: F.col(c).cast("binary") for c in ("_key", "_value")}
        )

    monkeypatch.setattr(catalog, "topic", binary_topic)
    opts = EngineOptions()
    opts.compiler = CompilerOptions(render_text=False)
    eng = KafSqlEngine(catalog, options=opts, now=NOW)
    stmt = (
        "SELECT _partition, _offset, _ts, _key, _value, _headers, amount, "
        "flag, depth FROM events WHERE _partition = 0 LAST 30d"
    )
    key = lambda r: (r["_partition"], r["_offset"])  # noqa: E731
    cold = sorted(eng.sql(stmt).collect(), key=key)
    # the whole partition fits under the default LIMIT: a fixed row set
    assert 50 < len(cold) < eng.opt.compiler.default_limit
    assert any(r["amount"] is None for r in cold)
    assert any(r["_key"] is None for r in cold)
    assert all(isinstance(r["_value"], (bytes, bytearray)) for r in cold)
    assert isinstance(cold[0]["_ts"], datetime)
    # collect-on-repeat: the rows are collected inside sql(), and the
    # frame it returns is already local
    warm_df = eng.sql(stmt)
    j0 = jobs_run(spark)
    warm = warm_df.collect()
    assert jobs_run(spark) == j0
    j0 = jobs_run(spark)
    hit = eng.sql(stmt)
    rows = hit.collect()
    assert jobs_run(spark) == j0
    assert sorted(warm, key=key) == cold
    assert sorted(rows, key=key) == cold
    assert hit.schema == eng.compiler.compile(parser.parse(stmt)).schema


def test_result_cache_warm_collect_honours_timeout(catalog, spark, monkeypatch):
    # the JVM-side warm-path collect runs under the same reaper: a slow
    # repeat is cancelled with GovernanceError and nothing is cached
    import pyspark.sql.functions as F

    from platform_spark.errors import GovernanceError

    eng = KafSqlEngine(catalog, now=NOW)
    eng.opt.timeout_seconds = 1.0
    stmt = "SELECT _offset FROM events LAST 7d LIMIT 3"
    eng.sql(stmt)  # cold: lazy, marks the statement warm
    slow = (
        spark.range(2_000_000)
        .crossJoin(spark.range(40_000).withColumnRenamed("id", "id2"))
        .agg(F.sum(F.col("id") * F.col("id2")))
    )
    monkeypatch.setattr(eng.compiler, "compile", lambda q: slow)
    with pytest.raises(GovernanceError, match="timeout"):
        eng.sql(stmt)
    assert not eng.cache._data


def test_dotted_set_drops_memoized_topic_frames(spark, tmp_path):
    # topic frames are analyzed under the session time zone: after a
    # dotted SET the memo must rebuild them, so a date-typed schema
    # column parses in the new zone
    from platform_spark.topics import TopicCatalog

    cat = TopicCatalog(spark, SF_DIR)
    cat.materialize("lineitem", str(tmp_path / "c"))
    eng = KafSqlEngine(cat, now=NOW)

    def first_ship(frame):
        return frame.orderBy("_partition", "_offset").first()["l_shipdate"]

    before = cat.topic("lineitem")
    utc_ship = first_ship(before)
    try:
        eng.sql("SET spark.sql.session.timeZone = America/New_York")
        after = cat.topic("lineitem")
        assert after is not before
        # local midnight in New York is 4-5 h after UTC midnight
        assert first_ship(after) - utc_ship in (
            timedelta(hours=4), timedelta(hours=5)
        )
    finally:
        eng.sql("SET spark.sql.session.timeZone = UTC")
    assert cat.topic("lineitem") is not after


# -- one parameterized SQL plan per statement ---------------------------

#: record keys and JSON text carrying SQL and parameter-marker syntax
ODD_KEYS = (
    "back\\slash", ":name", "what?", "{}", "a--b", "semi;colon",
    "$dollar", "naïve 漢字", "plain",
)
ODD_PATHS = ("$.k", "$.a:b", "$.q?", "$.$x", "$.é漢", "$.br{}", "$.d--d", "$.s;s", "$.b\\s")


@pytest.fixture(scope="module")
def odd_topic(spark, tmp_path_factory):
    """A materialized `events` topic whose keys and JSON values hold the
    ODD_KEYS texts, so every literal the compiler binds is exercised."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from platform_spark.topics import TopicCatalog

    path = str(tmp_path_factory.mktemp("odd") / "v=odd")
    for part in (0, 1):
        rows = [
            (i, k) for i, k in enumerate(ODD_KEYS) if i % 2 == part
        ]
        values = [
            json.dumps({
                "k": k, "a:b": i, "q?": f"{k}?", "$x": i * 2, "é漢": k,
                "br{}": i, "d--d": k, "s;s": i, "b\\s": k,
            }, ensure_ascii=False)
            for i, k in rows
        ]
        table = pa.table({
            "_topic": ["events"] * len(rows),
            "_offset": pa.array([i for i, _ in rows], pa.int64()),
            "_ts": pa.array(
                [NOW - timedelta(hours=i + 1) for i, _ in rows], pa.timestamp("us")
            ),
            "_key": [k for _, k in rows],
            "_value": values,
            "_headers": ["{}"] * len(rows),
            "_segment": ["s"] * len(rows),
        })
        os.makedirs(f"{path}/_partition={part}")
        pq.write_table(table, f"{path}/_partition={part}/part-0.parquet")
    cat = TopicCatalog(spark, SF_DIR)
    cat._materialized["events"] = path
    return cat, path


def _duck(path: str, where: str, params: list, select: str = "_offset") -> list:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {select} FROM read_parquet('{path}/*/*.parquet', "
            f"hive_partitioning = true) WHERE {where} ORDER BY _offset",
            params,
        ).fetchall()
    finally:
        con.close()


def test_bound_literals_match_duckdb(odd_topic):
    # keys, IN lists and JSON paths are bound, never spliced: text with
    # backslashes, parameter markers, comment/statement syntax and
    # non-ASCII characters selects the same rows as the DuckDB twin
    from platform_spark.sql.engine import EngineOptions

    cat, path = odd_topic
    opts = EngineOptions()
    opts.enable_cache = False
    eng = KafSqlEngine(cat, options=opts, now=NOW)

    def offsets(stmt):
        return sorted(tuple(r) for r in eng.sql(stmt).collect())

    for key in ODD_KEYS:
        got = offsets(f"SELECT _offset FROM events WHERE _key = '{key}' LAST 30d")
        assert got == _duck(path, "_key = ?", [key]), key
        assert len(got) == 1
    some = ODD_KEYS[:5]
    in_list = ", ".join(f"'{k}'" for k in some)
    got = offsets(f"SELECT _offset FROM events WHERE _key IN ({in_list}) LAST 30d")
    assert got == _duck(path, "list_contains(?, _key)", [list(some)])
    assert len(got) == len(some)
    for p in ODD_PATHS:
        got = offsets(
            f"SELECT _offset, json_value(_value, '{p}') AS v FROM events LAST 30d"
        )
        want = _duck(
            path, "true", [p], select="_offset, json_extract_string(_value, ?)"
        )
        assert got == want, p
        assert all(v is not None for _, v in got)


def test_aliases_needing_backquotes_round_trip(odd_topic):
    from platform_spark.sql.statement import SqlStatement, quote

    cat, _ = odd_topic
    eng = KafSqlEngine(cat, now=NOW)
    df = eng.sql(
        "SELECT _offset AS order, json_value(_value, '$.k') AS table, "
        "_partition AS select FROM events WHERE _key = 'plain' LAST 30d"
    )
    assert df.columns == ["order", "table", "select"]
    assert df.collect()[0]["table"] == "plain"
    with SqlStatement(cat.spark) as st:
        odd = st.sql(f"SELECT 1 AS {quote('we`ird')}")
    assert odd.columns == ["we`ird"]


def _views(spark, prefix: str) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.name.startswith(prefix)}


@pytest.fixture(scope="module")
def mat_topics(spark, tmp_path_factory):
    """A catalog with events/orders/payments materialized and memoized."""
    from platform_spark.topics import TopicCatalog

    root = str(tmp_path_factory.mktemp("plan_topics"))
    cat = TopicCatalog(spark, SF_DIR)
    for t in ("events", "orders", "payments"):
        cat.materialize(t, root)
        cat.topic(t)
        cat.topic(t, with_schema_columns=False)
    return cat


def test_statements_build_no_dataframe_chain(spark, mat_topics, monkeypatch):
    # every statement kind is one SQL text analyzed by one JVM call: no
    # per-operator DataFrame call builds any part of its plan
    from platform_spark.sql.engine import EngineOptions

    opts = EngineOptions()
    opts.enable_cache = False
    eng = KafSqlEngine(mat_topics, options=opts, now=NOW)
    stmts = [
        "SELECT _partition, _offset, _ts, _key FROM events WHERE _partition = 1 "
        "AND _offset >= 3 AND _offset <= 40 LAST 30d LIMIT 100000",
        "SELECT _partition, count(*) AS n, sum(json_value(_value, '$.amount')) AS t "
        "FROM events LAST 9d GROUP BY _partition",
        "SELECT _offset, _partition, _ts FROM events "
        "WHERE _ts <= '2024-01-20 00:00:00' ORDER BY _ts DESC LIMIT 17",
        "SELECT _partition, _offset, _key FROM events TAIL 11",
        "SELECT o._key AS okey, json_value(p._value, '$.method') AS method "
        "FROM orders o JOIN payments p ON o._key = p._key WITHIN 5m "
        "LAST 15000d LIMIT 100000",
        "SELECT * FROM events LAST 2d LIMIT 20",
        "SELECT _offset FROM events WHERE _key IN ('5', '7') LAST 30d",
        "EXPLAIN SELECT _partition, _offset FROM events LAST 3d",
        "SHOW TOPICS",
        "DESCRIBE orders",
        "SET default_limit = 1000",
    ]
    want = [eng.sql(s).collect() for s in stmts]
    cls = type(spark.range(1))

    def banned(name):
        def fail(*_a, **_k):
            raise AssertionError(f"DataFrame.{name} called while compiling")
        return fail

    for name in ("filter", "where", "select", "limit", "orderBy", "join", "withColumn"):
        monkeypatch.setattr(cls, name, banned(name))
    monkeypatch.setattr(type(spark), "createDataFrame", banned("createDataFrame"))
    for s, rows in zip(stmts, want):
        got = eng.sql(s).collect()
        if s.startswith("EXPLAIN"):
            assert len(got) == len(rows)
        else:
            assert got == rows, s


def test_introspection_collects_without_jobs(spark, mat_topics):
    eng = KafSqlEngine(mat_topics, now=NOW)
    cases = [
        ("SHOW TOPICS", [(t,) for t in mat_topics.topic_names()]),
        ("DESCRIBE events", mat_topics.describe("events")),
        ("SET default_limit = 1000", [("default_limit", "1000")]),
        ("RESET default_limit", [("default_limit", "1000")]),
        ("EXPLAIN SELECT _offset FROM events LAST 3d", None),
    ]
    for stmt, rows in cases:
        df = eng.sql(stmt)
        j0 = jobs_run(spark)
        got = df.collect()
        assert jobs_run(spark) == j0, stmt
        if rows is not None:
            assert [tuple(r) for r in got] == [tuple(r) for r in rows], stmt
        else:
            lines = [r["plan"] for r in got]
            assert lines[0] == "scan topic=events"
            assert any("candidate_files=" in l for l in lines)
    # a catalog without topics lists none
    from platform_spark.sql.statement import local_rows

    empty = local_rows(spark, ("topic",), [])
    j0 = jobs_run(spark)
    assert empty.collect() == [] and empty.columns == ["topic"]
    assert jobs_run(spark) == j0


def test_show_partitions_of_materialized_topic_runs_no_job(spark, mat_topics, catalog):
    # a materialized topic lists its partitions from its frame's file
    # index: the same rows and type as the DISTINCT query, no job
    eng = KafSqlEngine(mat_topics, now=NOW)
    for topic in ("events", "orders", "payments"):
        j0 = jobs_run(spark)
        df = eng.sql(f"SHOW PARTITIONS FROM {topic}")
        got = df.collect()
        assert jobs_run(spark) == j0, topic
        frame = mat_topics.topic(topic, with_schema_columns=False)
        want = frame.select("_partition").distinct().orderBy("_partition")
        assert got == want.collect() and got, topic
        assert df.dtypes == want.dtypes == [("_partition", "int")]
    # an envelope-served topic still runs the DISTINCT query
    df = KafSqlEngine(catalog, now=NOW).sql("SHOW PARTITIONS FROM events")
    j0 = jobs_run(spark)
    assert [r[0] for r in df.collect()] == [0, 1, 2, 3]
    assert jobs_run(spark) > j0
    assert catalog.listed_partitions(catalog.topic("events")) is None


def test_statement_views_never_outlive_the_statement(spark, catalog, monkeypatch):
    # per-call frames (envelope views) are read through views named for
    # one statement; none survives success, a ValidationError raised
    # after the first relation was named, or a timed-out collect
    from platform_spark.errors import GovernanceError
    from platform_spark.sql.statement import STATEMENT_VIEW_PREFIX

    eng = KafSqlEngine(catalog, now=NOW)
    before = _views(spark, STATEMENT_VIEW_PREFIX)
    assert eng.sql("SELECT _offset FROM events LAST 8d LIMIT 3").count() == 3
    assert eng.sql("SHOW PARTITIONS FROM events").count() == 4
    assert _views(spark, STATEMENT_VIEW_PREFIX) == before
    with pytest.raises(ValidationError, match="SYSTEM_TIME"):
        eng.sql(
            "SELECT o._key FROM orders o JOIN payments p FOR SYSTEM_TIME AS OF "
            "'2024-01-01 00:00:00' ON o._key = p._key WITHIN 5m LAST 1d"
        )
    assert _views(spark, STATEMENT_VIEW_PREFIX) == before

    def timed_out(self, df, timeout=None, action=None):
        # the compile's views are gone before the timed action starts
        assert _views(spark, STATEMENT_VIEW_PREFIX) == before
        raise GovernanceError("query cancelled (timeout 0.001s)")

    stmt = "SELECT _offset FROM events LAST 9d LIMIT 4"
    eng.sql(stmt)  # cold: marks the statement warm
    monkeypatch.setattr(KafSqlEngine, "collect_with_timeout", timed_out)
    with pytest.raises(GovernanceError, match="timeout"):
        eng.sql(stmt)
    assert _views(spark, STATEMENT_VIEW_PREFIX) == before


def test_statement_reads_memo_frame_cleared_after_naming(spark, mat_topics):
    # a concurrent clear_frames() may drop a memo view between naming it
    # and analysis: the statement still reads the frame it named, and
    # leaves no view behind
    from platform_spark.sql.statement import STATEMENT_VIEW_PREFIX, SqlStatement

    frame = mat_topics.topic("events")
    view = mat_topics.frame_view(frame)
    n = frame.count()
    before = _views(spark, STATEMENT_VIEW_PREFIX)
    with SqlStatement(spark, mat_topics.frame_view) as st:
        rel = st.relation(frame)
        mat_topics.clear_frames("events")
        assert mat_topics.frame_view(frame) is None
        got = st.sql(f"SELECT count(*) AS n FROM {rel}").collect()[0]["n"]
    assert got == n
    assert view not in _views(spark, view)
    assert _views(spark, STATEMENT_VIEW_PREFIX) == before
    mat_topics.topic("events")
    mat_topics.topic("events", with_schema_columns=False)


def test_overlapping_explains_keep_cache_root(spark, tmp_path, monkeypatch):
    # EXPLAIN compiles without materializing by passing that into the
    # compile, never by clearing the shared cache_root: two EXPLAINs held
    # inside compile at the same time leave cache_root as it was
    import threading

    from platform_spark.sql.compiler import Compiler
    from platform_spark.topics import TopicCatalog

    root = str(tmp_path / "c")
    cat = TopicCatalog(spark, SF_DIR, cache_root=root)
    eng = KafSqlEngine(cat, now=NOW)
    both_in = threading.Barrier(2, timeout=60)
    compile_ = Compiler.compile

    def held(self, q, materialize=True):
        both_in.wait()
        return compile_(self, q, materialize)

    monkeypatch.setattr(Compiler, "compile", held)
    errors = []

    def explain():
        try:
            eng.sql("EXPLAIN SELECT _offset FROM events LAST 5d").collect()
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=explain) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert cat.cache_root == root
    assert cat._materialized == {}  # introspection ran no write job


def test_bound_timestamps_are_the_instants_flit_makes(spark):
    # a bound datetime is the instant F.lit gives it: naive and aware,
    # with micros, and before 1900 (where it binds as a datetime)
    from datetime import timezone

    import pyspark.sql.functions as F

    from platform_spark.sql.statement import SqlStatement

    stamps = [
        datetime(2024, 1, 31), datetime(1992, 3, 4, 5, 6, 7, 890123),
        datetime(2024, 1, 1, 12, tzinfo=timezone(timedelta(hours=5))),
        datetime(1970, 1, 1), datetime(1899, 12, 31, 23, 59, 59, 1),
        datetime(1500, 6, 1),
    ]
    for dt in stamps:
        st = SqlStatement(spark)
        got = st.sql(f"SELECT unix_micros({st.value(dt)}) AS m").collect()[0]["m"]
        want = spark.range(1).select(F.unix_micros(F.lit(dt)).alias("m")).first()["m"]
        assert got == want, dt


def test_render_sql_forms_match_column_forms(spark):
    # compiled SQL renders _ts/_key/_value through the SQL forms; the
    # gates' DataFrame code through the Column forms: they must agree
    import pyspark.sql.functions as F

    from platform_spark.functions import render

    df = spark.createDataFrame(
        [("a\\b", b"\x00\xff", datetime(2024, 1, 2, 3, 4, 5, 678901)),
         (None, None, None), ("漢字", b"", datetime(1992, 1, 1))],
        "s string, b binary, t timestamp",
    )
    rows = df.select(
        render.bytea_text(F.col("s")), F.expr(render.bytea_text_sql("s")),
        render.bytea_text(F.col("b")), F.expr(render.bytea_text_sql("b")),
        render.ts_text(F.col("t")), F.expr(render.ts_text_sql("t")),
    ).collect()
    for r in rows:
        assert r[0] == r[1] and r[2] == r[3] and r[4] == r[5], r
    assert rows[0][0] == "\\x615c62" and rows[1][0] is None
