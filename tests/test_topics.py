"""Scalable offset assignment: materialize() replaces the envelope's
per-partition ROW_NUMBER window (one sort task per `_partition` value —
external-sort spill at scale; the r8 sf10 rehearsal measured 17.9x wall
at 10x rows on the ingest leg) with a chunked two-phase rank. These tests
pin the bit-identical-output contract the swap rests on."""

from __future__ import annotations

import pytest

from platform_spark import envelope as env
from platform_spark.topics import (
    IMPLICIT_COLUMNS,
    TopicCatalog,
    assign_partition_offsets,
    materialize_envelope,
)
from tests.conftest import SF_DIR, jobs_run


@pytest.fixture(scope="module")
def raw_views(spark):
    # TopicCatalog registers the raw fixture views the envelope SQL reads
    return TopicCatalog(spark, SF_DIR)


@pytest.mark.parametrize("name", sorted(env.ENVELOPE_BUILDERS))
def test_chunked_rank_matches_window(spark, raw_views, name):
    """For every topic, the chunked rank (forced to MANY chunks, so the
    base+local-rank composition is really exercised) reproduces the
    window's _offset and _segment bit-for-bit."""
    ref = (
        spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK))
        .select(*IMPLICIT_COLUMNS)
        .collect()
    )
    got = (
        materialize_envelope(
            name,
            spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK)),
            rows_per_chunk=50,  # tiny → dozens of chunks at sf0.001
        )
        .select(*IMPLICIT_COLUMNS)
        .collect()
    )
    key = lambda r: (r["_partition"], r["_offset"])  # noqa: E731
    assert sorted(got, key=key) == sorted(ref, key=key)


def test_chunked_rank_no_window_spill_shape(spark, raw_views):
    """The materialize path must not contain the whole-partition Window:
    the plan's only sort groups are (chunk, partition) slices."""
    df = materialize_envelope(
        "events",
        spark.sql(env.ENVELOPE_BUILDERS["events"](env.SPARK)),
        rows_per_chunk=50,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__chunk" in plan  # rank runs per chunk slice
    assert "row_number" in plan.lower()


def test_assign_offsets_edge_cases(spark):
    """Single chunk degenerates to the plain window; empty input yields
    an empty frame; offsets are dense 0..n-1 per partition."""
    from pyspark.sql import functions as F

    df = spark.range(97).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("_partition")
    )
    for chunks in (1, 5, 64):
        out = assign_partition_offsets(df, "k", ("k",), chunks)
        rows = out.groupBy("_partition").agg(
            F.count("*").alias("n"),
            F.min("_offset").alias("lo"),
            F.max("_offset").alias("hi"),
            F.countDistinct("_offset").alias("d"),
        ).collect()
        for r in rows:
            assert (r["lo"], r["hi"], r["d"]) == (0, r["n"] - 1, r["n"])
        # rank order follows the key order within each partition
        got = {
            (r["_partition"], r["k"]): r["_offset"] for r in out.collect()
        }
        for (p, k), off in got.items():
            expected = sum(1 for (p2, k2) in got if p2 == p and k2 < k)
            assert off == expected
    empty = assign_partition_offsets(df.filter("k < 0"), "k", ("k",), 4)
    assert empty.count() == 0


@pytest.mark.parametrize("name", ["events", "payments", "lineitem"])
def test_rr_staged_envelope_matches_canonical(spark, raw_views, name):
    """The repartitioned staging view (r15: parallelizes the `_value`
    render when a small source scans as 1-3 splits) must leave the
    envelope output bit-identical — the RR exchange only changes WHERE
    rows are rendered, and the ROW_NUMBER order keys are total."""
    rel = raw_views._rr_source_rel(name, min_rows_per_task=10)
    assert rel is not None  # the gate fires once the rows/task floor allows
    ref = spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK)).collect()
    got = spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK, rel)).collect()
    key = lambda r: (r["_partition"], r["_offset"])  # noqa: E731
    assert sorted(got, key=key) == sorted(ref, key=key)


def test_rr_source_gate_stays_off_at_scale_or_tiny(spark, raw_views):
    """No staging shuffle when the source already scans wide (bytes >>
    split size) or is too small to benefit (rows/task floor)."""
    # tiny: sf0.001 sources are ~1k rows — the default 20k-rows/task
    # floor yields n_rr < 2 for every topic
    for name in ("events", "lineitem", "customer"):
        assert raw_views._rr_source_rel(name) is None


def test_assign_offsets_sizing_df_equivalence(spark):
    """Sizing jobs may run over a physically different (but row-equal)
    frame; ranks must match the single-frame result exactly."""
    from pyspark.sql import functions as F

    df = spark.range(500).select(
        (F.col("id") * 7 % 501).alias("k"),
        (F.col("id") % 4).cast("int").alias("_partition"),
    )
    ref = {
        (r["_partition"], r["k"]): r["_offset"]
        for r in assign_partition_offsets(df, "k", ("k",), 8).collect()
    }
    got = {
        (r["_partition"], r["k"]): r["_offset"]
        for r in assign_partition_offsets(
            df.repartition(32), "k", ("k",), 8, sizing_df=df.coalesce(1)
        ).collect()
    }
    assert got == ref


def test_assign_offsets_null_chunk_key_fails_loudly(spark):
    """A chunk key that casts to NULL (e.g. a string _key under the
    default CAST(_key AS BIGINT)) must raise, not silently drop the
    NULL-keyed rows through the inner base join."""
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("u"), F.col("id")))
        .otherwise(F.col("id").cast("string"))
        .alias("_key"),
        (F.col("id") % 2).cast("int").alias("_partition"),
    )
    with pytest.raises(ValueError, match="NULL for 5 of 10 rows"):
        assign_partition_offsets(df, "CAST(_key AS BIGINT)", ("_key",), 4)


def test_byte_string_as_bytes_matches_spark_suffixes():
    """Byte-size confs parse every suffix Spark's byteStringAs takes,
    `t` and `p` included; anything else raises."""
    from platform_spark.topics import byte_string_as_bytes

    cases = {
        "4096": 4096,
        "128b": 128,
        "64k": 64 << 10,
        "64KB": 64 << 10,
        "128m": 128 << 20,
        " 128MB ": 128 << 20,
        "1G": 1 << 30,
        "1g": 1 << 30,
        "2t": 2 << 40,
        "2TB": 2 << 40,
        "1p": 1 << 50,
        "1pb": 1 << 50,
    }
    for text, n in cases.items():
        assert byte_string_as_bytes(text) == n, text
    for bad in ("", "m", "1.5g", "12x", "-1m", "128 m", "1 gigabyte"):
        with pytest.raises(ValueError):
            byte_string_as_bytes(bad)


def test_assign_offsets_rejects_bool_partition(spark):
    """bool is an int subclass: a boolean `_partition` must fail the
    exact-int guard instead of rendering `True` into the VALUES list."""
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("_partition")
    )
    with pytest.raises(ValueError, match="non-int chunk/partition/base"):
        assign_partition_offsets(df, "k", ("k",), 2)


@pytest.fixture(scope="module")
def mat_catalog(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("topic_memo"))
    cat = TopicCatalog(spark, SF_DIR)
    cat.materialize("events", root)
    return cat


def test_materialized_topic_frame_is_memoized(spark, mat_catalog):
    """A repeated topic() on a materialized topic reuses the finished
    frame: no schema-inference job, and the same rows as a fresh read."""
    import os

    first = mat_catalog.topic("events")
    path = mat_catalog._materialized["events"]
    os.utime(path, (0, 0))
    j0 = jobs_run(spark)
    again = mat_catalog.topic("events")
    assert jobs_run(spark) == j0
    assert again is first
    # the memo hit still marks the version dir as in use (prune grace)
    assert os.stat(path).st_mtime > 0
    # the schema-less frame is a separate entry
    bare = mat_catalog.topic("events", with_schema_columns=False)
    assert bare.columns == list(IMPLICIT_COLUMNS)
    fresh = TopicCatalog(spark, SF_DIR)
    fresh._materialized["events"] = path
    key = lambda r: (r["_partition"], r["_offset"])  # noqa: E731
    assert sorted(again.collect(), key=key) == sorted(
        fresh.topic("events").collect(), key=key
    )


def test_materialize_into_new_root_drops_topic_memo(spark, mat_catalog, tmp_path):
    old = mat_catalog.topic("events")
    new_root = str(tmp_path / "moved")
    out = mat_catalog.materialize("events", new_root)
    assert not any(k[0] == "events" and k[1] != out for k in mat_catalog._frames)
    moved = mat_catalog.topic("events")
    assert moved is not old
    assert moved.inputFiles() and all(
        new_root in f for f in moved.inputFiles()
    )


def test_topic_memo_survives_concurrent_clears(mat_catalog):
    """Threads racing topic() against clear_frames() always get a frame,
    and afterwards the memo holds at most one frame per key."""
    import sys
    import threading

    errors, frames = [], []

    def worker(i):
        try:
            for j in range(6):
                if (i + j) % 3 == 0:
                    mat_catalog.clear_frames("events")
                frames.append(
                    mat_catalog.topic("events", with_schema_columns=j % 2 == 0)
                )
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(frames) == 48
    path = mat_catalog._materialized["events"]
    cfg = mat_catalog.configs["events"]
    assert set(mat_catalog._frames) <= {("events", path, w, cfg) for w in (True, False)}
    assert mat_catalog.topic("events") is mat_catalog.topic("events")


def _memo_views(spark, name: str) -> set[str]:
    prefix = f"__kafsql_topic_{name}_"
    return {t.name for t in spark.catalog.listTables() if t.name.startswith(prefix)}


def test_memo_views_dropped_with_their_frames(spark, tmp_path):
    """Each memoized frame is named by one session view, which
    clear_frames() and materialize() drop together with the memo entry."""
    cat = TopicCatalog(spark, SF_DIR)
    cat.materialize("events", str(tmp_path / "a"))
    frames = [cat.topic("events"), cat.topic("events", with_schema_columns=False)]
    views = {cat.frame_view(f) for f in frames}
    assert None not in views and len(views) == 2
    assert views <= _memo_views(spark, "events")
    assert cat.frame_view(spark.range(1)) is None
    cat.clear_frames()
    assert views.isdisjoint(_memo_views(spark, "events"))
    again = cat.topic("events")
    view = cat.frame_view(again)
    assert view not in views
    assert spark.table(view).count() == again.count()
    cat.materialize("events", str(tmp_path / "b"))
    assert cat.frame_view(again) is None
    assert view not in _memo_views(spark, "events")


def test_released_catalog_drops_its_memo_views(spark, tmp_path):
    import gc

    cat = TopicCatalog(spark, SF_DIR)
    cat.materialize("events", str(tmp_path / "a"))
    view = cat.frame_view(cat.topic("events"))
    assert view in _memo_views(spark, "events")
    del cat
    gc.collect()
    assert view not in _memo_views(spark, "events")
