"""Tests of the benchmark's pure helpers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timedelta

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# -- the percentile rule ------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(15, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50.0) == 50
    assert stats.percentile(values, 90.0) == 90
    assert stats.percentile(list(reversed(values)), 90.0) == 90
    # exactly ten samples lie beyond the reported p90 of 100 samples
    assert sum(v > stats.percentile(values, 90.0) for v in values) == 10


# -- seeded generators ----------------------------------------------------


def test_statement_stream_is_seeded():
    a = gen.statement_stream(5, 300, 10_000)
    assert a == gen.statement_stream(5, 300, 10_000)
    assert a != gen.statement_stream(6, 300, 10_000)
    assert {s.kind for s in a} == {k for k, _ in gen.MIX}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_stretch_of_the_stream_follows_the_mix(seed):
    kinds = [s.kind for s in gen.statement_stream(seed, 400, 10_000)]
    total = sum(w for _, w in gen.MIX)
    for start in range(0, 300, 37):
        for n in (10, 20, 40, 100):
            window = kinds[start : start + n]
            for kind, w in gen.MIX:
                assert abs(window.count(kind) - n * w / total) <= 2


def test_range_reads_stay_inside_the_partition():
    per_part = 10_000 // gen.N_PARTITIONS
    for st in gen.statement_stream(11, 500, 10_000):
        if st.kind == "range":
            assert 0 <= st.param("lo") <= st.param("hi") < per_part


def test_batch_ranges_are_seeded_and_cover_every_record():
    a = gen.batch_ranges(3, 2_000, 10)
    assert a == gen.batch_ranges(3, 2_000, 10)
    assert a != gen.batch_ranges(4, 2_000, 10)
    assert a[0][0] == 0 and a[-1][1] == 2_000
    assert all(x[1] == y[0] for x, y in zip(a, a[1:]))
    assert all(140 <= hi - lo <= 260 for lo, hi in a)


def test_tables_are_seeded():
    assert gen.events_table(500, 1).equals(gen.events_table(500, 1))
    assert not gen.events_table(500, 1).equals(gen.events_table(500, 2))
    assert gen.orders_table(500, 1).equals(gen.orders_table(500, 1))
    docs = gen.documents_table(300, 0)
    assert docs.equals(gen.documents_table(300, 0))
    shuffled = gen.permuted(docs, 9)
    assert shuffled.equals(gen.permuted(docs, 9))
    assert sorted(shuffled.column("doc_id").to_pylist()) == list(range(300))


def test_event_times_are_unique_and_inside_the_span():
    ts = gen.events_table(2_000, 4).column("ts").to_pylist()
    assert len(set(ts)) == len(ts)
    assert gen.EPOCH <= min(ts) and max(ts) < gen.EPOCH + timedelta(days=gen.SPAN_DAYS)


# -- digests ----------------------------------------------------------------


def test_digest_ignores_row_order_unless_ordered():
    rows = [(1, "train"), (2, "val"), (3, "train")]
    assert stats.digest(rows) == stats.digest(list(reversed(rows)))
    assert stats.digest(rows, ordered=True) != stats.digest(list(reversed(rows)), ordered=True)


def test_digest_sees_a_changed_value():
    rows = [(1, "train"), (2, "val")]
    assert stats.digest(rows) != stats.digest([(1, "train"), (2, "test")])
    assert stats.digest(rows) != stats.digest(rows[:1])


def test_digest_tolerates_summation_order_only():
    assert stats.digest([(0.1 + 0.2,)]) == stats.digest([(0.3,)])
    assert stats.digest([(0.3,)]) != stats.digest([(0.3001,)])


def test_curate_digest_is_order_independent():
    curated = [(i, "train") for i in range(20)]
    packed = [(i, i // 4) for i in range(20)]
    assert workloads.curate_digest(curated, packed) == workloads.curate_digest(
        curated[::-1], packed[::-1]
    )
    assert workloads.curate_digest(curated, packed) != workloads.curate_digest(
        curated, packed[1:]
    )


# -- output checks count into failed_ratio ----------------------------------


@pytest.fixture
def events_topic(tmp_path):
    """A tiny `events` topic in the engine's at-rest layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for part in range(gen.N_PARTITIONS):
        d = tmp_path / "events" / f"_partition={part}"
        d.mkdir(parents=True)
        n = 5
        pq.write_table(
            pa.table(
                {
                    "_offset": pa.array(range(n), pa.int64()),
                    "_ts": pa.array(
                        [datetime(2024, 1, 30) + timedelta(hours=part * 5 + i) for i in range(n)],
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "_key": [f"k{i}" for i in range(n)],
                    "_value": [json.dumps({"amount": part + i}) for i in range(n)],
                }
            ),
            str(d / "part-0.parquet"),
        )
    twins = checks.Twins({"events": str(tmp_path / "events")})
    yield twins
    twins.close()


def test_a_corrupted_result_counts_as_failed(events_topic):
    st = gen.Statement(
        "agg", "SELECT ... LAST 2d", (("days", 2),)
    )
    right = [(p, 5, float(sum(p + i for i in range(5)))) for p in range(gen.N_PARTITIONS)]
    corrupted = list(right)
    corrupted[2] = (2, 4, corrupted[2][2])
    results = [(st, right), (st, corrupted), (st, None)]
    failed = checks.count_failed(events_topic, results)
    assert failed == 2
    assert stats.failed_ratio(len(results), failed) == pytest.approx(2 / 3)


def test_a_short_range_read_counts_as_failed(events_topic):
    st = gen.Statement(
        "range", "SELECT ...", (("partition", 1), ("lo", 1), ("hi", 3))
    )
    rows = events_topic.con.execute(checks.twin_sql(st)).fetchall()
    assert checks.count_failed(events_topic, [(st, rows)]) == 0
    assert checks.count_failed(events_topic, [(st, rows[:-1])]) == 1


def test_ingest_invariants():
    offsets = {0: [0, 1, 2], 1: [1, 0]}
    assert checks.offsets_contiguous(offsets)
    assert not checks.offsets_contiguous({0: [0, 2]})
    assert checks.hwm_ok({0: 3, 1: 2}, offsets, 5)
    assert not checks.hwm_ok({0: 3, 1: 2}, offsets, 6)
    assert not checks.hwm_ok({0: 2, 1: 3}, offsets, 5)


# -- BENCHMARK.json names what the runner reports ---------------------------


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == workloads.PER_LAYER
