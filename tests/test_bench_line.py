"""The bench stdout line must stay under the driver's 2000-byte tail
capture — r3's official record was nulled by an oversized line, and r8
measured 1,899 bytes. This test reconstructs the line exactly as
bench.py emits it, with pessimistic values, so adding a gate key can
never silently overflow the capture again (no Spark needed)."""

from __future__ import annotations

import importlib.util
import json
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(_REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _timing_keys(bench) -> list[str]:
    """Every key bench.py's timings dict ends up with, mirroring main():
    ingest + scan + KAFSQL dialect queries + the headline gate set + the
    scaled/vectorized specials."""
    return [
        "ingest_topics",
        "scan_events_full",
        "q_kafsql_agg",
        "q_kafsql_filter",
        "q_kafsql_topk",
        "q_kafsql_join",
        "q_kafsql_tail",
        *bench.HEADLINE_GATES,
        "llm_semdedup",
        "llm_semantic_decontam",
        "llm_semantic_decontam_expr",
    ]


def test_bench_line_fits_tail_capture():
    bench = _bench()
    keys = _timing_keys(bench)
    short = [bench._short(k) for k in keys]
    assert len(set(short)) == len(short), "short-name collision"
    # pessimistic line: every steady-state value 5 chars (99.99 — the r8
    # record's widest real value was 4), worst-case header fields
    line = json.dumps(
        {
            "metric": "headline_suite_wall",
            "value": 99999.99,
            "unit": "sec",
            "queries": {s: 99.99 for s in short},
            "sf": 0.001,
            "ingest_rows_per_sec": 99999999,
        },
        separators=(",", ":"),
    )
    # the construction above is ALREADY pessimistic (every steady value
    # 5 chars vs the observed 4-char max, worst-case header numbers), so
    # the bound only needs real margin beyond that worst case; the r12
    # key trims put the worst case at 1810B, restoring ~150B headroom
    # (ADVICE r11) — enough for several new legs before capture truncates
    assert len(line) <= 1850, (
        f"bench line would be {len(line)}B at 5-char values; the driver "
        "captures 2000B — shorten keys in bench._EXTRA_SHORT before "
        "adding gates"
    )


def test_short_names_stay_stable_for_known_keys():
    """Pin a few mappings so a refactor of the replace chain can't
    silently rename the record keys the round-over-round comparison
    tracks."""
    bench = _bench()
    expect = {
        # r13 renames (line-budget trims for the three new legs):
        # ice_mrg->i_mrg, kfs_rt->kfs, sem_dec->sdec, dd_jac->ddj,
        # ice_cl->i_cl, ice_mv->i_mv, ice_ch->i_ch, dspan->dsp,
        # chdoc->chd, ivfkm->ivk, brute->brt, tfidf->tfi, a_mavg->a_mv —
        # recorded here and in bench.py so the cross-round diff maps old
        # keys to new ones
        "ingest_topics": "ingest",
        "analytics_q1_pricing_summary": "q1",
        "iceberg_delete_scan": "ice",
        "iceberg_merge_scan": "i_mrg",
        "kfs_segment_roundtrip": "kfs",
        "llm_semantic_decontam": "sdec",
        "llm_embedding_clusters_fast": "ecf",
        "llm_ann_pq_topk": "pq",
        "q_kafsql_agg": "k_agg",
        "iceberg_kafsql_bucket_lookup": "i_bk",
        "iceberg_kafsql_time_travel": "i_tt",
        "llm_dedup_ngram_jaccard": "ddj",
    }
    for full, short in expect.items():
        assert bench._short(full) == short


def test_steady_runs_stopping_rule():
    """bench.steady_runs (shared by bench.py and tools/leg_trace.py) stops
    each leg where the suite's rule says: best-of-2 on flat multi-second
    legs, a third run for cheap legs, warm-down while a sub-2 s leg still
    improves, heap-state resampling on a wide multi-second spread."""
    bench = _bench()

    def count(times, **kw):
        it = iter(times)
        return len(bench.steady_runs(lambda: next(it), **kw))

    assert count([3.0, 3.0]) == 2
    assert count([0.5, 0.5, 0.5]) == 3
    assert count([1.5, 1.2, 1.0, 1.0, 1.0, 1.0]) == 5
    assert count([1.5, 1.2, 1.0, 0.9, 0.8, 0.7, 0.6]) == 6
    assert count([12.6, 10.3, 10.2, 10.2]) == 4
    assert count([3.0, 3.0, 3.0, 3.0, 3.0], min_runs=5) == 5
