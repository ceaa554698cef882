"""Benchmark runner (driver contract).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Phases:
1. ingest: materialize the topic envelope to the engine's at-rest layout
   (parquet partitioned by _partition) — the produce-path analogue of
   BASELINE.md (a); also reports rows/sec.
2. scan: full-topic scan-and-count — the consume-from-S3 analogue (b).
3. queries: the KAFSQL + analytics + llmdata headline set (c), each forced
   with a noop sink so the full plan executes. Every query runs at least
   twice: the per-query number is the steady-state run — the first run
   carries one-time whole-stage-codegen JIT compilation of that plan shape,
   which on a long-lived cluster amortizes to zero. Cold (first-run) times
   are reported separately under "queries_cold" for transparency; "value"
   sums ingest + steady-state runs. The engine's row-level result cache is
   disabled for the whole bench so every run executes the full plan, and
   `spark.catalog.clearCache()` runs before EVERY timed run so a repeat
   can never read a cache left by a previous run — min-of-runs measures
   the recompute. The package's own intra-query reuse is
   `localCheckpoint`, which makes no CacheManager entry and is released
   with its frames; the clear guards caches a caller makes.

Repeat policy (noise control): this host's run-to-run wall variance
(±15% observed on identical code, r8→r9, re-confirmed r10) exceeds any
real per-leg signal, so EVERY leg's steady-state number is the BEST of
at least 2 runs (3 under 0.8 s) — including the multi-second legs and
the ingest phase, which were single-run through r10 and therefore could
not be adjudicated when they moved on untouched code (the r10 dd_jac
1.44x / ingest -14% question). r12 adds adaptive warm-down: legs under
2 s keep running while a run still improves the best by >2% (max 6
runs), because multi-stage plans tier up through C2 for 4-7 runs — an
8-run isolated trace showed the r11-flagged partsupp family converging
back onto its r10 values on identical code, i.e. the "regression" was
warmup depth, not plan cost. Per-leg max-min spread and run counts land
in the detail file ("repeat_spread"/"repeat_runs"), and a per-leg
best-time history across bench invocations lands in
.bench/leg_history.json ("history" in the detail file carries each
leg's prior best), so a future reader can tell a noisy leg from a real
regression without archaeology over BENCH_r*.json.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")

#: final-stage short-name overrides, applied AFTER the generic replace
#: chain in _short: the stdout line must stay under the driver's
#: 2000-byte tail capture with headroom for new gate keys (full names
#: always live in .bench/bench_detail.json) — tests/test_bench_line.py
#: asserts the worst-case budget
_EXTRA_SHORT = {
    "emb_clu_fast": "ecf",
    "dd_clu_fast": "dcf",
    "a_range_join": "a_rj",
    "a_asof_join": "asof",
    "sem_dec_expr": "sd_x",
    "scan_events": "scan",
    "a_top_event": "a_te",
    "simhash_fps": "sh_f",
    "simhash_rp": "sh_rp",
    "minhash_rp": "mh_rp",
    "emb_neardup": "e_nd",
    "token_freqs": "tokf",
    "rep_metrics": "repm",
    "a_rollup_ny": "a_rny",
    "a_rollup_t": "a_rt",
    "bm25_search": "bm25",
    "dsir_select": "dsir",
    "ann_sq_topk": "sq",
    "ann_pq_topk": "pq",
    "dd_jaccard": "ddj",
    "unigram_lp": "ulp",
    "bigram_lp": "blp",
    "qual_rules": "qrul",
    "qual_clf": "qclf",
    "strip_html": "html",
    "winnow_fps": "win",
    "mix_budget": "mixb",
    "ann_brute": "brt",
    "ann_ivfkm": "ivk",
    "mat_packs": "mpk",
    "chunkdocs": "chd",
    "a_sliding": "asl",
    "dup_spans": "dsp",
    "a_ivljoin": "aiv",
    "oov_rate": "oov",
    "a_runrev": "a_rr",
    "shufcorp": "shuf",
    "url_dedup": "udd",
    "dd_incr": "ddi",
    "s_produce": "spr",
    "phash_rp": "ph_rp",
    "rm_spans": "rm_sp",
    "s_compact": "s_cmp",
    "tfidf_kw": "tfi",
    "iceberg_day_partition_scan": "i_day",
    "iceberg_upsert_scan": "i_ups",
    "iceberg_changelog_scan": "i_cl",
    "iceberg_kafsql_scan": "i_sql",
    "iceberg_matview_scan": "i_mv",
    "iceberg_branch_changelog_scan": "i_bcl",
    "iceberg_spec_evolution_scan": "i_evo",
    "iceberg_rename_scan": "i_ren",
    "iceberg_kafsql_evolved_scan": "iesq",
    "iceberg_bucket_scan": "i_bkt",
    "iceberg_kafsql_bucket_lookup": "i_bk",
    "iceberg_kafsql_key_in_lookup": "i_kin",
    "iceberg_kafsql_time_travel": "i_tt",
    "iceberg_kafsql_key_lookup_unbounded": "i_bku",
    "iceberg_kafsql_join_time_travel": "i_jtt",
    # r13 line-budget trims (same rule as r12: full names stay in the
    # detail file and the leg_history ledger)
    "ice_mrg": "i_mrg",
    "sem_dec": "sdec",
    "ice_ch": "i_ch",
    "kfs_rt": "kfs",
    "semdedup": "smd",
    "decontam": "dcm",
    "snapdiff": "snd",
    "langid": "lid",
    "collapse": "clps",
    "contain": "ctn",
    "boiler": "blr",
    "curric": "cur",
    "a_pivot": "apv",
    # r12 line-budget trims (ADVICE r11): keep >=150B headroom under the
    # driver's 2000B tail capture; full names always live in the detail
    # file and the .bench/leg_history.json ledger is keyed by full names
    "k_filter": "k_flt",
    "k_topk": "k_tk",
    "k_join": "k_jn",
    "k_tail": "k_tl",
    "text_an": "txt",
    "dd_exact": "dd_ex",
    "mh_sigs": "mh_s",
    "mh_pairs": "mh_p",
    "sh_pairs": "sh_p",
    "ngram_rp": "ng_rp",
    "a_pctl": "pct",
    "splits": "spl",
    "dd_lines": "dd_ln",
    "cstats": "cst",
    "bpe_pc": "bpe",
    "mm_audio": "mau",
    "mm_resize": "mrz",
    "dd_keepl": "dd_kl",
    "mh_join": "mh_j",
    "a_sessw": "a_sw",
    "norm_ws": "n_ws",
    "emb_rp": "e_rp",
    "a_sess": "sess",
    "a_mavg": "a_mv",
}


#: the per-gate headline query set (full names; the stdout line
#: shortens them via _short)
HEADLINE_GATES = (
    "analytics_q1_pricing_summary",
    "analytics_q3_top_orders",
    "analytics_q5_nation_revenue",
    "analytics_q6_revenue",
    "analytics_top_event_per_user",
    "llm_text_analysis",
    "llm_dedup_exact",
    "llm_dedup_ngram_jaccard",
    "llm_minhash_signatures",
    "llm_simhash_fingerprints",
    "llm_ann_brute_topk",
    "llm_ann_ivf_topk",
    "llm_minhash_lsh_pairs",
    "llm_simhash_pairs",
    "llm_embedding_neardup",
    "llm_ngram_rep_pairs",
    "llm_embedding_rep_pairs",
    "llm_minhash_rep_pairs",
    "llm_simhash_rep_pairs",
    "llm_dedup_clusters",
    "llm_dedup_clusters_fast",
    "llm_embedding_clusters_fast",
    "llm_ann_ivf_kmeans",
    "llm_ann_pca_topk",
    "analytics_sessionize",
    "analytics_asof_join",
    "analytics_range_join",
    "analytics_time_rollup",
    "analytics_q4_order_priority",
    "analytics_q7_nation_trade",
    "analytics_q10_returned_revenue",
    "analytics_q12_shipmode",
    "analytics_q13_custdist",
    "analytics_q14_promo_revenue",
    "analytics_q15_top_supplier",
    "analytics_q17_small_qty_revenue",
    "analytics_q18_big_orders",
    "analytics_q19_discount_revenue",
    "analytics_q22_sales_opportunity",
    "analytics_q8_market_share",
    "analytics_q21_waiting_suppliers",
    "analytics_q2_min_cost_supplier",
    "analytics_q9_product_profit",
    "analytics_q11_important_stock",
    "analytics_q16_parts_supplier",
    "analytics_q20_promotion_parts",
    "analytics_percentiles",
    "llm_split_assignment",
    "llm_kmv_distinct",
    "llm_stratified_sample",
    "llm_weighted_mix",
    "llm_pack_sequences",
    "llm_materialize_packs",
    "llm_token_frequencies",
    "llm_unigram_logprob",
    "llm_pii_redaction",
    "llm_quality_rules",
    "llm_dedup_lines",
    "llm_filter_boilerplate",
    "llm_repetition_metrics",
    "llm_decontaminate",
    "llm_chunk_documents",
    "llm_tfidf_keywords",
    "llm_collapse_repeats",
    "llm_corpus_stats",
    "analytics_sliding_window",
    "streaming_log_compact",
    "streaming_lfs_reference",
    "kfs_segment_roundtrip",
    "iceberg_delete_scan",
    "iceberg_merge_scan",
    "iceberg_changes_scan",
    "iceberg_day_partition_scan",
    "iceberg_upsert_scan",
    "iceberg_changelog_scan",
    "iceberg_kafsql_scan",
    "iceberg_matview_scan",
    "iceberg_branch_changelog_scan",
    "iceberg_spec_evolution_scan",
    "iceberg_rename_scan",
    "iceberg_kafsql_evolved_scan",
    "iceberg_bucket_scan",
    "iceberg_kafsql_bucket_lookup",
    "iceberg_kafsql_key_in_lookup",
    "iceberg_kafsql_time_travel",
    "iceberg_kafsql_key_lookup_unbounded",
    "iceberg_kafsql_join_time_travel",
    "llm_bpe_pair_counts",
    "llm_duplicate_spans",
    "llm_strip_html",
    "llm_shuffle_corpus",
    "llm_lang_id_multi",
    "llm_multimodal_audio",
    "llm_multimodal_resize",
    "llm_dedup_keep_longest",
    "llm_oov_rate",
    "llm_winnow_fingerprints",
    "analytics_running_revenue",
    "analytics_moving_avg",
    "analytics_rollup_nation_year",
    "llm_bm25_search",
    "llm_bigram_logprob",
    "streaming_produce_offsets",
    "llm_mix_token_budget",
    "llm_curriculum_order",
    "llm_remove_dup_spans",
    "llm_containment_pairs",
    "llm_dsir_select",
    "analytics_interval_join",
    "streaming_sessionize",
    "llm_minhash_join",
    "llm_image_phash_rep_pairs",
    "llm_quality_classifier",
    "llm_ann_sq_topk",
    "llm_heavy_hitters",
    "llm_edit_distance_pairs",
    "llm_mix_temperature",
    "llm_ann_pq_topk",
    "llm_unicode_nfc",
    "llm_calibrate_scores",
    "llm_ann_ivfpq_topk",
    "analytics_pivot_event_counts",
    "llm_dedup_incremental",
    "llm_snapshot_diff",
    "analytics_session_window_native",
    "llm_url_dedup",
    "llm_normalize_whitespace",
)

def _short(k: str) -> str:
    m = re.match(r"analytics_(q\d+)_", k)
    if m:
        return m.group(1)
    k = re.sub(r"^analytics_", "a_", k)
    k = re.sub(r"^llm_", "", k)
    k = re.sub(r"^streaming_", "s_", k)
    k = re.sub(r"^q_kafsql_", "k_", k)
    k = (
        k.replace("multimodal_", "mm_").replace("dedup_", "dd_")
        .replace("embedding_", "emb_").replace("fingerprints", "fps")
        .replace("signatures", "sigs").replace("clusters", "clu")
        .replace("_rep_pairs", "_rp").replace("pair_counts", "pc")
        .replace("keywords", "kw").replace("boilerplate", "boiler")
        .replace("repetition", "rep").replace("decontaminate", "decontam")
        .replace("containment", "contain").replace("interval_join", "ivljoin")
        .replace("sessionize", "sess").replace("remove_dup_spans", "rm_spans")
        .replace("duplicate_spans", "dup_spans")
        .replace("kfs_segment_roundtrip", "kfs_rt")
        .replace("iceberg_delete_scan", "ice")
        .replace("iceberg_merge_scan", "ice_mrg")
        .replace("iceberg_changes_scan", "ice_ch")
        .replace("rollup_nation_year", "rollup_ny")
        .replace("curriculum_order", "curric")
        .replace("mix_token_budget", "mix_budget")
        .replace("token_frequencies", "token_freqs")
        .replace("materialize_packs", "mat_packs")
        .replace("top_event_per_user", "top_event")
        .replace("split_assignment", "splits")
        .replace("image_phash_pairs", "phash_pairs")
        .replace("minhash_join", "mh_join")
        .replace("produce_offsets", "produce")
        .replace("running_revenue", "running_rev")
        .replace("heavy_hitters", "hvy")
        .replace("edit_distance_pairs", "edp")
        .replace("mix_temperature", "mixt")
        .replace("scan_events_full", "scan_events")
        .replace("text_analysis", "text_an")
        .replace("dd_ngram_jaccard", "dd_jaccard")
        .replace("quality_classifier", "qual_clf")
        .replace("quality_rules", "qual_rules")
        .replace("sliding_window", "sliding")
        .replace("dd_keep_longest", "dd_keepl")
        .replace("bigram_logprob", "bigram_lp")
        .replace("unigram_logprob", "unigram_lp")
        .replace("unicode_nfc", "nfc")
        .replace("calibrate_scores", "cal")
        .replace("semantic_decontam", "sem_dec")
        .replace("pivot_event_counts", "pivot")
        .replace("dd_incremental", "dd_incr")
        .replace("snapshot_diff", "snapdiff")
        .replace("session_window_native", "sessw")
        .replace("minhash_lsh_pairs", "mh_pairs")
        .replace("ann_brute_topk", "ann_brute")
        .replace("ann_ivf_kmeans", "ann_ivfkm")
        .replace("shuffle_corpus", "shufcorp")
        .replace("ingest_topics", "ingest")
        .replace("pii_redaction", "pii")
        .replace("a_percentiles", "a_pctl")
        .replace("a_time_rollup", "a_rollup_t")
        .replace("lang_id_multi", "langid")
        .replace("contain_pairs", "contain")
        .replace("normalize_whitespace", "norm_ws")
        .replace("ann_ivfpq_topk", "ivfpq")
        .replace("simhash_pairs", "sh_pairs")
        .replace("filter_boiler", "boiler")
        .replace("s_log_compact", "s_compact")
        .replace("a_running_rev", "a_runrev")
        .replace("minhash_sigs", "mh_sigs")
        .replace("ann_ivf_topk", "ivf")
        .replace("ann_pca_topk", "pca")
        .replace("kmv_distinct", "kmv")
        .replace("weighted_mix", "wmix")
        .replace("corpus_stats", "cstats")
        .replace("a_moving_avg", "a_mavg")
        .replace("stratified_sample", "strf")
        .replace("chunk_documents", "chunkdocs")
        .replace("collapse_repeats", "collapse")
        .replace("s_lfs_reference", "s_lfs")
        .replace("pack_sequences", "pks")
        .replace("image_phash_rp", "phash_rp")
    )
    return _EXTRA_SHORT.get(k, k)


def force(df) -> None:
    """Execute the FULL plan via the noop sink. (A bare .count() would let
    Catalyst prune unreferenced result columns — e.g. drop a sum(json_value)
    aggregate entirely — and under-report query cost.)"""
    df.write.format("noop").mode("overwrite").save()


REPEAT3_S = 0.8  # legs under this get at least three steady runs
# Adaptive warm-down (r12): multi-stage plans (e.g. TPC-H q2's
# correlated subquery = ~15 codegen stages) keep improving for 4-7
# runs as C2 tiers up — an 8-run isolated trace of the four r11-
# flagged partsupp legs showed q2 1.38 -> 0.80 s, converging on the
# r10 values on IDENTICAL code, so the r11 "regression" was warmup
# depth, not plan cost. Legs under WARM_CAP_S therefore keep running
# while a run still improves the best by >2%, up to WARM_MAX_RUNS;
# multi-second legs stay best-of-2 (their warmup fraction is small
# and repeats are expensive).
WARM_CAP_S = 2.0
WARM_MAX_RUNS = 6
# r13: the INVERSE signature on multi-second legs. r12's ledger
# caught llm_embedding_clusters_fast drifting 7.17 -> 8.11 s across
# bench invocations on identical code — monotonically SLOWER, the
# opposite of JIT warm-up, i.e. suite-position noise (GC/heap state
# accumulated by the 100+ legs that ran before it), which best-of-2
# samples too thinly. A multi-second leg whose later run is >10%
# slower than its first gets extra runs (up to SLOW_MAX_RUNS) so the
# reported best is sampled from more than one heap state.
SLOW_MAX_RUNS = 4


def steady_runs(run, min_runs: int = 2) -> list[float]:
    """Warm runs of one leg under the bench's per-leg stopping rule:
    `run()` executes the leg once and returns its wall seconds; the
    leg's reported steady time is min() of the returned list. At least
    `min_runs` runs (best-of-2 by default: single-run numbers are noise),
    three under REPEAT3_S, JIT warm-down below WARM_CAP_S, heap-state
    resampling above it."""
    runs: list[float] = []
    no_improve = 0
    while True:
        r = run()
        if runs and r < min(runs) * 0.98:
            no_improve = 0
        elif runs:
            no_improve += 1
        runs.append(r)
        if len(runs) < min_runs:
            continue
        if len(runs) == 2 and min(runs) < REPEAT3_S:
            continue  # cheap legs: noise dominates, take a third
        if (
            len(runs) < WARM_MAX_RUNS
            and min(runs) < WARM_CAP_S
            and no_improve < 2
        ):
            continue  # still tiering up: two flat runs end the leg
        if (
            len(runs) < SLOW_MAX_RUNS
            and min(runs) >= WARM_CAP_S
            and (max(runs) - min(runs)) > min(runs) * 0.15
        ):
            # wide spread on an expensive leg (either direction —
            # r13's ecf sampled [12.6, 10.3] and stopped at 2 runs
            # under the one-sided rule): resample the heap state
            continue
        return runs


def _sentinel_kernel(block):
    """FROZEN numpy workload for the host-speed sentinel (r14 verdict
    #1): a murmur3_x86_32-shaped pass over an (N, 24) uint8 block.
    This is deliberately NOT imported from platform_spark — the
    sentinel is the arbiter of every cross-round perf claim, so its
    workload must be decoupled from code under optimization (speeding
    up iceberg/bucket.py must move the LEGS, never the yardstick).
    The arithmetic shape (uint32 multiply / rotate / xor rounds over
    '<u4' views) matches the engine's hot write-path kernel as of r14
    so the normalization stays representative, but this copy is frozen
    forever: tests/test_bench_delta.py pins its output checksum, and
    any edit here invalidates the entire .bench ledger's pairing."""
    import numpy as np

    n_rows, length = block.shape
    h = np.zeros(n_rows, dtype=np.uint32)
    k_all = np.ascontiguousarray(block[:, : (length // 4) * 4]).view("<u4")
    for i in range(length // 4):
        k = k_all[:, i] * np.uint32(0xCC9E2D51)
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * np.uint32(0x1B873593)
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(length)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def _sentinel_block():
    """Pinned sentinel input: byte i,j = (i*31 + j*7) % 256 — content is
    irrelevant, identical bytes every invocation is what matters."""
    import numpy as np

    i = np.arange(4096, dtype=np.uint32)[:, None]
    j = np.arange(24, dtype=np.uint32)[None, :]
    return ((i * 31 + j * 7) % 256).astype(np.uint8)


def sentinel_sec() -> float:
    """Host-speed sentinel (r13 verdict #1): a FIXED, Spark-free,
    CPU-bound workload timed best-of-3, so cross-round leg deltas can be
    normalized by how fast this container actually is. Two rounds
    running, >1.25x flags were dominated by container CPU variance
    (r13: 49 false flags, adjudicated only via bisect + isolated
    traces); the sentinel makes that adjudication mechanical. The
    workload is half numpy (a FROZEN murmur3-shaped kernel above —
    see _sentinel_kernel for why it must not import from the engine)
    and half pure Python bytecode (many legs are driver/planning-bound),
    deterministic by construction: no RNG, no I/O, no Spark."""
    block = _sentinel_block()
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        acc = 0
        for _rep in range(400):  # ~0.2 s numpy half on the r13 host
            acc ^= int(_sentinel_kernel(block)[-1])
        s = 0
        for k in range(2_000_000):  # ~0.15 s bytecode half
            s += k * k & 0xFFFF
        best = min(best, time.time() - t0)
        _SENTINEL_SINK[0] = acc ^ s  # defeat dead-code elimination
    return round(best, 4)


_SENTINEL_SINK = [0]


def sentinel_mt_sec(n_threads: int = 8) -> float:
    """OBSERVATIONAL multi-threaded sentinel (r15): the scalar sentinel
    is single-threaded, so a container window that throttles PARALLEL
    throughput (cgroup quota, noisy neighbour on the other cores) while
    single-thread speed stays nominal is invisible to it — bench 2 of
    r15 showed exactly that shape (68 legs ~1.3x slower, sentinel ratio
    1.005). This runs the SAME frozen kernel on a 16x-taller block from
    ``n_threads`` concurrent threads (numpy releases the GIL inside the
    array ops, so the threads genuinely overlap) and times the slowest
    join, best-of-2. Recorded alongside the scalar sentinel in the
    detail file and the ledger's ``__runs_mt__`` list; NOT yet used for
    flag normalization — first collect cross-round data, then decide
    (PLANS.md r15 adjudication note)."""
    import threading

    import numpy as np

    i = np.arange(65536, dtype=np.uint32)[:, None]
    j = np.arange(24, dtype=np.uint32)[None, :]
    block = ((i * 31 + j * 7) % 256).astype(np.uint8)

    def work():
        acc = 0
        for _rep in range(25):
            acc ^= int(_sentinel_kernel(block)[-1])
        _SENTINEL_SINK[0] ^= acc

    best = float("inf")
    for _ in range(2):
        ts = [threading.Thread(target=work) for _ in range(n_threads)]
        t0 = time.time()
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        best = min(best, time.time() - t0)
    return round(best, 4)


def compute_delta(
    timings: dict,
    prior: dict,
    spread: dict,
    n_runs: dict,
    sf: float,
    sentinel_now: float | None = None,
    sentinel_prior_best: float | None = None,
    prior_sentinels: list | None = None,
) -> dict:
    """The BENCH_DELTA.json document (r12 verdict #7), pure so the
    slow-host behavior is unit-testable without running the suite.
    Each leg's best is compared to its prior ledger best; with sentinel
    data on both sides the ratio is NORMALIZED by host speed and flags
    fire on the normalized value — a uniformly 1.4x-slower container
    moves the sentinel 1.4x too and produces ZERO flags, while a
    genuine regression moves a leg without moving the sentinel. Raw
    ratios stay recorded for the audit trail.

    Ledger entries are ``[time, sentinel]`` PAIRS (r15, per ADVICE):
    each append records the invocation's own sentinel alongside the
    time, so pairing is exact by construction — a leg that skips an
    invocation (gate failure, partial run) can never mis-pair with a
    neighbouring invocation's sentinel. A leg's normalized prior best
    is min(time_i / sentinel_i) over its paired entries. Legacy bare-
    float entries (pre-r15 window) fall back to SUFFIX alignment with
    ``prior_sentinels`` (the r14 scheme — every r14 invocation appended
    one entry to each leg it ran AND one to ``__runs__``); entries
    recorded before any sentinel existed fall back to the coarse window
    ratio ``sentinel_now / sentinel_prior_best``, and with no sentinel
    data at all the raw ratio flags (r13 behavior)."""
    sent_ratio = None
    if sentinel_now and sentinel_prior_best:
        sent_ratio = round(sentinel_now / sentinel_prior_best, 3)
    flags = {}
    deltas = {}
    for k, v in timings.items():
        hist = prior.get(k) or []
        hist_t = [
            e[0] if isinstance(e, (list, tuple)) else e for e in hist
        ]
        hist_s = [
            e[1] if isinstance(e, (list, tuple)) and len(e) > 1 else None
            for e in hist
        ]
        pb = min(hist_t) if hist_t else None
        ratio = round(v / pb, 3) if pb else None
        norm = None
        if ratio is not None:
            paired_best = None
            if sentinel_now:
                # positional fallback sentinels for LEGACY float
                # entries only; embedded pairs always win
                pos = (
                    prior_sentinels[-len(hist):]
                    if prior_sentinels and hist else []
                )
                pad = len(hist) - len(pos)
                paired = []
                for idx, (t, s) in enumerate(zip(hist_t, hist_s)):
                    if s is None and pos and idx >= pad:
                        s = pos[idx - pad]
                    if s:
                        paired.append((t, s))
                if paired:
                    paired_best = min(t / s for t, s in paired)
            if paired_best is not None:
                norm = round((v / sentinel_now) / paired_best, 3)
            elif sent_ratio:
                norm = round(ratio / sent_ratio, 3)
            else:
                norm = ratio
        deltas[k] = {
            "prev_best": pb, "now": v, "ratio": ratio,
            "norm_ratio": norm,
        }
        if norm is not None and (norm > 1.25 or norm < 0.8):
            flags[k] = {
                "prev_best": pb,
                "now": v,
                "ratio": ratio,
                "norm_ratio": norm,
                "repeat_spread": spread.get(k),
                "repeat_runs": n_runs.get(k),
            }
    return {
        "sf": sf,
        "sentinel": {
            "now": sentinel_now,
            "prev_best": sentinel_prior_best,
            "host_speed_ratio": sent_ratio,
            "n_paired_runs": len(prior_sentinels or []),
        },
        "flagged_over_1.25x": flags,
        "n_legs": len(deltas),
        "n_new_legs": sum(
            1 for d in deltas.values() if d["ratio"] is None
        ),
        "legs": deltas,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from platform_spark.gate import NOW, engine_for
    from platform_spark.session import get_spark

    # host-speed sentinel at suite START (and again at the end: the
    # container can be throttled mid-suite) — before Spark warms up so
    # the measurement is pure CPU
    sent_start = sentinel_sec()

    spark = get_spark("bench")
    eng = engine_for(spark, sf_dir)
    cat = eng.catalog

    # result cache off: bench measures plan execution, not row serving
    eng.sql("SET enable_cache = false")

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    spread: dict[str, float] = {}
    n_runs: dict[str, int] = {}

    def timed(name: str, fn) -> None:
        # measurement integrity: Spark's CacheManager matches ANALYZED
        # PLANS, so if anything a leg runs caches a frame, its warm
        # repeats would read the table materialized by the PREVIOUS run
        # of the same plan — min-of-runs would then time cache reads,
        # not the recompute. The package's operators cache nothing (their
        # intra-query reuse is localCheckpoint, released with its
        # frames), so the clear guards caches a caller makes; clearing
        # before every run (cold included, so a prior leg's residue never
        # leaks in) keeps each timed run computing from the parquet
        # inputs.
        def run() -> float:
            spark.catalog.clearCache()
            t1 = time.time()
            fn()
            return time.time() - t1

        cold[name] = round(run(), 3)
        runs = steady_runs(run)
        timings[name] = round(min(runs), 3)
        n_runs[name] = len(runs)
        spread[name] = round(max(runs) - min(runs), 3)

    # -- phase 1: ingest (envelope -> partitioned parquet topic tables) ----
    # best-of-2 like every other leg (the full rebuild is the steady
    # shape — there is no warm variant of a materialize)
    topic_root = os.path.join(BENCH_ROOT, f"topics_sf{sf}")
    ingest_runs: list[float] = []
    for _ in range(2):
        shutil.rmtree(topic_root, ignore_errors=True)
        t0 = time.time()
        cat.materialize_all(topic_root)
        ingest_runs.append(time.time() - t0)
    ingest_sec = min(ingest_runs)
    n_topic_rows = sum(
        cat.topic(t, with_schema_columns=False).count() for t in cat.topic_names()
    )
    timings["ingest_topics"] = round(ingest_sec, 3)
    n_runs["ingest_topics"] = len(ingest_runs)
    spread["ingest_topics"] = round(max(ingest_runs) - min(ingest_runs), 3)

    # -- phase 2: full scan of the largest topic --------------------------
    timed("scan_events_full", lambda: force(
        cat.topic("events").select("_partition", "_offset", "_ts", "event_type")
    ))

    # -- phase 3: headline queries ----------------------------------------
    K = [
        ("q_kafsql_agg", "SELECT _partition, count(*) AS cnt, max(_ts) AS latest, "
         "sum(json_value(_value, '$.amount')) AS total FROM events LAST 30d "
         "GROUP BY _partition"),
        ("q_kafsql_filter", "SELECT _partition, _offset, _ts, event_type FROM events "
         "WHERE _partition = 2 AND _ts <= '2024-01-31 00:00:00' LIMIT 100000"),
        ("q_kafsql_topk", "SELECT _offset, _partition, _ts FROM events "
         "WHERE _ts <= '2024-01-31 00:00:00' ORDER BY _ts DESC LIMIT 100"),
        ("q_kafsql_join", "SELECT o._key AS okey, json_value(p._value, '$.method') AS m "
         "FROM orders o JOIN payments p ON o._key = p._key WITHIN 10m LAST 15000d "
         "LIMIT 100000"),
        ("q_kafsql_tail", "SELECT _partition, _offset, _key FROM events TAIL 1000"),
    ]
    for name, stmt in K:
        timed(name, lambda s=stmt: force(eng.sql(s)))

    from platform_spark.gate import GATE

    for name in HEADLINE_GATES:
        fn, _oracle = GATE[name]
        timed(name, lambda f=fn: force(f(spark, sf_dir)))

    # SemDeDup benched per its contract — cluster COUNT scales with the
    # corpus so cluster SIZE stays ~500 (pairwise work is quadratic in
    # cluster size by design; the gate pins the 8-cluster case for the
    # sf0.01 oracle, which at 50k+ vectors would benchmark a deliberately
    # mis-sized configuration). One count() sizes the quantizer — bounded
    # planning state, the same budget as a centroid fit.
    def _semdedup_scaled():
        from platform_spark.gate import _EMB_DIM, _emb_table
        from platform_spark.llmdata.similarity import semantic_dedup

        emb = _emb_table(spark, sf_dir)
        n_clusters = max(8, emb.count() // 500)
        force(semantic_dedup(emb, n_clusters=n_clusters, dim=_EMB_DIM))

    timed("llm_semdedup", _semdedup_scaled)

    # semantic decontam: the HEADLINE key reports the Arrow-vectorized
    # probe — the production/100 TB mode (sf1: 13.8 s vec vs 40.5 s
    # expression). The interpreted-HOF expression mode stays timed under
    # its own _expr key because it IS the DuckDB-hash-checked oracle twin
    # (driver gate llm_semantic_decontam; mode equality pytest-pinned in
    # test_semantic_contamination_* specs).
    def _sem_dec_vectorized():
        from platform_spark.gate import semantic_decontam_vec_probe

        force(semantic_decontam_vec_probe(spark, sf_dir))

    timed("llm_semantic_decontam", _sem_dec_vectorized)
    fn_expr, _o = GATE["llm_semantic_decontam"]
    timed("llm_semantic_decontam_expr", lambda: force(fn_expr(spark, sf_dir)))

    total = round(sum(timings.values()), 2)

    # Full-precision detail (cold/first-run times, 3-decimal steady times)
    # goes to a side file; the driver's tail capture is 2000 bytes, so the
    # final stdout line must stay compact (steady-state only, 2-decimal,
    # no whitespace). r3's line carried queries_cold inline and outgrew the
    # capture, leaving the official record unparseable.
    detail = {
        "metric": "headline_suite_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "repeat_policy": (
            f"steady = best of >=2 runs for every leg (>=3 under "
            f"{REPEAT3_S}s), ingest included; legs under {WARM_CAP_S}s "
            f"keep warming while a run improves the best >2%, up to "
            f"{WARM_MAX_RUNS} runs (JIT warm-down); spark cache cleared "
            f"before every run (r16) so repeats measure recompute"
        ),
        "repeat_runs": n_runs,
        "repeat_spread": spread,
        "sf": float(sf),
        "ingest_rows_per_sec": round(n_topic_rows / max(ingest_sec, 1e-9)),
    }
    os.makedirs(BENCH_ROOT, exist_ok=True)

    # sentinel again at suite END; the BEST of the two is the host's
    # demonstrated speed this invocation (matching the per-leg best-of-N
    # semantics — a throttled window inflates the other sample)
    sent_end = sentinel_sec()
    sentinel = min(sent_start, sent_end)
    sentinel_mt = sentinel_mt_sec()
    detail["sentinel"] = {
        "start": sent_start, "end": sent_end, "mt": sentinel_mt,
    }

    # cross-round variance ledger: per-leg best-time history (last N
    # invocations at this SF), so a verdict can tell drift from a step
    # change without archaeology over BENCH_r*.json. The detail file's
    # "history" block carries each leg's prior recorded bests.
    HISTORY_KEEP = 8
    history_path = os.path.join(BENCH_ROOT, "leg_history.json")
    try:
        with open(history_path) as f:
            ledger = json.load(f)
    except (OSError, ValueError):
        ledger = {}
    sf_ledger = ledger.setdefault(str(float(sf)), {})
    prior = {k: list(v) for k, v in sf_ledger.items()}
    prior_runs = list(sf_ledger.get("__runs__", []))
    # each leg entry is a [time, sentinel] PAIR (r15): pairing is exact
    # by construction even if a leg skips an invocation — compute_delta
    # reads the embedded sentinel, no positional alignment involved
    for k, v in timings.items():
        sf_ledger.setdefault(k, []).append([v, sentinel])
        sf_ledger[k] = sf_ledger[k][-HISTORY_KEEP:]
    # __runs__ stays appended for the LEGACY bare-float window (r14
    # entries pair by suffix alignment until they age out of the
    # 8-entry window), after which it is just an invocation log
    sf_ledger.setdefault("__runs__", []).append(sentinel)
    sf_ledger["__runs__"] = sf_ledger["__runs__"][-HISTORY_KEEP:]
    # observational multi-thread sentinel (parallel-throughput window
    # detector) — aligned with __runs__, not yet used for flags
    sf_ledger.setdefault("__runs_mt__", []).append(sentinel_mt)
    sf_ledger["__runs_mt__"] = sf_ledger["__runs_mt__"][-HISTORY_KEEP:]
    # the root-level sentinel window is the coarse fallback (host speed
    # is SF-independent): its best approximates the host speed at which
    # pre-pairing leg bests were recorded
    sent_hist = ledger.setdefault("__sentinel__", [])
    sent_prior_best = min(sent_hist) if sent_hist else None
    sent_hist.append(sentinel)
    ledger["__sentinel__"] = sent_hist[-HISTORY_KEEP:]
    with open(history_path, "w") as f:
        json.dump(ledger, f, indent=1)
    detail["history"] = {
        k: {"prior": prior.get(k, []), "now": v} for k, v in timings.items()
    }

    # mechanical adjudication artifact (r12 verdict #7): per-leg best vs
    # the prior recorded best at this SF, flagging >1.25x moves in either
    # direction — NORMALIZED by the host-speed sentinel ratio (r13
    # verdict #1) — together with this invocation's spread/run count;
    # the verdict reads THIS instead of recomputing deltas from
    # BENCH_r*.json
    delta_doc = compute_delta(
        timings, prior, spread, n_runs, float(sf),
        sentinel_now=sentinel, sentinel_prior_best=sent_prior_best,
        prior_sentinels=prior_runs,
    )
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DELTA.json"), "w",
    ) as f:
        json.dump(delta_doc, f, indent=1)

    detail_path = os.path.join(BENCH_ROOT, "bench_detail.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"detail written to {detail_path}")

    # compact the final line's query keys (TPC-H → q1..q22, family prefixes
    # shortened): with all 22 TPC-H shapes benched the full-name line is
    # ~2.3 KB, past the driver's 2000-byte tail capture — the exact failure
    # that nulled r3's official record. Full names stay in the detail file.

    short_q = {_short(k): round(v, 2) for k, v in timings.items()}
    assert len(short_q) == len(timings), "short-name collision in bench keys"
    final_line = json.dumps(
        {
            "metric": "headline_suite_wall",
            "value": total,
            "unit": "sec",
            "queries": short_q,
            "sf": float(sf),
            "ingest_rows_per_sec": round(n_topic_rows / max(ingest_sec, 1e-9)),
        },
        separators=(",", ":"),
    )
    if len(final_line) > 1900:  # driver tail capture is 2000 bytes
        sys.stderr.write(
            f"WARNING: bench line {len(final_line)}B nears the 2000B tail capture\n"
        )
    print(final_line)


if __name__ == "__main__":
    main()
