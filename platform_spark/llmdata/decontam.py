"""Benchmark decontamination: flag training documents that overlap an
evaluation/benchmark set.

The published recipe (GPT-3 appx. C, PaLM §7, Llama) is n-gram collision:
a training document is contaminated if it shares at least ``min_common``
distinct k-word shingles with any benchmark document. At 100 TB the only
viable plan is the same inverted-index join the n-gram dedup path uses —
shingle both sides, join on the (hashed) shingle, aggregate per pair:

- shuffle volume is O(total shingles), never O(docs × bench);
- the benchmark side is small (eval sets are thousands of docs), so its
  shingle index broadcasts and the probe is a map-side hash join over the
  training scan — ZERO shuffle of the 100 TB side when it fits;
- join keys are 60-bit md5-derived ints (portable to the DuckDB oracle),
  not strings.

Semantics are exact (no banding/sketching): decontamination is a recall-
critical filter, so candidates are counted directly rather than sampled.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from platform_spark.llmdata.dedup import _shingle_table, md5_int


def contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    k: int = 8,
    min_common: int = 1,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document contamination report against a benchmark corpus.

    Returns one row per training document that shares >= ``min_common``
    distinct k-shingles with the benchmark set:

    ``(doc_id, n_common, n_bench_docs, worst_bench_id, worst_common)``

    - ``n_common``: distinct contaminated shingles in the doc (a shingle
      found in any bench doc counts once);
    - ``n_bench_docs``: how many distinct bench docs it collides with;
    - ``worst_bench_id`` / ``worst_common``: the bench doc sharing the
      most shingles (ties broken by smallest bench id — deterministic).

    Filter the training set with an anti-join on the result to drop, or
    join it back to keep the counts as features.
    """
    # NOTE (r15): a doc-side repartition before shingling was tried and
    # REVERTED — it cut ~1 s locally purely because the one small bench
    # parquet file scans as ~3 splits, but it would shuffle the ENTIRE
    # training corpus's text at production scale, breaking this
    # operator's design invariant (map-only corpus pass against a
    # broadcast index — the module docstring's 100 TB plan)
    d_sh = _shingle_table(docs, text_col, id_col, k).select(
        "doc_id", md5_int(F.col("shingle")).alias("sh")
    )
    b_sh = (
        _shingle_table(bench, bench_text_col, bench_id_col, k)
        .select(
            F.col("doc_id").alias("bench_id"), md5_int(F.col("shingle")).alias("sh")
        )
    )
    if broadcast_bench:
        b_sh = F.broadcast(b_sh)
    # checkpointed: the shingle+probe pass feeds BOTH the per-pair and
    # the per-doc branches through different exchanges — one execution
    # instead of two
    hits = d_sh.join(b_sh, "sh").localCheckpoint(eager=False)
    per_pair = hits.groupBy("doc_id", "bench_id").agg(
        F.count("*").alias("pair_common")
    )
    per_doc = (
        hits.groupBy("doc_id")
        .agg(
            F.count_distinct("sh").alias("n_common"),
            F.count_distinct("bench_id").alias("n_bench_docs"),
        )
    )
    # order: most shared shingles, then SMALLEST bench id — negate the
    # always-numeric count, never the id (string ids would NULL out under
    # arithmetic and silently flip the tiebreak to the largest id)
    worst = per_pair.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("pair_common")).alias("neg_common"),
                F.col("bench_id").alias("bid"),
            )
        ).alias("__w")
    ).select(
        "doc_id",
        F.col("__w.bid").alias("worst_bench_id"),
        (-F.col("__w.neg_common")).alias("worst_common"),
    )
    return (
        per_doc.join(worst, "doc_id")
        .filter(F.col("n_common") >= min_common)
        .select("doc_id", "n_common", "n_bench_docs", "worst_bench_id", "worst_common")
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "bench_id",
    k: int = 8,
    min_common: int = 1,
) -> DataFrame:
    """The filter form: training docs with contaminated rows removed
    (left_anti join on the contamination report — stays one plan)."""
    bad = contamination(
        docs,
        bench,
        text_col=text_col,
        id_col=id_col,
        bench_text_col=bench_text_col,
        bench_id_col=bench_id_col,
        k=k,
        min_common=min_common,
    ).select(F.col("doc_id").alias(id_col))
    return docs.join(bad, id_col, "left_anti")


# semantic (embedding-space) decontamination --------------------------------
#
# The n-gram recipe above misses paraphrased benchmark copies — the leak
# PaLM §7 / GPT-4 contamination appendices call out as the hard case. The
# embedding-side complement flags a training row whose vector is within a
# cosine threshold of ANY eval-set vector.
#
# 100 TB plan: an eval embedding set is small by construction (thousands of
# vectors × dim floats ≈ MBs), so it rides into every task as TWO Literal
# nodes (one nested double matrix + one id array) — scoring is then a
# map-only expression over the corpus scan: no join, no shuffle, no
# aggregation of the training side at all. The bench matrix is folded ONCE
# per row (the scored transform is referenced exactly once by one
# `aggregate`), so per-row cost is n_bench × dim fused-codegen flops. If an
# eval set ever outgrows a comfortable literal (~10^5 vectors), fall back
# to the broadcast-join shape `contamination` uses for shingles.


class _BenchLits:
    """The (bounded, eval-set-sized) bench side collected to the driver,
    sorted by bench id ASC so strictly-greater/first-max updates resolve
    cosine ties to the smallest bench id. Norms are precomputed as plain
    Python doubles — the SAME sequential sum-of-squares + sqrt the SQL
    oracle folds, so values stay bit-identical — which removes the
    per-corpus-row re-fold of every bench norm (a ~2x win: Spark's
    higher-order functions evaluate interpreted, so every op inside the
    per-element lambda is paid per (row, bench) pair)."""

    def __init__(self, bench: DataFrame, bench_vec_col: str, bench_id_col: str):
        import math

        rows = sorted(
            (r[0], r[1])
            for r in bench.select(bench_id_col, bench_vec_col).collect()
            if r[1] is not None
        )
        self.ids = [int(i) for i, _ in rows]
        self.vecs = [[float(x) for x in v] for _, v in rows]
        self.norms = [math.sqrt(sum(x * x for x in v)) for v in self.vecs]
        self.n = len(rows)

    def cols(self) -> tuple[Column, Column, Column]:
        # literals rendered as SQL text and parsed with one F.expr each
        # (r15): F.lit recurses one py4j round trip per element, which on
        # a thousands-x-dim bench matrix costs seconds of pure driver
        # socket latency per query; the parsed CreateArray(Literal) tree
        # is identical and constant-folds the same way
        from platform_spark.llmdata.similarity import double_matrix_lit

        ids_sql = "array(" + ",".join(f"{int(i)}L" for i in self.ids) + ")"
        return (
            double_matrix_lit(self.vecs).cast("array<array<double>>"),
            F.expr(ids_sql).cast("array<bigint>"),
            double_matrix_lit(self.norms).cast("array<double>"),
        )


def _scored_expr(vec: Column, lits: _BenchLits) -> Column:
    """array<struct<c: cosine(vec, bench_j) rounded to 6dp, i: bench id>>,
    in bench-id order. One transform computes each raw dot exactly once;
    the norm division zips against the precomputed bench-norm literal."""
    from platform_spark.llmdata.similarity import dot_expr, norm_expr, to_double

    vmat, bids, bnorms = lits.cols()
    v = to_double(vec)
    nv = norm_expr(v)
    dots = F.transform(vmat, lambda b: dot_expr(v, b))
    sims = F.zip_with(dots, bnorms, lambda dt, nb: F.round(dt / (nv * nb), 6))
    return F.zip_with(
        sims, bids, lambda c, i: F.struct(c.alias("c"), i.alias("i"))
    )


def _vectorized_probe_udf(lits: _BenchLits, threshold: float):
    """Arrow-batched probe: one numpy matmul per batch against the bench
    matrix. ~20x the expression mode (HOFs are interpreted per element;
    BLAS is not). numpy's blocked summation can round differently from
    the sequential fold in the last double bit — after round(6) a
    divergence needs the true cosine within ~1e-16 of a rounding
    boundary, so the modes agree on real data (equality pinned on the
    fixture in pytest) but only the expression mode is fold-order-exact
    vs the SQL oracle.

    Degenerate-vector rules mirror the expression mode (spec-pinned):
    a ZERO-norm side makes the cosine a 0-denominator division — NULL
    under the session's non-ANSI Spark (and DuckDB), hence a non-hit —
    while NaN INPUT VALUES make the cosine NaN, which Spark/DuckDB
    comparisons rank above every number, hence a hit reported with
    worst_cosine NaN."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    B = np.array(lits.vecs, dtype=np.float64)
    Bn = np.array(lits.norms, dtype=np.float64)
    bid = np.array(lits.ids, dtype=np.int64)
    dim = B.shape[1] if lits.n else 0

    def _probe(col):
        # ragged guard: a wrong-length embedding mirrors the expression
        # mode (zip_with NULL-pads the short side -> NULL dot -> NULL
        # cosine -> non-hit) instead of collapsing the batch matrix to
        # object dtype and crashing the matmul with an opaque error
        rows = [
            np.asarray(x, dtype=np.float64)
            if x is not None and len(x) == dim
            else None
            for x in col
        ]
        isnull = np.array([r is None for r in rows], dtype=bool)
        V = np.array(
            [r if r is not None else np.full(dim, np.nan) for r in rows]
        )
        if len(V) == 0:
            return pd.DataFrame({"n": [], "wid": [], "wc": []}).astype(
                {"n": "int64", "wid": "float64", "wc": "float64"}
            )
        # Mirror the expression mode's edge rules exactly (pytest-pinned):
        # - zero denominator (zero-norm row or bench vector): the session's
        #   non-ANSI Spark double division yields NULL, a NON-hit — mask it
        # - NaN cosine from NaN input values: Spark/DuckDB comparisons put
        #   NaN above every number, so it IS a hit and ranks above 1.0
        with np.errstate(divide="ignore", invalid="ignore"):
            nv = np.sqrt((V * V).sum(axis=1))
            den = nv[:, None] * Bn[None, :]
            C = np.round((V @ B.T) / den, 6)
        # NULL input vectors give NULL cosines in the expression mode
        # (never a hit) — distinct from NaN VALUES, which hit everything
        valid = (den != 0) & ~isnull[:, None]
        hit = valid & (np.greater_equal(C, threshold) | np.isnan(C))
        n = hit.sum(axis=1)
        rank = np.where(hit, np.where(np.isnan(C), np.inf, C), -np.inf)
        wi = rank.argmax(axis=1)  # first max; ids ascend -> smallest id wins
        out = pd.DataFrame({"n": n.astype("int64"), "wid": bid[wi].astype("int64")})
        out.loc[n == 0, ["wid"]] = None
        return out

    # the module's `from __future__ import annotations` would stringify
    # inline hints (unresolvable at inspection time) — set them directly.
    # The probe reports only (n, worst id): Arrow's pandas conversion
    # reads NaN floats as NULL, so a genuine NaN worst_cosine cannot ride
    # through the UDF — the caller recomputes the ONE reported cosine
    # JVM-side with the exact oracle expression (screen numpy, verify
    # exact — the repo's standard recipe).
    _probe.__annotations__ = {"col": pd.Series, "return": pd.DataFrame}
    return pandas_udf("struct<n: long, wid: long>")(_probe)


def semantic_contamination(
    vecs: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bench_vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
    threshold: float = 0.85,
    min_hits: int = 1,
    vectorized: bool = False,
) -> DataFrame:
    """Per-row semantic contamination report against an eval embedding set.

    Returns one row per training vector with >= ``min_hits`` bench vectors
    at cosine >= ``threshold``:

    ``(vec_id, n_bench_hits, worst_bench_id, worst_cosine)``

    ``worst_*`` is the closest bench vector (ties to the smallest bench
    id — deterministic). Rows whose vector is NULL cannot hit and are
    absent from the report.

    ``vectorized=True`` swaps the interpreted column-expression fold for
    an Arrow-batched numpy matmul — the 100 TB mode (~20x; still map-only,
    still zero shuffle; see _vectorized_probe_udf for the one-ULP rounding
    caveat that keeps the expression mode the oracle reference).
    """
    lits = _BenchLits(bench, bench_vec_col, bench_id_col)
    if lits.n == 0:
        return (
            vecs.select(F.col(id_col))
            .filter(F.lit(False))
            .select(
                id_col,
                F.lit(0).cast("bigint").alias("n_bench_hits"),
                F.lit(None).cast("bigint").alias("worst_bench_id"),
                F.lit(None).cast("double").alias("worst_cosine"),
            )
        )
    if vectorized:
        from platform_spark.llmdata.similarity import (
            dot_expr,
            norm_expr,
            to_double,
        )

        probe = _vectorized_probe_udf(lits, float(threshold))
        pr = probe(F.col(vec_col))
        vmat, bids, _bn = lits.cols()
        v = to_double(F.col(vec_col))
        b = F.element_at(
            vmat, F.array_position(bids, pr["wid"]).cast("int")
        )
        wc = F.when(
            pr["n"] > 0,
            F.round(dot_expr(v, b) / (norm_expr(v) * norm_expr(b)), 6),
        )
        r = F.struct(
            pr["n"].alias("n"), pr["wid"].alias("wid"), wc.alias("wc")
        )
    else:
        scored = _scored_expr(F.col(vec_col), lits)
        acc0 = F.struct(
            F.lit(0).alias("n"),
            F.lit(None).cast("bigint").alias("wid"),
            F.lit(None).cast("double").alias("wc"),
        )
        t = F.lit(float(threshold))

        def step(acc: Column, s: Column) -> Column:
            hit = s["c"] >= t
            better = hit & (acc["wc"].isNull() | (s["c"] > acc["wc"]))
            return F.struct(
                (acc["n"] + F.when(hit, F.lit(1)).otherwise(F.lit(0))).alias("n"),
                F.when(better, s["i"]).otherwise(acc["wid"]).alias("wid"),
                F.when(better, s["c"]).otherwise(acc["wc"]).alias("wc"),
            )

        r = F.aggregate(scored, acc0, step)
    return (
        vecs.select(F.col(id_col), r.alias("__r"))
        .filter(F.col("__r.n") >= int(min_hits))
        .select(
            id_col,
            F.col("__r.n").cast("bigint").alias("n_bench_hits"),
            F.col("__r.wid").alias("worst_bench_id"),
            F.col("__r.wc").alias("worst_cosine"),
        )
    )


def semantic_decontaminate(
    df: DataFrame,
    bench: DataFrame,
    vec_col: str = "embedding",
    bench_vec_col: str = "embedding",
    bench_id_col: str = "bench_id",
    threshold: float = 0.85,
    vectorized: bool = False,
) -> DataFrame:
    """The filter form: rows within ``threshold`` cosine of any eval
    vector are dropped — a single map-only filter over the scan (no join,
    no shuffle). Rows with a NULL vector cannot be contaminated and are
    KEPT (the exists-NULL is coalesced to false; the vectorized probe
    reports NaN cosines for NULL vectors, which never hit)."""
    lits = _BenchLits(bench, bench_vec_col, bench_id_col)
    if lits.n == 0:
        return df
    if vectorized:
        probe = _vectorized_probe_udf(lits, float(threshold))
        return df.filter(probe(F.col(vec_col))["n"] == 0)
    scored = _scored_expr(F.col(vec_col), lits)
    hit = F.exists(scored, lambda s: s["c"] >= F.lit(float(threshold)))
    return df.filter(~F.coalesce(hit, F.lit(False)))
