"""Entity-resolution string-similarity join: edit-distance pairs with
exact-recall segment blocking (PassJoin-style).

Finds every pair of DISTINCT column values within a bounded Levenshtein
distance — fuzzy record linkage for names/titles/codes, the string-metric
complement of the token-set joins in `dedup` (Jaccard/containment/MinHash)
and the fixed-width fingerprint joins (SimHash/dHash).

Blocking scheme (Li, Deng, Feng — PassJoin, VLDB'11): split every value
into ``max_dist + 1`` contiguous segments. If ``ed(a, b) <= d``, at most d
segments of `a` are touched by edits, so at least one segment survives
verbatim as a substring of `b`, displaced by at most d positions. Indexing
each value's segments and probing each value's bounded substring window
therefore finds EVERY qualifying pair — recall is a pigeonhole guarantee,
not a probabilistic one — and an exact `levenshtein` verify on the
candidates makes the output identical to the all-pairs answer (and to the
exhaustive DuckDB oracle) at a tiny fraction of the comparisons.

Scale shape: the operator runs on the DISTINCT-value rep table (the same
exact-collapse stance as the text/embedding rep-pair family — doc-level
expansion is `expand_pairs`' lazy job, ARCHITECTURE.md "bounded quadratic
work"). Candidate volume is sum over blocking keys of |index| x |probe|;
keys carry (partner-length, segment-index, segment-text), so only values
agreeing on aligned, position-bounded substrings ever meet. Per probe
value the enumeration is a CONSTANT (2d+1)^2 (d+1) struct array — one
literal-array explode, no UDFs, everything whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from platform_spark.llmdata.dedup import _reps


def _seg_base(lp: Column, d: int) -> Column:
    return F.floor(lp / F.lit(d + 1)).cast("int")


def _seg_len(lp: Column, i: Column, d: int) -> Column:
    """Length of segment i in the even (d+1)-way split of an lp-char string."""
    return _seg_base(lp, d) + F.when(i < lp % F.lit(d + 1), 1).otherwise(0)


def _seg_start(lp: Column, i: Column, d: int) -> Column:
    """0-based start of segment i: i*base + min(i, remainder)."""
    return (i * _seg_base(lp, d) + F.least(i, lp % F.lit(d + 1))).cast("int")


def edit_distance_rep_pairs(
    df: DataFrame,
    value_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """All pairs of distinct `value_col` values with Levenshtein distance
    <= `max_dist`, exactly — candidates from PassJoin segment blocking,
    then an exact `levenshtein` verify (so blocking affects cost only,
    never the answer).

    Values shorter than ``max_dist + 1`` characters are excluded (their
    segments would be empty strings, and at that length "within d edits"
    matches essentially everything — pair them exhaustively upstream if
    they matter). Output, canonically ordered (val_a < val_b binary):
    (val_a, val_b, dist, n_copies_a, n_copies_b).
    """
    if not 1 <= max_dist <= 5:
        raise ValueError("max_dist must be in 1..5")
    d = max_dist
    # the rep relation (one row per distinct value, the value its own
    # id), checkpointed (guide §5 bounded intra-query reuse): the segment
    # index and the probe enumeration both read it, and each carries the
    # copy count on through the candidate join
    reps = (
        _reps(
            df.filter(F.col(value_col).isNotNull()).filter(F.length(value_col) > d),
            F.col(value_col).alias("v"),
            value_col,
        )
        .select("v", "n_copies")
        .localCheckpoint(eager=False)
    )

    # Index side: the d+1 segments of each value, keyed by (own length,
    # segment index, segment text).
    seg_i = F.explode(F.sequence(F.lit(0), F.lit(d))).alias("i")
    idx = reps.select(
        F.col("v").alias("va"), F.length("v").alias("la"),
        F.col("n_copies").alias("nca"), seg_i,
    )
    idx = idx.select(
        "va",
        "la",
        "nca",
        "i",
        F.col("va")
        .substr(_seg_start(F.col("la"), F.col("i"), d) + 1,
                _seg_len(F.col("la"), F.col("i"), d))
        .alias("seg"),
    )

    # Probe side: for every partner length lp in [len-d, len+d], every
    # segment index i, every start offset within +-d of that scheme's
    # segment start, the aligned substring. The (dl, i, o) combinations
    # are one constant literal array — a single bounded explode.
    combos = F.array(
        *[
            F.struct(F.lit(dl).alias("dl"), F.lit(i).alias("i"), F.lit(o).alias("o"))
            for dl in range(-d, d + 1)
            for i in range(d + 1)
            for o in range(-d, d + 1)
        ]
    )
    probe = reps.select(
        F.col("v").alias("vb"), F.length("v").alias("lb"),
        F.col("n_copies").alias("ncb"), F.explode(combos).alias("c"),
    ).select(
        "vb",
        "lb",
        "ncb",
        (F.col("lb") + F.col("c.dl")).alias("lp"),
        F.col("c.i").alias("i"),
        (_seg_start(F.col("lb") + F.col("c.dl"), F.col("c.i"), d) + F.col("c.o")).alias("p"),
        _seg_len(F.col("lb") + F.col("c.dl"), F.col("c.i"), d).alias("sl"),
    )
    probe = probe.filter(
        (F.col("lp") > d)
        & (F.col("p") >= 0)
        & (F.col("p") + F.col("sl") <= F.col("lb"))
    ).select(
        "vb",
        "ncb",
        F.col("lp").alias("la"),
        "i",
        F.col("vb").substr(F.col("p") + 1, F.col("sl")).alias("seg"),
    )

    # each side's copy count follows its value through the orientation
    a_first = F.col("va") < F.col("vb")
    cand = (
        idx.join(probe, ["la", "i", "seg"])
        .filter(F.col("va") != F.col("vb"))
        .select(
            F.least("va", "vb").alias("val_a"),
            F.greatest("va", "vb").alias("val_b"),
            F.when(a_first, F.col("nca")).otherwise(F.col("ncb")).alias("n_copies_a"),
            F.when(a_first, F.col("ncb")).otherwise(F.col("nca")).alias("n_copies_b"),
        )
        .distinct()
    )
    return cand.select(
        "val_a",
        "val_b",
        F.levenshtein("val_a", "val_b").alias("dist"),
        "n_copies_a",
        "n_copies_b",
    ).filter(F.col("dist") <= d)


def expand_value_pairs(
    df: DataFrame,
    rep_pairs: DataFrame,
    value_col: str,
    id_col: str,
    include_exact: bool = True,
) -> DataFrame:
    """Expand rep-level value pairs to id-level pairs lazily (the same
    stance as the text rep-pair family: the doc-level pair LIST is
    output-bound quadratic in copies, so it is a separate, optional
    expansion — ARCHITECTURE.md "bounded quadratic work").

    Joins each (val_a, val_b, dist) against the id table twice and, when
    `include_exact`, adds the distance-0 pairs among exact copies of the
    same value. Output: (id_a, id_b, dist) with id_a < id_b.
    """
    ids = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v"), F.col(id_col).alias("__id")
    )
    cross = (
        rep_pairs.join(ids.withColumnRenamed("__id", "ia"), F.col("val_a") == F.col("__v"))
        .drop("__v")
        .join(ids.withColumnRenamed("__id", "ib"), F.col("val_b") == F.col("__v"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "dist",
        )
    )
    if not include_exact:
        return cross
    same = (
        ids.alias("x")
        .join(ids.alias("y"), F.col("x.__v") == F.col("y.__v"))
        .filter(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.unionByName(same)
