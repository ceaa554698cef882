"""Text-analysis operators for training-data pipelines.

All hot-path math uses built-in `pyspark.sql.functions` (JVM-side,
whole-stage codegen) — no Python UDFs — so these run at full scan speed on
any corpus size. Each operator is a DataFrame→DataFrame transform over a
text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small English stopword set for the language-ID heuristic (deterministic,
#: shared with the DuckDB oracle)
EN_STOPWORDS = (
    "the a an of and to in is it that for on as with was are be this at by "
    "from or we you not have has had but they his her its"
).split()


def _has_shuffle(plan) -> bool:
    """True when a physical plan (or a subquery of it) holds a shuffle
    exchange; an adaptive plan is read through its un-executed input plan."""
    stack = [plan]
    while stack:
        p = stack.pop()
        name = p.getClass().getSimpleName()
        if name == "ShuffleExchangeExec":
            return True
        if name == "AdaptiveSparkPlanExec":
            stack.append(p.inputPlan())
            continue
        for seq in (p.children(), p.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def widen_small_scan(df: DataFrame) -> DataFrame:
    """Repartition a frame whose plan parallelizes far below the session
    (guide §2.5's input-skew rule: one small/unsplittable source file →
    repartition right after the read). The tokenize/shingle/render
    passes downstream are CPU-dense per row, and a small parquet source
    scans as a single split no matter how many cores exist — every
    narrow transformation fused onto it then runs single-threaded.

    Gated on the frame's planned partition count: fires only when it is
    under a quarter of the session's parallelism, so a real-scale scan
    (thousands of splits) is a no-op — the extra exchange is paid exactly
    when its input is small. A frame whose plan already holds a shuffle
    is returned unchanged WITHOUT probing: under adaptive execution,
    counting its partitions (``df.rdd``) runs the upstream shuffle map
    stages as a hidden job, and its width is set by the shuffle anyway.
    The round-robin exchange changes physical row order only; every
    consumer in this package is order-insensitive (aggregates, joins,
    windows over explicit total keys)."""
    try:
        if _has_shuffle(df._jdf.queryExecution().executedPlan()):
            return df
        cur = df.rdd.getNumPartitions()
        dp = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    # cur < 1: an empty LocalRelation (or a subtree Catalyst folded to
    # empty) reports 0 planned partitions — repartition(0) would throw,
    # and there is nothing to widen anyway (ADVICE r15)
    if cur < 1 or cur * 4 > dp:
        return df
    return df.repartition(min(dp, cur * 32))


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array)."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-flavored token estimate: count of word/number/punct runs.

    Splits on the boundaries a byte-pair-ish tokenizer would respect:
    letter-runs, digit-runs, and individual punctuation marks each count.
    """
    pieces = F.regexp_replace(col, r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])", "$1\x1e")
    return F.size(
        F.filter(F.split(pieces, "\x1e"), lambda x: F.trim(x) != "")
    )


def punct_ratio(col: Column) -> Column:
    """share of non-alphanumeric, non-space characters, rounded to 6 dp."""
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(p.cast("double") / n.cast("double"), 6)
    )


def stopword_ratio(col: Column) -> Column:
    toks = tokens(F.lower(col))
    n = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(EN_STOPWORDS)))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.round(sw.cast("double") / n.cast("double"), 6)
    )


def mean_word_len(col: Column) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(total / n.cast("double"), 6))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards stopword presence and
    sane word lengths, penalizes punctuation soup. Deterministic and
    closed-form so the oracle can reproduce it exactly."""
    sw = stopword_ratio(col)
    pr = punct_ratio(col)
    mwl = mean_word_len(col)
    len_term = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(0.4)).otherwise(F.lit(0.1))
    sw_term = F.least(sw * 4.0, F.lit(1.0)) * 0.4
    punct_term = (F.lit(1.0) - F.least(pr * 5.0, F.lit(1.0))) * 0.2
    return F.round(len_term + sw_term + punct_term, 6)


def lang_id(col: Column) -> Column:
    """n-gram/stopword language-ID heuristic: English if the stopword ratio
    clears 5%; extend with per-language stopword tables for more classes."""
    return F.when(stopword_ratio(col) >= 0.05, F.lit("en")).otherwise(F.lit("unk"))


def fingerprint(col: Column) -> Column:
    """Normalization fingerprint: md5 of lowercased, whitespace-collapsed,
    punctuation-stripped text — the standard exact-after-normalization
    dedup key."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return F.md5(norm.cast("binary"))


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family.

    Layered selects materialize the token arrays once, then derive ratios
    from them, then the composite score from the ratio columns — keeping
    every split/regex single-evaluation (naively nesting the Column
    helpers would duplicate the tokenizer tree into each metric).
    """
    c = F.col(text_col)
    # widen a single-split source first (guide §2.5): the whole metric
    # family fuses onto the scan, single-threading on a small file
    staged = widen_small_scan(df).select(
        "*",
        tokens(c).alias("__toks"),
        tokens(F.lower(c)).alias("__ltoks"),
    )
    n = F.size(F.col("__toks"))
    sw = F.size(F.filter(F.col("__ltoks"), lambda x: x.isin(EN_STOPWORDS)))
    total_len = F.aggregate(
        F.transform(F.col("__toks"), lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    staged = staged.select(
        "*",
        n.alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(F.round(sw.cast("double") / n.cast("double"), 6))
        .alias("stopword_ratio"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(F.round(total_len / n.cast("double"), 6))
        .alias("mean_word_len"),
        fingerprint(c).alias("fingerprint"),
    )
    mwl, swr, pr = (
        F.col("mean_word_len"),
        F.col("stopword_ratio"),
        F.col("punct_ratio"),
    )
    len_term = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(0.4)).otherwise(F.lit(0.1))
    sw_term = F.least(swr * 4.0, F.lit(1.0)) * 0.4
    punct_term = (F.lit(1.0) - F.least(pr * 5.0, F.lit(1.0))) * 0.2
    return staged.select(
        "*",
        F.round(len_term + sw_term + punct_term, 6).alias("quality"),
        F.when(swr >= 0.05, F.lit("en")).otherwise(F.lit("unk")).alias("lang_pred"),
    ).drop("__toks", "__ltoks")


def corpus_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
) -> DataFrame:
    """Per-group corpus summary: doc/token totals, vocabulary size, and
    mean document length.

    The vocabulary count is the scale-sensitive piece — a COUNT(DISTINCT
    word) per group, which Spark executes as a two-level aggregate
    (partial distinct on (group, word) map-side, then the per-group
    count): no collected vocabulary, no driver state, safe at any corpus
    size. Everything else is a plain one-shuffle aggregate.
    """
    words = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
    )
    tok_stats = words.groupBy("grp").agg(
        F.count("*").alias("total_tokens"),
        F.count_distinct("word").alias("vocab"),
    )
    doc_stats = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs")
    )
    return (
        doc_stats.join(tok_stats, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_tokens",
            "vocab",
            F.round(
                F.col("total_tokens") / F.col("n_docs"), 6
            ).alias("mean_doc_tokens"),
        )
    )


#: per-language function-word tables for multi-class language ID
#: (deterministic; mirrored literally in the DuckDB oracle). Order of the
#: dict is the deterministic argmax tiebreak order (alphabetical).
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": (
        "der die das und ist ein eine zu den dem des nicht mit von für auf "
        "im es sich auch als an aus bei nach wie über so wir ihr sie er"
    ).split(),
    "en": EN_STOPWORDS,
    "es": (
        "el la los las de que y en un una es por con no para su al lo como "
        "pero sus le ya o este porque esta entre cuando muy sin sobre"
    ).split(),
    "fr": (
        "le la les de des du un une et en que qui dans ce il elle ne se pas "
        "pour sur au aux avec son sa ses mais ou par plus sans vous nous je"
    ).split(),
}


def lang_stopword_ratio(col: Column, lang: str) -> Column:
    """Fraction of (lowercased) tokens that are function words of `lang`.
    NULL text counts as empty (ratio 0.0) — the same NULL policy as the
    quality twins, and required here because `size(NULL) = -1` under
    non-ANSI mode would otherwise make every ratio 1.0."""
    toks = tokens(F.lower(F.coalesce(col, F.lit(""))))
    table = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(table, t)))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.round(hits / F.size(toks), 6)
    )


def lang_id_multi(col: Column, min_ratio: float = 0.03) -> Column:
    """Multi-class language ID: argmax of per-language function-word ratios
    (de/en/es/fr), `unk` below `min_ratio`. Pure column expressions —
    whole-stage codegen, zero shuffle; ties break alphabetically (the
    CASE order). The classic cheap n-gram/stopword classifier; extend
    LANG_STOPWORDS for more classes.

    Hot-path shape: ONE `F.aggregate` pass over the token array — each
    token does one `isin` membership test per language (the optimizer
    turns a >10-item In into a hash-set InSet, so this is 4 O(1) lookups
    per token; the r14 literal word→bitmask MAP form evaluated as a
    LINEAR scan of ~140 map entries per token under interpreted
    GetMapValue — measured 7x slower) and increments per-language
    counters in the fold accumulator; the argmax decision runs once in
    the fold's `finish` lambda. A Column expression has no let-binding,
    so naively fanning the ratio expressions out would re-evaluate the
    whole token pass per language — the single-fold shape keeps the text
    scanned exactly once. Values are identical to the per-table
    `lang_stopword_ratio` definition.
    """
    langs = sorted(LANG_STOPWORDS)
    toks = tokens(F.lower(F.coalesce(col, F.lit(""))))

    def _merge(acc, t):
        fields = [(acc["n"] + 1).alias("n")]
        for lang in langs:
            fields.append(
                (
                    acc[f"c_{lang}"]
                    + F.when(t.isin(*LANG_STOPWORDS[lang]), 1).otherwise(0)
                ).alias(f"c_{lang}")
            )
        return F.struct(*fields)

    def _finish(acc):
        n = acc["n"]
        ratios = {
            lang: F.round(acc[f"c_{lang}"] / n, 6) for lang in langs
        }
        best = F.greatest(*ratios.values())
        out = F.lit("unk")
        for lang in reversed(langs):  # CASE order: FIRST lang wins ties
            out = F.when(ratios[lang] == best, F.lit(lang)).otherwise(out)
        return F.when(
            (n == 0) | (best < min_ratio), F.lit("unk")
        ).otherwise(out)

    init = F.struct(
        F.lit(0).alias("n"),
        *[F.lit(0).alias(f"c_{lang}") for lang in langs],
    )
    return F.aggregate(toks, init, _merge, _finish)
