"""Corpus-cleaning operators: PII redaction and rule-based quality gates.

Training-data pipelines scrub identifiable strings and drop low-quality
documents before anything reaches a model. Both operators here are pure
column expressions — no UDFs, no shuffle — so at 100 TB they run inside
whole-stage codegen directly on top of the vectorized parquet scan, and
Catalyst pushes any downstream `passes_all` filter into the scan plan.

Everything is closed-form and engine-portable (same regex / arithmetic
semantics in DuckDB), so the gate oracles reproduce results bit-exactly.

The quality rules follow the shape of the published Gopher/C4 heuristics
(word-count bounds, word-length sanity, repetition caps) with thresholds
calibrated to the synthetic corpus; swap thresholds per-corpus in
production.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from platform_spark.llmdata.text import widen_small_scan

# Patterns are deliberately RE2-compatible (no backrefs/lookaround) so the
# identical string works in Spark (Java regex) and DuckDB (RE2). Applied
# in THIS order; each count is taken on the text as it stands before that
# pattern's redaction, i.e. n_<kind> == number of redactions performed.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://\S+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IPV4>"),
    # phone LAST: its loose digit/punct class would also swallow IPv4s
    ("phone", r"\+?\d[\d() .-]{6,}\d", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Sequentially redact URLs, emails, IPv4s, and phone numbers.

    Adds `out_col` (the scrubbed text) and one `n_<kind>` count per
    pattern. Counts are per-stage (on the partially-redacted text), so
    they sum to the total number of replacements made.

    Map-only and regex-dense: the widen below lifts a single-split
    source to session parallelism (guide §2.5; no-op at scale).
    """
    df = widen_small_scan(df)
    cur = df.withColumn(out_col, F.col(text_col))
    for kind, pat, token in PII_PATTERNS:
        # layered selects: count the CURRENT redaction state once, then
        # rewrite — keeps each regex single-evaluation per stage
        cur = cur.withColumn(f"n_{kind}", F.regexp_count(F.col(out_col), F.lit(pat)))
        cur = cur.withColumn(out_col, F.regexp_replace(out_col, pat, token))
    return cur


def collapse_repeats(
    df: DataFrame, text_col: str = "text", out_col: str = "text_clean"
) -> DataFrame:
    """Collapse runs of consecutively repeated tokens to one occurrence
    (`uniq` per document) — the cheapest repetition scrub generation
    artifacts and boilerplate need.

    Adds `out_col` and `n_removed`. Pure array expressions over ONE
    materialized token array (a lambda over a column *reference* — never
    re-embedding the split expression, which would go quadratic); no
    shuffle, runs at scan speed.
    """
    toked = df.withColumn("__toks", F.split(F.trim(F.col(text_col)), r"\s+"))
    # F.get is 0-based and takes a Column index: the predecessor of lambda
    # index i is get(toks, i - 1); i == 0 has no predecessor and is kept
    kept = F.filter(
        F.col("__toks"),
        lambda x, i: (i == 0) | (x != F.get(F.col("__toks"), i - 1)),
    )
    return (
        toked.withColumn(out_col, F.array_join(kept, " "))
        .withColumn("n_removed", F.size("__toks") - F.size(kept))
        .drop("__toks")
    )


#: quality-rule thresholds (calibrated to the synthetic corpus: word
#: counts 21-88, distinct-word ratio 0.32-0.75, top-word ratio 0.07-0.14)
MIN_WORDS = 40
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_DISTINCT_RATIO = 0.45
MAX_TOP_WORD_RATIO = 0.10


#: the metric columns every quality entry point emits after the id, in order
_METRICS = ("n_words", "mean_word_len", "distinct_ratio", "top_word_ratio")
#: the rule booleans, in output order (``passes_all`` is their AND)
QUALITY_RULES = ("word_count_ok", "mean_word_len_ok", "repetition_ok", "top_word_ok")


def _rule_flags(n_words, mean_len, distinct_ratio, top_ratio) -> list[Column]:
    """The QUALITY_RULES booleans over the four metrics, unnamed."""
    return [
        (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS),
        (mean_len >= MIN_MEAN_WORD_LEN) & (mean_len <= MAX_MEAN_WORD_LEN),
        distinct_ratio >= MIN_DISTINCT_RATIO,
        top_ratio <= MAX_TOP_WORD_RATIO,
    ]


def _with_rule_flags(metrics: DataFrame) -> DataFrame:
    """`metrics` (the id column, then _METRICS) plus QUALITY_RULES and
    passes_all."""
    flags = _rule_flags(*[F.col(c) for c in _METRICS])
    return metrics.select(
        "*", *[f.alias(name) for f, name in zip(flags, QUALITY_RULES)]
    ).withColumn("passes_all", reduce(and_, [F.col(n) for n in QUALITY_RULES]))


def quality_rules(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher/C4-style per-document quality rules.

    Emits the measured metrics (rounded at 6dp for engine parity) and one
    boolean per rule plus `passes_all`:

    - `word_count_ok`: MIN_WORDS <= n_words <= MAX_WORDS
    - `mean_word_len_ok`: mean word length within [3, 10]
    - `repetition_ok`: distinct-word ratio >= 0.45 (word-salad cap)
    - `top_word_ok`: most frequent word <= 10% of all words

    The top-word frequency needs a per-(doc, word) count — an explode +
    two partial-aggregating shuffles keyed on doc_id, NOT a per-row n²
    expression, so it scales with corpus size like any other aggregate.
    """
    # NULL text behaves as '' (one empty-string "word"): the explode-side
    # aggregate would otherwise DROP null-text docs at the inner join while
    # the rowwise twin emits NULL metrics — the three entry points must
    # agree row-for-row (equality pytest-pinned, incl. the NULL case)
    words = df.select(F.col(id_col), _quality_words(F.col(text_col)).alias("__words"))
    base = words.select(
        id_col,
        F.size("__words").alias("n_words"),
        F.round(
            F.aggregate(
                "__words", F.lit(0.0), lambda acc, w: acc + F.length(w)
            )
            / F.size("__words"),
            6,
        ).alias("mean_word_len"),
        F.round(
            F.size(F.array_distinct("__words")) / F.size("__words"), 6
        ).alias("distinct_ratio"),
    )
    top = (
        words.select(id_col, F.explode("__words").alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count("*").alias("__n"))
        .groupBy(id_col)
        .agg(
            F.round(F.max("__n") / F.sum("__n"), 6).alias("top_word_ratio")
        )
    )
    m = base.join(top, id_col)
    return _with_rule_flags(m.select(id_col, *_METRICS))


# -- line-level corpus operators -------------------------------------------
# Web-corpus pipelines (C4, RefinedWeb, Gopher) clean at LINE granularity
# before any document-level dedup: a line repeated across many pages is
# boilerplate (nav bars, cookie banners), and per-line structural rules
# drop junk the document-level metrics average away.

#: substrings that mark a line as boilerplate (case-insensitive) — the
#: published C4 rules blacklist cookie/javascript notices the same way
BOILERPLATE_TOKENS: tuple[str, ...] = (
    "subscribe",
    "cookie",
    "copyright",
    "javascript",
)

MIN_LINE_WORDS = 4
MAX_LINE_SYMBOL_RATIO = 0.2


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-level line deduplication (the C4 'three-sentence' /
    RefinedWeb line-dedup rule, at line granularity): drop every line
    occurring >= `min_count` times ACROSS the corpus, then rebuild each
    document from its surviving lines in original order.

    Output: (doc_id, clean_text, n_lines_kept, n_lines_removed). A doc
    whose every line is boilerplate comes back as '' (kept=0), not as a
    dropped row.

    Scale shape: posexplode → map-side-partial count on the line hash →
    anti join → per-doc rebuild. The duplicate-line set is the only wide
    exchange; per-doc state (collect_list) is bounded by document size.
    Skewed hot lines partial-aggregate before the shuffle, and AQE's skew
    handling covers the anti-join side at 100 TB.
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    dup = (
        lines.groupBy("line")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= min_count)
        .select("line")
    )
    kept = lines.join(dup, "line", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = lines.groupBy("doc_id").agg(F.count("*").alias("__n_lines"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines_kept", F.lit(0)).cast("bigint").alias("n_lines_kept"),
        (F.col("__n_lines") - F.coalesce("n_lines_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_lines_removed"),
    )


def _line_ok(line: Column, min_words: int) -> Column:
    """Engine-portable per-line keep rule: enough words, no boilerplate
    marker, bounded symbol ratio."""
    trimmed = F.trim(line)
    n_words = F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    lowered = F.lower(line)
    has_marker = F.lit(False)
    for tok in BOILERPLATE_TOKENS:
        has_marker = has_marker | lowered.contains(tok)
    symbol_ratio = F.when(F.length(line) == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(line, "[A-Za-z0-9 ]", ""))
        / F.length(line)
    )
    return (
        (n_words >= min_words)
        & ~has_marker
        & (F.round(symbol_ratio, 6) <= MAX_LINE_SYMBOL_RATIO)
    )


def filter_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = MIN_LINE_WORDS,
    sep: str = "\n",
) -> DataFrame:
    """Per-document structural line filter (C4-style): keep a line iff it
    has >= `min_words` words, carries no boilerplate marker
    (BOILERPLATE_TOKENS, case-insensitive), and is <= 20% symbols.

    Pure per-row array expressions — no explode, NO shuffle at all: at
    100 TB this runs inside whole-stage codegen at scan parallelism,
    exactly like redact_pii (a single-split LOCAL source widens first,
    guide §2.5 — a no-op whenever the scan is already parallel).
    """
    df = widen_small_scan(df)
    lines = F.split(F.col(text_col), sep)
    kept = F.filter(lines, lambda l: _line_ok(l, min_words))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(kept, sep).alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_lines_kept"),
        (F.size(lines) - F.size(kept)).cast("bigint").alias("n_lines_removed"),
    )


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style within-document n-gram repetition metrics.

    For each n in `ns` (published filter uses 2..4):
    - ``top_{n}gram_char_frac``: characters covered by the single MOST
      FREQUENT n-gram (its count × its length / doc chars, capped at 1;
      count ties break toward the longer gram so the metric is
      deterministic) — the Gopher definition: argmax by count first,
      never a longer-but-rarer gram
    - ``dup_{n}gram_char_frac``: characters covered by ALL n-grams that
      occur more than once (sum of count × length over duplicates / doc
      chars, capped at 1)

    Both follow the standard open implementations' approximation of the
    Gopher rule (overlaps counted multiply, hence the cap). Scale shape
    (r15): ONE shuffle total — the doc rows are hash-partitioned by
    doc_id BEFORE the gram explode, so all three aggregation levels
    (doc×n×gram, doc×n, doc) satisfy their clustering from that single
    exchange and the shuffled bytes are tokenized-text-sized instead of
    ~5x gram-table-sized; explode_outer keeps too-short docs as a
    null-gram row, which removes the join back against the input (and
    its second scan) entirely. Per-doc state only, no corpus-wide
    structures.
    """
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).alias("__chars"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__w"),
    ).repartition("doc_id")

    def grams(n: int) -> Column:
        size = F.size("__w")
        idx = F.sequence(F.lit(0), F.greatest(size - n, F.lit(-1)))
        built = F.transform(
            idx,
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(
                    " ", *[F.element_at("__w", i + j + 1) for j in range(n)]
                ).alias("gram"),
            ),
        )
        return F.when(size < n, F.array().cast(
            "array<struct<n:int,gram:string>>"
        )).otherwise(built)

    exploded = toked.select(
        "doc_id",
        "__chars",
        F.explode_outer(F.concat(*[grams(n) for n in ns])).alias("__g"),
    ).select("doc_id", "__chars", F.col("__g.n").alias("n"), F.col("__g.gram").alias("gram"))
    counted = exploded.groupBy("doc_id", "n", "gram").agg(
        F.count("*").alias("cnt"), F.first("__chars").alias("__chars")
    )
    # argmax-by-count with a deterministic length tie-break, as ONE packed
    # bigint max (cnt < 2^31, len < 2^32): lexicographic (cnt, len) max ==
    # max(cnt<<32 | len); unpack with shift/mask (integer-exact — a double
    # division would lose bits near 2^63)
    pack = F.lit(1 << 32).cast("bigint")
    per_n = counted.groupBy("doc_id", "n").agg(
        F.max(F.col("cnt") * pack + F.length("gram")).alias("__packed"),
        F.coalesce(
            F.sum(
                F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram"))
            ),
            F.lit(0),
        ).alias("dup_score"),
        F.first("__chars").alias("__chars"),
    ).withColumn(
        "top_score",
        F.shiftrightunsigned(F.col("__packed"), 32)
        * F.col("__packed").bitwiseAND(F.lit((1 << 32) - 1)),
    )

    def frac(score: Column) -> Column:
        return F.round(
            F.when(F.col("__chars") == 0, F.lit(0.0)).otherwise(
                F.least(F.lit(1.0), score.cast("double") / F.col("__chars"))
            ),
            6,
        )

    aggs = []
    for n in ns:
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, frac(F.col("top_score")))),
                F.lit(0.0),
            ).alias(f"top_{n}gram_char_frac")
        )
        aggs.append(
            F.coalesce(
                F.max(F.when(F.col("n") == n, frac(F.col("dup_score")))),
                F.lit(0.0),
            ).alias(f"dup_{n}gram_char_frac")
        )
    # docs too short for ANY n arrive as a single null-gram row via
    # explode_outer (null n matches no F.when arm → the aggs' coalesce
    # yields the all-zero metrics), so every input doc already has
    # exactly one output row — no join back against the input needed
    return per_n.groupBy("doc_id").agg(*aggs)


def _quality_words(text: Column) -> Column:
    """The quality rules' word array of `text`; NULL text behaves as ''."""
    return F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")


def _rowwise_metrics(words: Column) -> list[Column]:
    """(n_words, mean_word_len, distinct_ratio, top_word_ratio) of the
    `_quality_words` array `words` as per-row expressions, rounded like
    quality_rules. Every metric references `words`, so it must be bound
    (a column of its own select, or a lambda variable), never inlined.
    The one aggregate-looking metric, top-word ratio, is the longest run
    of equal tokens in the SORTED token array (a single O(n log n) fold
    per row)."""
    n_words = F.size(words)
    mean_len = F.round(
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w)) / n_words,
        6,
    )
    distinct_ratio = F.round(F.size(F.array_distinct(words)) / n_words, 6)
    run = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return [n_words, mean_len, distinct_ratio, F.round(run / n_words, 6)]


def _quality_scored(
    df: DataFrame, text_col: str, id_col: str, *carry: str
) -> DataFrame:
    """(id_col, *_METRICS, *carry, *QUALITY_RULES, passes_all): the
    row-wise quality rules with `carry` columns of `df` passed through.
    The word array is bound once per row, as a column of its own select
    that every metric reads."""
    words = df.select(
        F.col(id_col), *carry, _quality_words(F.col(text_col)).alias("__words")
    )
    metrics = _rowwise_metrics(F.col("__words"))
    return _with_rule_flags(
        words.select(
            id_col, *[m.alias(name) for m, name in zip(metrics, _METRICS)], *carry
        )
    )


def quality_rules_rowwise(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """`quality_rules` as pure per-row expressions — IDENTICAL output
    columns/values (equality pytest-pinned), zero shuffle.

    Use this twin on unbounded streams (continuous curation) or wherever
    an extra exchange is unwanted; the batch version's explode+agg shape
    remains better when the plan already shuffles on doc_id.
    """
    return _quality_scored(df, text_col, id_col)


def quality_passes_expr(text: Column) -> Column:
    """`passes_all` as ONE column expression (same rounded metrics as
    quality_rules / quality_rules_rowwise — equality pytest-pinned).
    For streams and filters where a separate metrics frame is unwanted.
    NULL text behaves as '' (fails the word-count rule → false, not NULL),
    matching both quality_rules twins. The word array is bound once, as
    the lambda variable over a one-element array: a filter is pushed
    below the projection that would stage it, so a staged column would
    be substituted back into every metric."""
    return F.exists(
        F.array(_quality_words(text)),
        lambda words: reduce(and_, _rule_flags(*_rowwise_metrics(words))),
    )


# -- HTML → text extraction (C4-style) --------------------------------------

#: entity unescapes applied after tag removal (RE2-safe literal patterns)
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # LAST, so "&amp;lt;" decodes to "&lt;" not "<"
]


def strip_html(col: Column) -> Column:
    """Plain text from HTML markup — the extraction step every web-corpus
    pipeline (C4, RefinedWeb) runs before cleaning. Pure chained
    `regexp_replace` column expressions: zero shuffle, whole-stage codegen,
    and RE2-compatible patterns so the DuckDB oracle reproduces it
    bit-exactly.

    Order: drop script/style subtrees and comments entirely, replace every
    remaining tag with a space, decode the common entities (``&amp;``
    last), collapse whitespace, trim.
    """
    out = F.regexp_replace(col, r"(?is)<script\b[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style\b[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def extract_html_text(
    df: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Dataset-level wrapper: adds ``out_col`` = stripped text."""
    return df.withColumn(out_col, strip_html(F.col(html_col)))


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """zlib compressed-size / raw-size per document — the cheap
    repetitiveness signal (highly compressible ⇒ boilerplate/repetition;
    used alongside the Gopher rules). zlib is deterministic at a fixed
    level, so results are reproducible across runs and shards, but not
    SQL-expressible — this is an Arrow-batched pandas UDF (IO-free pure
    CPU, scan-parallel), pinned by spec pytest rather than a DuckDB
    oracle. Output: (doc_id, raw_bytes, compressed_bytes, compression_ratio);
    empty/NULL text → ratio NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<raw:long,comp:long>")
    def _sizes(texts: pd.Series) -> pd.DataFrame:
        import zlib

        raws, comps = [], []
        for t in texts:
            if t is None:
                raws.append(0)
                comps.append(0)
            else:
                b = t.encode("utf-8")
                raws.append(len(b))
                comps.append(len(zlib.compress(b, level)))
        return pd.DataFrame({"raw": raws, "comp": comps})

    staged = df.select(
        F.col(id_col).alias("doc_id"), _sizes(F.col(text_col)).alias("s")
    )
    return staged.select(
        "doc_id",
        F.col("s.raw").alias("raw_bytes"),
        F.col("s.comp").alias("compressed_bytes"),
        F.when(F.col("s.raw") == 0, F.lit(None)).otherwise(
            F.round(F.col("s.comp") / F.col("s.raw"), 6)
        ).alias("compression_ratio"),
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    out_col: str = "text_norm",
) -> DataFrame:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) of a text column — the
    canonicalization step that runs BEFORE any hash-based dedup, so that
    'é' (precomposed) and 'e'+U+0301 (decomposed) — byte-different,
    render-identical — collapse to one content hash instead of evading
    exact/MinHash dedup.

    This is an Arrow-batched pandas UDF by necessity, not convenience:
    Spark has no built-in Unicode-normalization expression (the UCD
    tables live in the JVM's java.text.Normalizer, unexposed to SQL), so
    this is the documented drop-to-pandas case. `pandas.Series.str
    .normalize` wraps unicodedata — one C-backed call per Arrow batch,
    no per-row Python. Zero shuffle: a pure map over the scan.

    The gate oracle pins NFC against DuckDB's `nfc_normalize` (verified
    codepoint-identical to unicodedata for composition cases); the other
    forms are pytest-pinned against unicodedata directly.

    Adds `out_col` plus `changed` (true when normalization altered the
    string; NULL text → NULL out, changed false).
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    return df.withColumn(out_col, _norm(F.col(text_col))).withColumn(
        "changed",
        F.when(F.col(text_col).isNull(), F.lit(False)).otherwise(
            F.col(out_col) != F.col(text_col)
        ),
    )


def calibrate_scores(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group ROBUST score calibration: the cross-source comparability
    step before a single global quality threshold — classifier/heuristic
    scores drift per source or language, so raw-score cutoffs keep the
    wrong documents. Each score becomes a robust z:
    (x - median_g) / (1.4826 * MAD_g), with MAD the median absolute
    deviation (consistency constant 1.4826 makes z sigma-scaled under
    normality). Median/MAD resist the heavy tails quality scores have,
    where mean/stddev would let one outlier shift a whole source.

    Scale shape: two grouped percentile aggregates (one row per group
    each) broadcast back onto the corpus — the big side never shuffles.
    HONEST CAVEAT on the centers: Spark's exact `percentile` buffers a
    group's values in the aggregation state, so the default
    ``exact=True`` (which the gate needs for bit-exact `quantile_cont`
    oracle parity) is for group sizes that fit an executor. At 100 TB
    pass ``exact=False``: `percentile_approx` (bounded-memory KLL-style
    sketch, rank error ≤ 1/accuracy) replaces both medians, everything
    else is unchanged — a robust-z center does not need exact rank.
    z rounds at 6 dp; degenerate groups (MAD 0) emit NULL z rather than
    infinities.

    Output: (id, group, score, robust_z).
    """
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.col(score_col).cast("double").alias("score"),
    )
    if exact:
        med_agg = F.expr("percentile(score, 0.5)")
        mad_agg = F.expr("percentile(__ad, 0.5)")
    else:
        med_agg = F.percentile_approx("score", 0.5, accuracy).cast("double")
        mad_agg = F.percentile_approx("__ad", 0.5, accuracy).cast("double")
    med = base.groupBy("grp").agg(med_agg.alias("__med"))
    dev = base.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("score") - F.col("__med")).alias("__ad")
    )
    mad = dev.groupBy("grp").agg(mad_agg.alias("__mad"))
    return (
        base.join(F.broadcast(med), "grp")
        .join(F.broadcast(mad), "grp")
        .select(
            "id",
            F.col("grp").alias(group_col),
            "score",
            F.when(
                F.col("__mad") > 0.0,
                F.round(
                    (F.col("score") - F.col("__med"))
                    / (F.lit(1.4826) * F.col("__mad")),
                    6,
                ),
            ).alias("robust_z"),
        )
    )


# -- URL canonicalization ----------------------------------------------------
# Web corpora dedup on the URL before anything touches text (FineWeb's URL
# dedup, C4's page identity): the same page arrives as http/https, with
# tracking params, fragments, default ports, mixed-case hosts, trailing
# slashes. Canonicalize with deterministic string surgery only (regexp +
# array ops — every rule has a DuckDB mirror, so the oracle replays the
# exact transformation; Spark's parse_url is deliberately avoided).

#: query parameters that never change page identity
TRACKING_PARAMS = ("utm_", "fbclid", "gclid", "msclkid", "ref_src")


def _is_tracking(p: Column) -> Column:
    out = F.lit(False)
    for t in TRACKING_PARAMS:
        cond = (
            p.startswith(t)
            if t.endswith("_")
            else (p == t) | p.startswith(t + "=")
        )
        out = out | cond
    return out


def normalize_url(url: Column) -> Column:
    """Canonical URL: lowercase scheme+host, default :80/:443 ports
    stripped, fragment dropped, tracking query params removed and the
    rest SORTED (byte order), `?` dropped when no params survive, one
    trailing slash stripped from a non-root path. NULL stays NULL."""
    # split once: head = scheme://host[:port], tail = /path?query#fragment
    head = F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)", 1)
    tail = F.substring(url, F.length(head) + F.lit(1), F.lit(2_000_000))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^/?#]*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/?#]*):443$", r"$1")
    tail = F.regexp_replace(tail, r"#.*$", "")          # fragment
    path = F.regexp_replace(tail, r"\?.*$", "")
    query = F.when(
        tail.contains("?"), F.regexp_replace(tail, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~_is_tracking(p),
        )
    )
    path = F.regexp_replace(path, r"^(/.+?)/$", r"$1")  # trailing slash
    rebuilt = F.concat(
        head,
        path,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )
    return F.when(url.isNull(), F.lit(None).cast("string")).otherwise(rebuilt)


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    prefer_col: str | None = None,
    canonical_col: str | None = None,
) -> DataFrame:
    """One row per canonical URL: the smallest id wins, or the highest
    ``prefer_col`` (quality score, length) with id as the tiebreak. One
    hash aggregate on the 100 TB side — the URL-identity dedup that runs
    BEFORE any content similarity work. Rows with NULL url are all kept
    (no identity to collide on). The keeper semi-join is on
    (canonical url, id), so duplicate ids across different pages cannot
    smuggle extra rows through. ``canonical_col`` keeps the computed
    canonical URL as an output column instead of recomputing it."""
    canon = df.withColumn("__cu", normalize_url(F.col(url_col)))
    keep_cu = canonical_col is not None
    out_cu = canonical_col or "__cu"
    nul = canon.filter(F.col("__cu").isNull())
    nul = (
        nul.withColumnRenamed("__cu", canonical_col) if keep_cu else nul.drop("__cu")
    )
    # keeper order: highest prefer (NULL prefer loses), then SMALLEST id —
    # keeper_rank encodes both the never-negate-the-id and the
    # NULL-score-loses rules (see its docstring).
    if prefer_col is not None:
        from pyspark.sql.types import NumericType

        if not isinstance(canon.schema[prefer_col].dataType, NumericType):
            raise TypeError(
                f"prefer_col {prefer_col!r} must be numeric "
                f"(got {canon.schema[prefer_col].dataType.simpleString()}); "
                "the keeper order negates it"
            )
    from platform_spark.llmdata.dedup import keeper_rank

    rank = (
        keeper_rank(F.col(prefer_col), F.col(id_col))
        if prefer_col
        else F.struct(F.col(id_col).alias("i"))
    )
    best = (
        canon.filter(F.col("__cu").isNotNull())
        .groupBy("__cu")
        .agg(F.min(F.struct(rank.alias("r"), F.col(id_col).alias("id"))).alias("__w"))
        .select("__cu", F.col("__w.id").alias(id_col))
    )
    kept = canon.join(best, ["__cu", id_col], "left_semi")
    kept = (
        kept.withColumnRenamed("__cu", canonical_col) if keep_cu else kept.drop("__cu")
    )
    return kept.unionByName(nul)


def normalize_whitespace(col: Column) -> Column:
    """Whitespace/control hygiene (the pre-tokenizer pass web text needs):
    CRLF/CR → LF, C0 controls (except tab/newline) and DEL and
    zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) stripped, trailing
    spaces/tabs removed per line, 3+ newlines collapsed to a blank line,
    outer whitespace trimmed. Pure regexp chain (zero shuffle); every
    pattern is literal-class only so the DuckDB oracle mirrors it
    byte-for-byte. NULL stays NULL."""
    out = F.regexp_replace(col, "\r\n", "\n")
    out = F.regexp_replace(out, "\r", "\n")
    out = F.regexp_replace(
        out, "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f​‌‍﻿]", ""
    )
    out = F.regexp_replace(out, "[ \t]+\n", "\n")
    out = F.regexp_replace(out, "\n{3,}", "\n\n")
    return F.trim(out)
