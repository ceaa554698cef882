"""Importance-weighted data selection (DSIR — Xie et al. 2023, "Data
Selection for Language Models via Importance Resampling").

Selects raw-corpus documents that look like a (small) target domain by
importance weight under two hashed-n-gram bag-of-words language models:

    w(doc) = mean over the doc's features of  log p_target(b) / p_raw(b)

where features are word unigrams + bigrams hashed into `n_buckets`
buckets, and each distribution is the Laplace-smoothed bucket frequency.
The deterministic variant here ranks by the weight itself (DSIR's
Gumbel-noise resample needs RNG; top-k by weight is its deterministic
limit and standard in replications).

Scale shape (100 TB posture):
- two explode + bucket-keyed partial aggregates build the distributions
  (the target side is small by construction);
- the per-bucket log-ratio table has ≤ n_buckets rows → broadcast, so
  scoring the raw corpus is one map-side join + one doc-keyed aggregate
  — the big side is never shuffled except by doc_id;
- selection is `ORDER BY weight LIMIT n` — TakeOrderedAndProject, a
  per-partition top-k + driver merge of k·partitions rows, not a global
  sort.

Cross-engine determinism: per-feature log-ratios are rounded at 6 dp and
summed as exact decimals, so the mean is partitioning- and
engine-independent (the convention shared with unigram_logprob).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from platform_spark.llmdata.dedup import md5_int
from platform_spark.llmdata.text import tokens


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    seed: str = "dsir:",
) -> DataFrame:
    """(doc_id, bucket) with repeats: word unigrams + bigrams of
    lower(trim(text)) hashed into n_buckets via the portable md5 int."""
    toked = df.select(
        F.col(id_col).alias("doc_id"), tokens(F.lower(F.col(text_col))).alias("__t")
    )
    n = F.size("__t")
    bi = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at("__t", i + 1), F.element_at("__t", i + 2)
            ),
        )
    )
    return toked.select(
        "doc_id", F.explode(F.concat(F.col("__t"), bi)).alias("__f")
    ).select("doc_id", (md5_int(F.col("__f"), seed=seed) % n_buckets).alias("bucket"))


def dsir_scores(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-document DSIR importance weight of `df` against the `target`
    domain sample. Output: (doc_id, n_features, dsir_score); documents
    with no features (empty text) emit no row."""
    raw_feats = hashed_ngram_buckets(df, text_col, id_col, n_buckets)
    tgt_feats = hashed_ngram_buckets(target, text_col, id_col, n_buckets)
    # ONE tokenize+explode pass over the raw corpus (r15): the
    # per-(doc, bucket) occurrence count is the partial aggregate BOTH
    # consumers need — the per-bucket distribution sums it and the
    # per-doc scorer weights __w by it — so the corpus no longer pays a
    # second full pass (once for the bucket counts, once for the scoring
    # join). The checkpoint holds ≤ min(n_features, n_docs*n_buckets)
    # rows, smaller than the exploded feature table by the per-doc
    # bucket-repeat factor; guide §2.3: aggregate before you shuffle.
    doc_buckets = (
        raw_feats.groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("__cnt"))
        .localCheckpoint(eager=False)
    )
    # per-bucket count tables are ≤ n_buckets rows — checkpointed so the
    # weight join and the totals below share the one pass per side
    raw_counts = (
        doc_buckets.groupBy("bucket")
        .agg(F.sum("__cnt").alias("cr"))
        .localCheckpoint(eager=False)
    )
    tgt_counts = (
        tgt_feats.groupBy("bucket")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=False)
    )
    # totals derived from the per-bucket counts (r15): sum(cr) over the
    # ≤ n_buckets count rows IS count(*) over the feature table — same
    # bigint, exactly — so neither side pays an extra full
    # tokenize+explode pass just for its total. coalesce keeps the
    # empty-input value at 0, matching count(*) semantics.
    raw_total = raw_counts.agg(
        F.coalesce(F.sum("cr"), F.lit(0)).cast("bigint").alias("tr")
    )
    tgt_total = tgt_counts.agg(
        F.coalesce(F.sum("ct"), F.lit(0)).cast("bigint").alias("tt")
    )
    # every bucket a document can hash to appears in raw_counts (raw = df),
    # so a left join from raw_counts covers the scoring domain; ct fills 0
    weights = (
        raw_counts.join(tgt_counts, "bucket", "left")
        .crossJoin(F.broadcast(raw_total))
        .crossJoin(F.broadcast(tgt_total))
        .select(
            "bucket",
            F.round(
                F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                     / (F.col("tt") + F.lit(float(n_buckets))))
                    / ((F.col("cr") + F.lit(1.0))
                       / (F.col("tr") + F.lit(float(n_buckets))))
                ),
                6,
            )
            .cast("decimal(18,8)")
            .alias("__w"),
        )
    )
    # scoring over the (doc, bucket, __cnt) partial aggregate: summing
    # __w * __cnt (exact decimal * bigint) equals adding __w once per
    # occurrence — decimal arithmetic is exact integer math — so the
    # cast-to-double mean is bit-identical to the per-occurrence sum
    return (
        doc_buckets.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("__cnt").cast("bigint").alias("n_features"),
            F.round(
                F.sum(F.col("__w") * F.col("__cnt")).cast("double")
                / F.sum("__cnt"),
                6,
            ).alias("dsir_score"),
        )
    )


def dsir_select(
    df: DataFrame,
    target: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """Top-n documents by DSIR weight (ties toward lower doc_id —
    deterministic across runs/engines). TakeOrderedAndProject: bounded
    driver state, no global sort."""
    return (
        dsir_scores(df, target, text_col, id_col, n_buckets)
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(n)
    )
