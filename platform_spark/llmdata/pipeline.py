"""End-to-end corpus curation: the composition a training-data team runs.

Chains the individually-gated operators — clean → redact → quality-gate →
dedup (exact-collapse fast path) → decontaminate → split → pack — so a
user gets the whole curation flow with one call. The outputs are lazy
frames, but building them runs jobs: the quality-scored documents are
materialized once (an eager local checkpoint), the near-dup cluster step
materializes its pair graph and resolves its components, and the lazy
boundaries whose plans hold a shuffle run their map stages (the
`curate_corpus` docstring lists them).

Every stage is the already-oracle-verified operator; this module only
wires contracts together (doc_id/text in, curated table + per-stage
artifacts out). At 100 TB the expensive stages keep their audited shapes:
dedup collapses exact copies before any similarity work, decontamination
broadcasts the bench index, packing windows per hash bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_corpus(
    docs: DataFrame,
    bench: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_threshold: float = 0.2,
    decontam_k: int = 8,
    pack_budget: int = 256,
) -> dict[str, DataFrame]:
    """Run the full curation flow; returns every intermediate stage keyed
    by name:

    - ``cleaned``      boilerplate-filtered + PII-redacted text
    - ``quality``      per-doc metrics with ``passes_all``
    - ``clusters``     near-dup clusters over the quality-passing docs
    - ``deduped``      one keeper doc per cluster
    - ``contaminated`` per-doc bench collisions (empty frame if no bench)
    - ``curated``      deduped minus contaminated, with split assignment
    - ``packed``       (doc_id, bin) sequence-packing of the train split

    The quality rules are scored row-wise once per document, over a bound
    word array (`quality_rules_rowwise` rows without its doc-keyed
    shuffles), into one ``scored`` boundary of (doc_id, metrics, rule
    flags, passes_all, text); ``cleaned`` and ``quality`` are projections
    of it and the passing set is its ``passes_all`` filter, so nothing
    downstream re-runs scan → clean → quality.

    The stage boundaries are local checkpoints, each read by several
    downstream branches that would otherwise re-run the whole upstream
    chain. Jobs this call runs (16 on the benchmark's curation pass):
    the ``scored`` checkpoint, eager (its count, plus the map stage of
    the widening exchange on a single-split source); the near-dup graph
    (clusters.py: the rep relation's per-content aggregate, the rep-pair
    checkpoint with its doc-count, hot-shingle and candidate-join stages,
    then one stats aggregate and one collect to resolve the labels); and
    the map stages of the lazy boundaries built here — the cluster
    labels, ``deduped`` and ``curated`` (filled by the first action that
    reads them). Forcing the outputs then reads those boundaries. Every
    checkpoint is released with the last frame that reads it, so
    repeated calls in one session pin no blocks. Scale trade-off, the
    stance of the checkpoints in clusters.py: a local checkpoint has no
    lineage to recompute a lost block from, so losing an executor fails
    the job; at 100 TB a real pipeline writes these boundaries to tables
    instead.
    """
    from platform_spark.llmdata.cleaning import (
        _METRICS,
        QUALITY_RULES,
        _quality_scored,
        filter_boilerplate_lines,
        redact_pii,
    )
    from platform_spark.llmdata.clusters import dedup_clusters_fast
    from platform_spark.llmdata.decontam import contamination
    from platform_spark.llmdata.sampling import pack_sequences
    from platform_spark.llmdata.splits import assign_splits
    from platform_spark.llmdata.text import token_count

    base = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))

    cleaned_text = (
        filter_boilerplate_lines(base)
        .select("doc_id", F.col("clean_text").alias("text"))
        .transform(lambda d: redact_pii(d))
        .select("doc_id", F.col("text_redacted").alias("text"))
    )
    scored = _quality_scored(cleaned_text, "text", "doc_id", "text").localCheckpoint(
        eager=True
    )
    cleaned = scored.select("doc_id", "text")
    quality = scored.select("doc_id", *_METRICS, *QUALITY_RULES, "passes_all")
    passing = scored.filter("passes_all").select("doc_id", "text")

    clusters = dedup_clusters_fast(passing, threshold=ngram_threshold)
    keepers = clusters.filter("is_keeper").select("doc_id")
    # docs never reaching the similarity index (too short / all-hot) have no
    # cluster row: they are trivially unique, keep them
    deduped = passing.join(
        clusters.filter(~F.col("is_keeper")).select("doc_id"), "doc_id", "left_anti"
    ).localCheckpoint(eager=False)

    if bench is not None:
        contaminated = contamination(deduped, bench, k=decontam_k, min_common=1)
        curated_docs = deduped.join(
            contaminated.select("doc_id"), "doc_id", "left_anti"
        )
    else:
        contaminated = deduped.limit(0).select(
            "doc_id", F.lit(0).cast("bigint").alias("n_common")
        )
        curated_docs = deduped

    curated = assign_splits(curated_docs).localCheckpoint(eager=False)
    train = curated.filter(F.col("split") == "train").select(
        "doc_id", "text", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(train, "n_tokens", pack_budget)
    return {
        "cleaned": cleaned,
        "quality": quality,
        "clusters": clusters,
        "deduped": deduped,
        "contaminated": contaminated,
        "curated": curated,
        "packed": packed,
        "keepers": keepers,
    }


def drop_report(stages: dict[str, DataFrame]) -> DataFrame:
    """Per-document curation provenance: WHY each input doc is absent
    from the curated output — the audit table every corpus release needs
    ("why was my page dropped?").

    ``(doc_id, stage 'quality'|'dedup'|'decontaminated', detail)``:
    quality rows name every failing rule (comma-joined, fixed order);
    dedup rows carry the keeper doc that superseded the duplicate;
    decontamination rows carry the worst-colliding bench id. Stages are
    disjoint by construction (each runs on the previous stage's
    survivors), so the union IS the first-dropping stage. Built entirely
    from the lazy stage frames `curate_corpus` already returns — no
    recomputation beyond the checkpointed boundaries.
    """
    from platform_spark.llmdata.cleaning import QUALITY_RULES

    quality = stages["quality"]
    fails = F.concat_ws(
        ",",
        *[F.when(~F.col(r), F.lit(r)) for r in QUALITY_RULES],
    )
    q_drops = quality.filter(~F.col("passes_all")).select(
        "doc_id", F.lit("quality").alias("stage"), fails.alias("detail")
    )
    clusters = stages["clusters"]
    d_drops = clusters.filter(~F.col("is_keeper")).select(
        "doc_id",
        F.lit("dedup").alias("stage"),
        F.concat(F.lit("kept:"), F.col("cluster_id").cast("string")).alias(
            "detail"
        ),
    )
    contaminated = stages["contaminated"]
    c_cols = contaminated.columns
    worst = (
        F.col("worst_bench_id").cast("string")
        if "worst_bench_id" in c_cols
        else F.lit(None).cast("string")
    )
    c_drops = contaminated.select(
        "doc_id",
        F.lit("decontaminated").alias("stage"),
        F.concat(F.lit("bench:"), worst).alias("detail"),
    )
    return q_drops.unionByName(d_drops).unionByName(c_drops)


def export_dataset(
    curated: DataFrame,
    root: str,
    text_col: str = "text",
    split_col: str = "split",
) -> dict:
    """Materialize a curated corpus as the training-data handoff layout:
    one parquet directory per split (`root/split=train/...` via
    partitionBy, so downstream readers partition-prune on split) plus a
    `_manifest.json` with per-split document/token/byte totals — the
    dataset card numbers every corpus release ships with.

    The stats come from ONE aggregate over the same frame that was
    written (token counts via the whitespace tokenizer, UTF-8 byte
    lengths); nothing is collected except the few manifest rows."""
    import json
    import os

    from platform_spark.llmdata.text import tokens

    curated.write.partitionBy(split_col).mode("overwrite").parquet(root)
    stats = (
        curated.groupBy(split_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokens(F.col(text_col)))).alias("n_tokens"),
            F.sum(F.octet_length(F.col(text_col))).alias("n_bytes"),
        )
        .collect()
    )
    manifest = {
        "splits": {
            r[split_col]: {
                "n_docs": r["n_docs"],
                "n_tokens": int(r["n_tokens"] or 0),
                "n_bytes": int(r["n_bytes"] or 0),
            }
            for r in stats
        }
    }
    manifest["total_docs"] = sum(s["n_docs"] for s in manifest["splits"].values())
    manifest["total_tokens"] = sum(
        s["n_tokens"] for s in manifest["splits"].values()
    )
    with open(os.path.join(root, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
