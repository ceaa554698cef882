"""Continuous corpus curation: the batch pipeline's streaming twin.

Every stage is chosen for streaming-legality in append mode, and the
whole flow stays ONE linear plan (no stream-stream joins, which would
need their own watermark bookkeeping):

- clean + redact + quality gate: pure row/column transforms — the line
  filter and `passes_all` are single column expressions
  (`cleaning._line_ok`, `cleaning.quality_passes_expr`, the latter
  equality-pinned against the batch `quality_rules` by pytest);
- decontamination: the benchmark shingle-hash set is computed ONCE from
  the (static, small by nature) eval set and inlined as an array
  literal; the per-row `arrays_overlap` check is stateless. For very
  large benchmark sets run the batch `contamination()` inside
  foreachBatch instead — the inline form is for eval sets that fit
  comfortably in a literal (≲100k shingles);
- exact dedup: `dropDuplicatesWithinWatermark` on the content hash —
  BOUNDED state, evicted by the watermark (streaming/dedup_stream.py).

Near-dup clustering is corpus-global by definition and stays a batch
(or periodic foreachBatch) job over the deduped sink — the same split
every production curation system makes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bench_shingle_hashes(
    bench: DataFrame, text_col: str = "text", id_col: str = "bench_id", k: int = 8
) -> list[int]:
    """Distinct k-shingle hashes of the benchmark set (one driver collect
    of the STATIC eval set — bounded by benchmark size, never by corpus)."""
    from platform_spark.llmdata.dedup import _shingle_table, md5_int

    rows = (
        _shingle_table(bench, text_col, id_col, k)
        .select(md5_int(F.col("shingle")).alias("sh"))
        .distinct()
        .collect()
    )
    return sorted(r["sh"] for r in rows)


def curate_stream(
    stream: DataFrame,
    bench_hashes: list[int] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "_ts",
    watermark: str = "10 minutes",
    k: int = 8,
    min_line_words: int = 4,
) -> DataFrame:
    """Clean → redact → quality-gate → decontaminate → dedup a document
    STREAM; returns the curated stream (append-mode legal end to end).

    Output: (doc_id, _ts, text) — line-filtered, PII-redacted, quality-
    passing, bench-collision-free, first-occurrence-within-watermark.
    """
    from platform_spark.llmdata.cleaning import (
        _line_ok,
        quality_passes_expr,
        redact_pii,
    )
    from platform_spark.llmdata.dedup import md5_int, shingles_from_tokens
    from platform_spark.llmdata.text import tokens
    from platform_spark.streaming.dedup_stream import dedup_stream

    base = stream.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("_ts"),
        F.col(text_col).alias("text"),
    )
    # line filter as an in-place column rewrite so `_ts` rides along
    cleaned = base.withColumn(
        "text",
        F.array_join(
            F.filter(
                F.split(F.col("text"), "\n"), lambda l: _line_ok(l, min_line_words)
            ),
            "\n",
        ),
    )
    cleaned = redact_pii(cleaned).select(
        "doc_id", "_ts", F.col("text_redacted").alias("text")
    )

    def keep(text: Column) -> Column:
        ok = quality_passes_expr(text)
        if not bench_hashes:
            return ok
        bench_lit = F.lit(bench_hashes).cast("array<bigint>")
        # the token array is bound ONCE too: shingles_from_tokens
        # references it k+3 times
        hit = F.exists(
            F.array(tokens(F.lower(text))),
            lambda toks: F.arrays_overlap(
                F.transform(shingles_from_tokens(toks, k), lambda s: md5_int(s)),
                bench_lit,
            ),
        )
        return ok & ~F.coalesce(hit, F.lit(False))

    # the cleaned text is bound ONCE, as the lambda variable over a
    # one-element array: a staged column would not survive — the
    # optimizer pushes this filter below the projection that defines
    # `text` and substitutes the whole line-filter + redaction expression
    # into every reference
    passing = cleaned.filter(F.exists(F.array(F.col("text")), keep))
    keyed = passing.withColumn("__ch", F.md5(F.col("text").cast("binary")))
    return dedup_stream(
        keyed, ["__ch"], ts_col="_ts", within_watermark=watermark
    ).drop("__ch")
