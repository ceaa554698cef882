"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (100 TB posture):
- exact dedup is one hash-aggregate — a single shuffle on a 16-byte key.
- ngram-Jaccard uses the inverted-index (prefix-filter-free) set-similarity
  join: shingle → explode → self-join on shingle → count common → filter by
  threshold. Shuffle volume is O(total shingles); skew is bounded by
  dropping ultra-frequent shingles (stop_shingle_df), the standard trick.
- MinHash+LSH: signatures via portable md5-derived 64-bit integer hashing
  (reproducible across engines and languages), banded into buckets; only
  bucket-colliding pairs are candidates, then exact-verified. Everything is
  joins + aggregates — no driver-side state.
- SimHash: 64-bit fingerprint via per-bit majority of token hashes,
  computed with array built-ins (explode-free bit fold).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from platform_spark.llmdata.text import fingerprint, tokens, widen_small_scan

# -- portable 60-bit hash: md5 hex prefix as integer ------------------------
# (identical in DuckDB: CAST(('0x' || substr(md5(s),1,15)) AS BIGINT))


def md5_int(col: Column, seed: str = "", hex_digits: int = 15) -> Column:
    s = F.concat(F.lit(seed), col) if seed else col
    return F.conv(
        F.substring(F.md5(s.cast("binary")), 1, hex_digits), 16, 10
    ).cast("bigint")


def keeper_rank(score: Column, ident: Column) -> Column:
    """Null-safe ordering struct for MIN-based keeper selection: highest
    score wins, a NULL score always LOSES, ties → smallest id.

    Two traps this encodes (both shipped as bugs at least once):
    - the id is never negated — arithmetic on a string id silently casts
      to NULL under non-ANSI Spark and flips the keeper to the LARGEST id;
      the numeric-by-contract score is negated instead, and MIN picks.
    - a bare negated NULL score sorts FIRST under struct MIN (NULL fields
      compare smallest), which would let an unscored row beat every scored
      one; the leading is-null flag (false < true) keeps unscored rows
      last. Groups that are entirely unscored fall through to min-id.
    """
    return F.struct(
        score.isNull().alias("m"),
        (-score).alias("ns"),
        ident.alias("i"),
    )


# -- exact ------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on raw text md5: one row per distinct content with the
    minimum id as keeper and the duplicate count."""
    return (
        df.select(_text_hash(text_col).alias("content_hash"), id_col)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


def normalized_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-after-normalization dedup (fingerprint from text.py)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fingerprint"), id_col)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


# -- shingling --------------------------------------------------------------


def _token_windows(toks: Column, k: int, emit, empty_type: str) -> Column:
    """``emit(i, window)`` for every k-token window of the token array
    `toks` (i = 0-based start, window = its tokens space-joined); an
    empty `empty_type` array when there are fewer than k tokens. The one
    k-token window expression behind shingles, positional spans and
    winnowing hashes."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(n < k, F.array().cast(empty_type)).otherwise(
        F.transform(
            idx,
            lambda i: emit(
                i,
                F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(k)]),
            ),
        )
    )


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from an already-materialized token array.

    IMPORTANT: `toks` must reference a concrete column, not an expression —
    embedding an expression here duplicates its tree into every element_at
    call (k per position), turning shingling O(tokens²). See _shingle_table.
    """
    return F.array_distinct(
        _token_windows(toks, k, lambda i, w: w, "array<string>")
    )


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, k: int, *carry: str
) -> DataFrame:
    """(doc_id, *carry, shingle) exploded table; tokenizes once per row
    (the token array is a concrete column of its own select)."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        *carry,
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    return toked.select(
        "doc_id",
        *carry,
        F.explode(shingles_from_tokens(F.col("toks"), k)).alias("shingle"),
    )


# -- content collapse: rep-level pair emission ------------------------------
# Exact duplicates dominate real web corpora, and every pair-emitting
# similarity join pays O(copies²) for them — in candidate generation AND in
# output. Similarity is a pure function of content, so the scale answer is
# to collapse exact duplicates FIRST (one hash-aggregate), run candidate
# generation on distinct contents only, and expand the quadratic doc-level
# list lazily (expand_pairs) only for callers who truly want it. The
# rep-level graph (rep ids + copy counts + scores, self rows for contents
# whose copies pair) carries the same information in output ~linear in
# distinct contents. The sf1 rehearsal measured the un-collapsed joins at
# 51-69 s vs ~5-9 s collapsed, identical results.


class RepGraph(NamedTuple):
    """Content-collapsed similarity graph.

    membership: (doc_id, rep_id) — every doc mapped to the min doc id of
      its exact-duplicate group.
    pairs: scored rep-level pairs (rep_a, rep_b, ..., n_copies_a,
      n_copies_b); a SELF row (rep_a == rep_b) means the content's copies
      pair with each other in the equivalent all-docs run.
    """

    membership: DataFrame
    pairs: DataFrame


def _reps(df: DataFrame, key: Column, id_col: str, *values: str) -> DataFrame:
    """The rep relation (key, rep_id, n_copies, *values): one row per
    distinct `key` with its smallest id, its copy count and the rep's
    `values`, from ONE aggregate — so a family signs, fingerprints or
    shingles each content once without joining the input back, and
    carries n_copies on from there. A NULL key is a group of its own;
    callers that must drop NULL contents filter first."""
    return df.groupBy(key).agg(
        F.min(id_col).alias("rep_id"),
        F.count("*").alias("n_copies"),
        *[F.min_by(v, id_col).alias(v) for v in values],
    )


def _collapse(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """(doc_id, rep_id) membership of the exact-duplicate groups under
    `key` (the rep relation's min id joined back to every doc). No reuse
    barrier: the aggregate is one exchange that exchange reuse shares
    with the other references in the plan."""
    hashes = df.select(F.col(id_col).alias("doc_id"), key.alias("__ch"))
    reps = _reps(hashes, F.col("__ch"), "doc_id").select("__ch", "rep_id")
    return hashes.join(reps, "__ch").select("doc_id", "rep_id")


def expand_pairs(
    rep_pairs: DataFrame,
    membership: DataFrame,
    a_col: str = "rep_a",
    b_col: str = "rep_b",
    out_a: str = "doc_a",
    out_b: str = "doc_b",
    side_cols: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Inflate rep-level pairs to the full doc-level pair list (a < b).

    Cross rows (rep_a != rep_b) expand to copies_a × copies_b pairs; self
    rows to C(copies, 2). Output ids are normalized (out_a < out_b);
    `side_cols` lists (a-side, b-side) column pairs that must swap when
    normalization flips the orientation (e.g. per-side sizes). Score
    columns pass through unchanged — similarity is content-level, so every
    expanded pair carries its rep pair's score. The output is exactly the
    un-collapsed join's result, but produced by two hash joins instead of
    a quadratic candidate shuffle.
    """
    m_a = membership.select(
        F.col("rep_id").alias(a_col), F.col("doc_id").alias("__da")
    )
    m_b = membership.select(
        F.col("rep_id").alias(b_col), F.col("doc_id").alias("__db")
    )
    j = (
        rep_pairs.join(m_a, a_col)
        .join(m_b, b_col)
        # self rows would otherwise emit (x,x) and both orientations
        .filter((F.col(a_col) != F.col(b_col)) | (F.col("__da") < F.col("__db")))
    )
    keep = F.col("__da") <= F.col("__db")
    swapped = {c for pair in side_cols for c in pair}
    sel = [
        F.least("__da", "__db").alias(out_a),
        F.greatest("__da", "__db").alias(out_b),
    ]
    for ca, cb in side_cols:
        sel.append(F.when(keep, F.col(ca)).otherwise(F.col(cb)).alias(ca))
        sel.append(F.when(keep, F.col(cb)).otherwise(F.col(ca)).alias(cb))
    sel += [
        F.col(c)
        for c in rep_pairs.columns
        if c not in (a_col, b_col) and c not in swapped
    ]
    return j.select(*sel)


# -- near-dup core ----------------------------------------------------------
# The blocks every near-dup family assembles its graph from: banded
# candidate joins, the candidate-restricted shingle-overlap verify and the
# rep-graph assembly. One implementation each; the families differ only in
# what they hash, band and score.


def _text_hash(text_col: str) -> Column:
    return F.md5(F.col(text_col).cast("binary"))


def _self_rows(reps: DataFrame, rep_col: str, *cols: Column) -> DataFrame:
    """A SELF row (rep_a == rep_b, `cols`, n_copies_a, n_copies_b) for
    every content of the rep relation `reps` with n_copies >= 2: its
    copies pair with each other in the equivalent all-docs run. A content
    whose every copy has a NULL id has no rep, so no self row either."""
    return reps.filter((F.col("n_copies") >= 2) & F.col(rep_col).isNotNull()).select(
        F.col(rep_col).alias("rep_a"),
        F.col(rep_col).alias("rep_b"),
        *cols,
        F.col("n_copies").alias("n_copies_a"),
        F.col("n_copies").alias("n_copies_b"),
    )


def _band_self_join(
    rows: DataFrame, id_col: str, key: str, out_a: str, out_b: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct candidate pairs (out_a < out_b) of `rows` sharing any
    (band, key): one self-join on (band, key). Each carried column comes
    out once per side as <c>_a, <c>_b."""
    x, y = rows.alias("x"), rows.alias("y")
    sel = [F.col(f"x.{id_col}").alias(out_a), F.col(f"y.{id_col}").alias(out_b)]
    for c in carry:
        sel += [F.col(f"x.{c}").alias(f"{c}_a"), F.col(f"y.{c}").alias(f"{c}_b")]
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col(f"x.{key}") == F.col(f"y.{key}"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(*sel)
        .distinct()
    )


def _chunk_candidates(
    df: DataFrame, id_col: str, fp: str, per: int, bands: int,
    out_a: str, out_b: str, carry: tuple[str, ...] = (),
) -> DataFrame:
    """Banded candidates over an integer fingerprint column: band b is
    the `per`-bit chunk ``(fp >>> b*per) & (2^per - 1)``, and rows sharing
    any (band, chunk) pair up (see _band_self_join)."""
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col(fp), b * per)
                .bitwiseAND(F.lit((1 << per) - 1))
                .alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    rows = df.select(id_col, *carry, F.explode(chunks).alias("b")).select(
        id_col, *carry, "b.band", "b.chunk"
    )
    return _band_self_join(rows, id_col, "chunk", out_a, out_b, carry)


def _within_hamming(cand: DataFrame, a: str, b: str, max_hamming: int) -> DataFrame:
    """Candidates with hamming = popcount(a XOR b) <= max_hamming."""
    return cand.withColumn(
        "hamming", F.bit_count(F.col(a).bitwiseXOR(F.col(b)))
    ).filter(F.col("hamming") <= max_hamming)


def _bucket_candidates(left: DataFrame, right: DataFrame) -> DataFrame:
    """(left_id, *left carried, right_id, *right carried) distinct pairs
    across two (doc_id, band, bucket, *carried) tables sharing any band
    bucket — the two-table form of the banded join; each side's other
    columns (its shingle count) ride along."""
    return (
        left.withColumnRenamed("doc_id", "left_id")
        .join(right.withColumnRenamed("doc_id", "right_id"), ["band", "bucket"])
        .drop("band", "bucket")
        .distinct()
    )


def _candidate_overlap(
    cand: DataFrame, a: str, b: str, sh_a: DataFrame, sh_b: DataFrame
) -> DataFrame:
    """(*cand columns, n_common) for the candidate pairs (a, b): each
    side's (doc_id, sh) index joins THROUGH the candidate list, so common
    shingles cost O(|candidates| x avg shingles) — never the
    all-shared-shingle-pairs blowup of a full inverted join. The
    candidates' carried columns (sizes, copy counts) ride the grouping
    key."""
    return (
        cand.join(sh_a.select(F.col("doc_id").alias(a), F.col("sh").alias("__sh_a")), a)
        .join(
            sh_b.select(F.col("doc_id").alias("__b"), F.col("sh").alias("__sh_b")),
            (F.col(b) == F.col("__b")) & (F.col("__sh_a") == F.col("__sh_b")),
        )
        .groupBy(*cand.columns)
        .agg(F.count("*").alias("n_common"))
    )


def _jaccard_at_least(
    pairs: DataFrame, threshold: float, n_a: str, n_b: str
) -> DataFrame:
    """`pairs` scored jaccard = n_common / (n_a + n_b - n_common) at 6 dp,
    kept when >= threshold."""
    jaccard = F.round(
        F.col("n_common").cast("double")
        / (F.col(n_a) + F.col(n_b) - F.col("n_common")).cast("double"),
        6,
    )
    return pairs.withColumn("jaccard", jaccard).filter(F.col("jaccard") >= threshold)


# -- n-gram Jaccard set-similarity join ------------------------------------


def ngram_jaccard_rep_graph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    stop_shingle_df: float = 0.2,
) -> RepGraph:
    """Content-collapsed k-shingle Jaccard graph; the core behind
    ngram_jaccard_pairs AND clusters.dedup_clusters_fast.

    Equality with the all-docs inverted-index join (each step exact):
    - Jaccard, shingle sets and sizes are pure functions of text, so
      content-level pairs project the all-docs pairs one-to-one — PROVIDED
      the hot-shingle cutoff sees the same document frequencies; each
      distinct content's shingles are weighted by its copy count, making
      the hot set (and the candidate graph) bit-identical.
    - Copies of one content pair iff their index-common count over full
      sizes clears the threshold: with S shingles of which N survive the
      hot filter, the self-pair scores round(N/(2S-N),6) (common counts
      index rows only; sizes count all shingles). Self rows apply exactly
      that formula, so boilerplate-heavy duplicates (N small) are excluded
      exactly when the all-docs run excludes them.

    Scale: one hash-agg collapse + the inverted-index join on DISTINCT
    contents (join keys are 60-bit shingle hashes; ultra-frequent shingles
    dropped from the index only — they generate quadratic candidates but
    barely move Jaccard; sizes keep them, so scores stay exact).
    """
    membership, pairs = _ngram_rep_common(df, text_col, id_col, k, stop_shingle_df)
    scored = _jaccard_at_least(pairs, threshold, "n_a", "n_b").select(
        "rep_a", "rep_b", "n_common", "n_a", "n_b", "jaccard",
        "n_copies_a", "n_copies_b",
    )
    return RepGraph(membership, scored)


def _ngram_rep_common(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    stop_shingle_df: float,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the shingle-overlap family (Jaccard AND containment):
    exact-collapse, inverted-index join on distinct contents, copy-weighted
    hot-shingle cutoff. Returns (membership, pairs) where pairs
    carry rep_a, rep_b, n_common, n_a, n_b, n_copies_a and n_copies_b —
    common counts over index-surviving shingles, sizes over ALL shingles;
    the scorer on top decides the similarity definition."""
    membership = content_membership(df, text_col, id_col)
    # ONE rep relation (rep_id, n_copies, n_sh, sh): the _reps aggregate
    # picks the rep (min id) and its text, then a single row-wise
    # tokenize -> shingle -> md5_int pass hashes it. n_sh is the
    # array's size, so sizes need no aggregate, and n_sh / n_copies ride
    # the explode into the index and through the candidate self-join's
    # grouping key instead of joining back per side. Each select binds
    # the previous step as a concrete column (see shingles_from_tokens).
    # Checkpointed: the hot cutoff, the index and the doc count each read
    # it through a different exchange, so exchange reuse cannot share the
    # pass.
    reps = (
        _reps(df, _text_hash(text_col).alias("__ch"), id_col, text_col)
        .select("rep_id", "n_copies", tokens(F.lower(F.col(text_col))).alias("__toks"))
        .select(
            "rep_id",
            "n_copies",
            F.transform(
                shingles_from_tokens(F.col("__toks"), k), lambda s: md5_int(s)
            ).alias("sh"),
        )
        .select("rep_id", "n_copies", F.size("sh").cast("bigint").alias("n_sh"), "sh")
        .localCheckpoint(eager=False)
    )
    # a content whose every copy has a NULL id has no rep doc: its copies
    # count towards the doc count but shingle nothing
    sh = reps.filter(F.col("rep_id").isNotNull()).select(
        "rep_id", "n_copies", "n_sh", F.explode("sh").alias("sh")
    )
    # doc count computed IN-PLAN (1-row aggregate broadcast into the
    # filter) — no driver-side action, no extra full pass at scale
    n_docs_df = reps.select(F.sum("n_copies").alias("__n_docs"))
    hot = (
        sh.groupBy("sh")
        .agg(F.sum("n_copies").alias("df_"))
        .crossJoin(F.broadcast(n_docs_df))
        .filter(F.col("df_") > F.col("__n_docs") * stop_shingle_df)
        .select("sh")
    )
    idx = sh.join(F.broadcast(hot), "sh", "left_anti")
    # one self-join and one aggregate emit the cross pairs AND the self
    # rows: a content with copies also matches its own index rows, and
    # that (rep, rep) count is the index-common count its copies share in
    # the all-docs run
    a, b = idx.alias("a"), idx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (
                (F.col("a.rep_id") < F.col("b.rep_id"))
                | ((F.col("a.rep_id") == F.col("b.rep_id")) & (F.col("a.n_copies") >= 2))
            ),
        )
        .groupBy(
            F.col("a.rep_id").alias("rep_a"),
            F.col("b.rep_id").alias("rep_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
            F.col("a.n_copies").alias("n_copies_a"),
            F.col("b.n_copies").alias("n_copies_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )
    return membership, pairs


def ngram_containment_rep_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    stop_shingle_df: float = 0.2,
) -> DataFrame:
    """Shingle CONTAINMENT pairs — the asymmetric overlap measure
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| (Broder 1997's
    containment; the signal for quote/subsumption detection, where a
    small document living inside a large one never clears a Jaccard
    threshold). One undirected row per rep pair carrying BOTH directions
    (containment_ab, containment_ba), kept when either direction reaches
    `threshold`; self rows (exact copies) score n_idx/n_sh both ways,
    mirroring the Jaccard self-pair convention (common counts
    index-surviving shingles, sizes count all).

    Same scale shape as ngram_jaccard_rep_pairs: exact-collapse first,
    inverted-index join on distinct contents, copy-weighted hot-shingle
    cutoff — output ~linear in distinct contents; expand with
    `expand_containment_pairs` only when the doc-level list is needed.
    """
    _, pairs = _ngram_rep_common(df, text_col, id_col, k, stop_shingle_df)

    def ratio(n: str) -> Column:
        return F.round(F.col("n_common").cast("double") / F.col(n).cast("double"), 6)

    return pairs.select(
        "rep_a", "rep_b", "n_common", "n_a", "n_b",
        ratio("n_a").alias("containment_ab"),
        ratio("n_b").alias("containment_ba"),
        "n_copies_a", "n_copies_b",
    ).filter(
        (F.col("containment_ab") >= threshold) | (F.col("containment_ba") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    stop_shingle_df: float = 0.2,
) -> DataFrame:
    """Doc-level containment pair list (a < b, both directions' scores) —
    expand_pairs over the rep graph; per-side columns swap orientation
    with the id normalization."""
    rep = ngram_containment_rep_pairs(
        df, text_col, id_col, k, threshold, stop_shingle_df
    ).drop("n_copies_a", "n_copies_b")
    return expand_pairs(
        rep,
        content_membership(df, text_col, id_col),
        side_cols=(("n_a", "n_b"), ("containment_ab", "containment_ba")),
    ).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        "containment_ab", "containment_ba",
    )


def ngram_jaccard_rep_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    stop_shingle_df: float = 0.2,
) -> DataFrame:
    """Rep-level near-dup pairs: (rep_a, rep_b, n_common, n_a, n_b,
    jaccard, n_copies_a, n_copies_b), self rows for contents whose copies
    pair. Output ~linear in distinct contents — THE pair deliverable at
    100 TB; expand_pairs(…, content_membership(df)) reconstructs the full
    quadratic list exactly when needed."""
    return ngram_jaccard_rep_graph(
        df, text_col, id_col, k, threshold, stop_shingle_df
    ).pairs


def content_membership(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, rep_id) map for exact text duplicates — the expansion side
    of ngram_jaccard_rep_pairs."""
    return _collapse(df, _text_hash(text_col), id_col)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    stop_shingle_df: float = 0.2,
) -> DataFrame:
    """All pairs (a < b) with k-shingle Jaccard ≥ threshold.

    Computed as expand_pairs over the content-collapsed rep graph —
    identical output to the direct inverted-index join (equality argument
    in ngram_jaccard_rep_graph, pinned by the DuckDB full-pair oracle
    gate), but candidate generation never pays O(copies²) for exact
    duplicates; only the output itself is quadratic in copy counts.
    Callers who can work at rep level should use ngram_jaccard_rep_pairs.
    """
    g = ngram_jaccard_rep_graph(df, text_col, id_col, k, threshold, stop_shingle_df)
    return expand_pairs(
        g.pairs.drop("n_copies_a", "n_copies_b"),
        g.membership,
        side_cols=(("n_a", "n_b"),),
    ).select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")


# -- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
) -> DataFrame:
    """num_perm-wide MinHash signature per doc over k-shingles.

    Permutation family à la Kirsch-Mitzenmacher: TWO seeded base hashes per
    shingle (portable md5 — bit-identical in any engine/language, e.g. the
    DuckDB oracle), and permutation j = `min(h1 + j*h2)`. Two hashes per
    shingle instead of num_perm keeps the map-side cost flat in num_perm.
    Values stay < 2^48 + 31·2^48 < 2^53 — exactly representable everywhere.
    One explode + one groupBy — no per-row Python. A production cluster
    would swap md5 for xxhash64 (same structure, cheaper hash).
    """
    # widened: the standalone build is scan-rooted (measured 1.15 -> 0.65 s)
    sh = _shingle_table(widen_small_scan(df), text_col, id_col, k)
    hashed = sh.select(
        "doc_id",
        md5_int(F.col("shingle"), seed="h1:", hex_digits=12).alias("h1"),
        md5_int(F.col("shingle"), seed="h2:", hex_digits=12).alias("h2"),
    )
    return hashed.groupBy(F.col("doc_id")).agg(*_sig_aggs(num_perm))


def _sig_aggs(num_perm: int) -> list[Column]:
    """The num_perm `min(h1 + j*h2)` signature aggregates as SQL text
    (r15): same trees for a fraction of the py4j construction cost (see
    simhash_table)."""
    return [
        F.expr(f"min(h1 + {j} * h2)").alias(f"mh_{j}")
        for j in range(num_perm)
    ]


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int, *carry: str
) -> DataFrame:
    """(doc_id, *carry, sh, h1, h2) — the verify hash and both signature
    base hashes from ONE tokenize+shingle+explode pass, which feeds the
    signature aggregate and the verify shingle index alike."""
    return _shingle_table(df, text_col, id_col, k, *carry).select(
        "doc_id",
        *carry,
        md5_int(F.col("shingle")).alias("sh"),
        md5_int(F.col("shingle"), seed="h1:", hex_digits=12).alias("h1"),
        md5_int(F.col("shingle"), seed="h2:", hex_digits=12).alias("h2"),
    )


def _signatures(hashed: DataFrame, num_perm: int, *carry: str) -> DataFrame:
    """(doc_id, *carry, mh_0.., n_sh): the signature aggregate over a
    `_hashed_shingles` table, with each doc's shingle count (the Jaccard
    verify's size) taken in the same aggregate. A doc with no shingles
    has no row."""
    return hashed.groupBy("doc_id", *carry).agg(
        *_sig_aggs(num_perm), F.count("*").alias("n_sh")
    )


def _band_buckets(sig: DataFrame, num_perm: int, bands: int, *carry: str) -> DataFrame:
    """(doc_id, *carry, band, bucket) rows from a signature table: each
    band of the signature hashed to one bucket string."""
    rows_per_band = num_perm // bands
    # SQL-text struct array (r15, same rationale as simhash_table): one
    # parsed expression instead of ~bands×(struct+md5+concat) py4j calls
    band_structs = []
    for b in range(bands):
        cols = ",".join(
            f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        band_structs.append(
            f"named_struct('band', {b}, 'bucket', "
            f"md5(CAST(concat_ws('_', {cols}) AS BINARY)))"
        )
    bb = "explode(array(" + ",".join(band_structs) + "))"
    return sig.select("doc_id", *carry, F.expr(bb).alias("bb")).select(
        "doc_id", *carry, "bb.band", "bb.bucket"
    )


def minhash_lsh_candidates(
    sig: DataFrame, num_perm: int = 32, bands: int = 8
) -> DataFrame:
    """LSH banding: hash each band of the signature; docs sharing any band
    bucket become candidate pairs (distinct)."""
    return _band_self_join(
        _band_buckets(sig, num_perm, bands), "doc_id", "bucket", "doc_a", "doc_b"
    )


def minhash_rep_graph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> RepGraph:
    """Content-collapsed MinHash-LSH graph; the core behind
    minhash_dedup_pairs.

    Equality with the all-docs run is the simplest of the three families:
    the signature is a pure per-doc function of text (no corpus-frequency
    step like the n-gram hot-shingle cutoff), band buckets are pure
    functions of the signature, and the exact-Jaccard verify is a pure
    function of the two texts — so the all-docs candidate/verified graph
    is exactly the rep graph projected through exact-duplicate membership.
    Copies of one content share every band bucket (identical signatures),
    so they are always candidates of each other; their verify scores
    Jaccard(text, text) = 1.0, included iff 1.0 >= threshold — the self
    row applies the same filter. A content with no shingles produces no
    signature row (groupBy over an empty shingle set) and hence no
    candidates in either run, so self rows require n_sh >= 1.

    The verify step is restricted to the LSH candidate pairs BEFORE any
    pairwise work: the shingle index is joined through the candidate list,
    so common-shingle counting costs O(|candidates| x avg_shingles) —
    never the all-shared-shingle-pairs blowup of a full inverted join.
    """
    key = _text_hash(text_col)
    # ONE combined (sh, h1, h2) projection of the rep relation feeds the
    # signature aggregate (which also counts each rep's shingles) and both
    # sides of the candidate verify; n_sh and n_copies ride the band
    # self-join and the verify's grouping key instead of joining back.
    # No reuse barrier on hashed or sig: the docs source scans as one
    # split at bench scale, so a barrier serializes the whole
    # tokenize+hash pass into one task, while without one the consumers'
    # independent map stages run concurrently and the band self-join
    # shares its aggregate via exchange reuse.
    hashed = _hashed_shingles(
        _reps(df, key.alias("__ch"), id_col, text_col), text_col, "rep_id", k, "n_copies"
    )
    sig = _signatures(hashed, num_perm, "n_copies")
    cand = _band_self_join(
        _band_buckets(sig, num_perm, bands, "n_sh", "n_copies"),
        "doc_id", "bucket", "rep_a", "rep_b", carry=("n_sh", "n_copies"),
    )
    sh = hashed.select("doc_id", "sh")
    # self rows: contents with copies AND a signature (n_sh >= 1)
    selfs = _self_rows(
        sig, "doc_id", *[F.col("n_sh").alias(c) for c in ("n_common", "n_sh_a", "n_sh_b")]
    )
    pairs = _jaccard_at_least(
        _candidate_overlap(cand, "rep_a", "rep_b", sh, sh).unionByName(selfs),
        threshold, "n_sh_a", "n_sh_b",
    ).select("rep_a", "rep_b", "jaccard", "n_copies_a", "n_copies_b")
    return RepGraph(_collapse(df, key, id_col), pairs)


def minhash_dedup_rep_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Rep-level MinHash-LSH verified pairs: (rep_a, rep_b, jaccard,
    n_copies_a, n_copies_b), self rows for duplicated contents. Output
    ~linear in distinct contents; expand_pairs(…, content_membership(df))
    reconstructs the full quadratic list exactly when needed."""
    return minhash_rep_graph(
        df, text_col, id_col, k, num_perm, bands, threshold
    ).pairs


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact Jaccard verification:
    (doc_a, doc_b, jaccard), a < b.

    Computed as expand_pairs over the content-collapsed rep graph —
    identical output to signing/banding every doc (equality argument in
    minhash_rep_graph, pinned by the DuckDB full-pair oracle gate), but
    signatures, banding, and the verify join run once per DISTINCT
    content; only the output itself is quadratic in copy counts. Callers
    who can work at rep level should use minhash_dedup_rep_pairs.
    """
    g = minhash_rep_graph(df, text_col, id_col, k, num_perm, bands, threshold)
    return expand_pairs(
        g.pairs.drop("n_copies_a", "n_copies_b"), g.membership
    ).select("doc_a", "doc_b", "jaccard")


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-TABLE fuzzy join (record linkage / entity resolution): pairs
    (left_id, right_id) whose texts' k-shingle Jaccard ≥ threshold,
    found via MinHash-LSH banding ACROSS the two tables — the two-dataset
    variant of minhash_dedup_pairs (same portable signature family, same
    candidate-restricted exact verify). The standard shape for "which
    records in feed B refer to documents in corpus A".

    Scale: both sides sign independently (one explode + one groupBy
    each); candidates come from one equi-join on (band, bucket); the
    verify joins each side's shingle index through the candidate list
    only. Nothing pairwise ever touches non-candidate rows. For
    copy-heavy sides, exact-collapse each input first (content_membership)
    and expand after — same recipe as the self-join family.

    Output: (left_id, right_id, n_common, n_left, n_right, jaccard).
    """
    # ONE combined (sh, h1, h2) projection per side (the
    # minhash_rep_graph recipe) feeds that side's signature aggregate,
    # whose shingle count rides the bucket join as the side's size, AND
    # the verify shingle index. No reuse barrier: the plain form keeps no
    # executor-memory state at any scale. Not widened: a widen here
    # measured as a small loss.
    hashed, buckets = [], []
    for side, n in ((left, "n_left"), (right, "n_right")):
        h = _hashed_shingles(side, text_col, id_col, k)
        sig = _signatures(h, num_perm).withColumnRenamed("n_sh", n)
        hashed.append(h.select("doc_id", "sh"))
        buckets.append(_band_buckets(sig, num_perm, bands, n))
    pairs = _candidate_overlap(
        _bucket_candidates(*buckets), "left_id", "right_id", *hashed
    )
    return _jaccard_at_least(pairs, threshold, "n_left", "n_right").select(
        "left_id", "right_id", "n_common", "n_left", "n_right", "jaccard"
    )


class CorpusDedupIndex:
    """The persisted per-snapshot state `dedup_incremental` probes: the
    corpus side of the exact layer (content hashes) and of the near
    layer (LSH band buckets, hashed shingles, shingle counts). Build it
    ONCE per immutable snapshot (`build_dedup_index` → `save`), then
    every incoming batch signs only itself and joins these four tables —
    the 100 TB corpus is never re-shingled per batch.

    The index is EXACT-COLLAPSED (the content_membership recipe): one
    row per DISTINCT corpus content, represented by its smallest doc id.
    Identical contents have identical signatures and jaccards, so the
    candidate/verify graph at content level is the pairwise graph
    collapsed — and since every report field is (jaccard DESC, corpus id
    ASC)-optimal, the min-id rep IS the answer the full pairwise join
    would return. Without the collapse, copy-heavy corpora pay
    O(copies²) in LSH candidates (measured: the sf10 rehearsal's
    100-copy fixture put the naive form at 564 s / 42× for 10× rows).
    """

    PARTS = ("hashes", "buckets", "shingles", "sizes")
    _SCHEMAS = {
        "hashes": {"content_hash", "rep_id"},
        "buckets": {"doc_id", "band", "bucket"},
        "shingles": {"doc_id", "sh"},
        "sizes": {"doc_id", "n_sh"},
    }

    def __init__(
        self,
        hashes: DataFrame,
        buckets: DataFrame,
        shingles: DataFrame,
        sizes: DataFrame,
    ):
        self.hashes = hashes      # (content_hash, rep_id) — one row/content
        self.buckets = buckets    # (doc_id=rep, band, bucket)
        self.shingles = shingles  # (doc_id=rep, sh)
        self.sizes = sizes        # (doc_id=rep, n_sh)

    def save(self, path: str) -> None:
        for part in self.PARTS:
            getattr(self, part).write.mode("overwrite").parquet(f"{path}/{part}")

    @classmethod
    def load(cls, spark, path: str) -> "CorpusDedupIndex":
        parts = []
        for part in cls.PARTS:
            df = spark.read.parquet(f"{path}/{part}")
            want = cls._SCHEMAS[part]
            if not want <= set(df.columns):
                raise ValueError(
                    f"dedup index part '{part}' at {path} has columns "
                    f"{df.columns}, expected {sorted(want)} — rebuild the "
                    f"index with build_dedup_index (format changed)"
                )
            parts.append(df)
        return cls(*parts)


def build_dedup_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
) -> CorpusDedupIndex:
    """Corpus-side dedup state (see CorpusDedupIndex). All four tables
    are plain DataFrames — lazily computed when probed inline, or
    materialized once via ``.save`` for the per-batch incremental path.
    The (k, num_perm, bands) parameters are baked into the tables; probe
    with the same values."""
    # exact-collapse: one rep (smallest id) per distinct non-NULL content.
    # No reuse barrier on reps/hashed (or the batch side's): the
    # one-split builds' plain references run concurrently and share
    # exchanges, where a barrier would serialize them.
    reps = _reps(
        corpus.filter(F.col(text_col).isNotNull()),
        F.md5(F.col(text_col)).alias("content_hash"), id_col, text_col,
    )
    # ONE tokenize+shingle+hash plan for all three derived tables: the
    # signature aggregate (which also counts the sizes) and the verify
    # shingle index derive from the combined (sh, h1, h2) frame
    hashed = _hashed_shingles(reps, text_col, "rep_id", k)
    sig = _signatures(hashed, num_perm)
    return CorpusDedupIndex(
        reps.select("content_hash", "rep_id"),
        _band_buckets(sig, num_perm, bands),
        hashed.select("doc_id", "sh"),
        sig.select("doc_id", "n_sh"),
    )


def dedup_incremental_report(
    new: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    corpus_index: CorpusDedupIndex | None = None,
) -> DataFrame:
    """Incremental (cross-snapshot) dedup report: which docs of a NEW
    batch duplicate an EXISTING corpus snapshot. The recurring ingest
    shape — every re-crawl/new dump is deduped against what's already in
    the training set without re-clustering the whole corpus.

    Two layers, cheap-first:

    - exact: 16-byte content-hash equi-join. The delta is typically tiny
      next to the corpus, so its hash set broadcasts and the corpus scan
      stays map-side (mirrors `decontaminate`'s 100 TB plan).
    - near: MinHash-LSH banding ACROSS the two tables over only the
      not-exactly-matched remainder — the probe side of `minhash_join`
      against the corpus's band/shingle index; nothing pairwise ever
      touches non-candidate rows.

    Both layers probe a ``CorpusDedupIndex``: pass ``corpus_index`` (the
    snapshot's persisted tables — built once, probed per batch; the 100 TB
    path) or ``corpus`` (the index is derived inline in the same plan —
    identical results, re-signs the corpus per call).

    Output, one row per matched new doc:
    ``(doc_id, match_kind 'exact'|'near', best_corpus_id, jaccard)`` —
    exact matches report jaccard 1.0 and the smallest matching corpus id;
    near matches report the best pair by (jaccard DESC, corpus id ASC).
    Filter the batch with an anti-join (`dedup_incremental`) to keep only
    genuinely-new content.
    """
    if corpus_index is None:
        if corpus is None:
            raise ValueError("pass either corpus or corpus_index")
        corpus_index = build_dedup_index(
            corpus, text_col=text_col, id_col=id_col, k=k,
            num_perm=num_perm, bands=bands,
        )
    idx = corpus_index
    n = new.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
    # exact layer: the index is one row per distinct content, keyed by
    # hash, carrying the smallest matching corpus id — a 1:1 join
    exact = (
        n.select("doc_id", F.md5(F.col("__t")).alias("content_hash"))
        .join(idx.hashes, "content_hash")
        .select("doc_id", F.col("rep_id").alias("best_corpus_id"))
    )
    rest = n.join(exact.select("doc_id"), "doc_id", "left_anti")
    # exact-collapse the BATCH side too (a re-crawl is as copy-heavy as
    # the corpus): sign/shingle one rep per distinct remaining content,
    # probe the index, expand the per-content verdict back to every doc
    nreps = _reps(
        rest.filter(F.col("__t").isNotNull()),
        F.md5(F.col("__t")).alias("__nh"), "doc_id", "__t",
    )
    # one combined-hash projection for the batch side too (no reuse
    # barrier — see build_dedup_index); its shingle count rides the
    # bucket join, the corpus side's comes from the persisted sizes
    hashed_n = _hashed_shingles(nreps, "__t", "rep_id", k)
    sig_n = _signatures(hashed_n, num_perm).withColumnRenamed("n_sh", "n_left")
    cand = _bucket_candidates(
        _band_buckets(sig_n, num_perm, bands, "n_left"),
        idx.buckets.select("doc_id", "band", "bucket"),
    )
    sizes = idx.sizes.select(
        F.col("doc_id").alias("right_id"), F.col("n_sh").alias("n_right")
    )
    pairs = _jaccard_at_least(
        _candidate_overlap(
            cand, "left_id", "right_id", hashed_n.select("doc_id", "sh"), idx.shingles
        ).join(sizes, "right_id"),
        threshold, "n_left", "n_right",
    ).select("left_id", "right_id", "jaccard")
    # order: best jaccard, then SMALLEST corpus id — negate the numeric
    # score, never the id (string corpus ids would NULL out under
    # arithmetic and silently pick the LARGEST id)
    near_rep = pairs.groupBy("left_id").agg(
        F.min(
            F.struct(
                (-F.col("jaccard")).alias("__nj"),
                F.col("right_id").alias("__rid"),
            )
        ).alias("__w")
    )
    # expand rep verdicts to every batch doc sharing the content
    memb = rest.select("doc_id", F.md5(F.col("__t")).alias("__nh"))
    near = (
        near_rep.join(
            nreps.select("__nh", F.col("rep_id").alias("left_id")), "left_id"
        )
        .join(memb, "__nh")
        .select(
            "doc_id",
            F.lit("near").alias("match_kind"),
            F.col("__w.__rid").alias("best_corpus_id"),
            (-F.col("__w.__nj")).alias("jaccard"),
        )
    )
    return exact.select(
        "doc_id",
        F.lit("exact").alias("match_kind"),
        "best_corpus_id",
        F.lit(1.0).alias("jaccard"),
    ).unionByName(near)


def dedup_incremental(
    new: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    corpus_index: CorpusDedupIndex | None = None,
) -> DataFrame:
    """The filter form: the new batch with corpus duplicates removed
    (left_anti on the report — one plan, batch schema preserved)."""
    matched = dedup_incremental_report(
        new,
        corpus,
        text_col=text_col,
        id_col=id_col,
        k=k,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        corpus_index=corpus_index,
    ).select(F.col("doc_id").alias(id_col))
    return new.join(matched, id_col, "left_anti")


# -- SimHash ----------------------------------------------------------------


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60
) -> DataFrame:
    """(doc_id, sh) SimHash fingerprints: per-bit majority vote of token
    hashes, as an array fold over distinct tokens — pure built-ins, no UDF.

    Layered selects keep the token-hash array a concrete column so the 60
    per-bit folds reuse it instead of re-hashing (expression-tree
    duplication would cost 60× otherwise). 60-bit portable hash → bits ≤ 60.
    """
    return _simhash_fps(df, text_col, id_col, bits)


def _simhash_fps(
    df: DataFrame, text_col: str, id_col: str, bits: int, *carry: str
) -> DataFrame:
    """(doc_id, *carry, sh): simhash_table with `carry` columns riding
    the vote aggregate's grouping key."""
    bits = min(bits, 60)
    # not widened: the vote aggregate's own exchange already widens it
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        *carry,
        F.array_distinct(tokens(F.lower(F.col(text_col)))).alias("toks"),
    )
    hashed = toked.select(
        "doc_id", *carry, F.transform(F.col("toks"), lambda t: md5_int(t)).alias("hs")
    )
    # explode + 60 codegen'd SUM aggregates instead of 60 interpreted
    # array folds (the r13 shape re-walked the hs array once per bit
    # AND its 60x-duplicated expression tree cost ~2.4 s of driver-side
    # analysis per query — r14 profile). The whole majority vote now
    # runs inside whole-stage codegen with map-side partial aggregation,
    # so the shuffle carries one 60-count row per doc, not per token.
    # explode_outer keeps empty/NULL token arrays as a NULL-hash row:
    # their sums are all NULL -> every `count > 0` is false -> sh = 0,
    # the same fold-identity value as before (NULL text must stay its
    # own banding group, see simhash_rep_graph). Semantics unchanged:
    # per-bit +/-1 majority, bit set when the count is > 0 — the DuckDB
    # oracle pins it.
    # the 60 per-bit aggregates and the 60-term fingerprint reassembly are
    # rendered as SQL text (r15): the pyspark-DSL construction of the same
    # expressions costs ~9k py4j round trips (~2 s of driver socket
    # latency per query, cProfile-measured); one F.expr per column parses
    # to the same CASE WHEN / sum trees and identical values (the DuckDB
    # oracle pins them)
    exploded = hashed.select("doc_id", *carry, F.explode_outer("hs").alias("h"))
    sums = exploded.groupBy("doc_id", *carry).agg(
        *[
            F.expr(
                f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END)"
            ).alias(f"__b{b}")
            for b in range(bits)
        ]
    )
    sh_sql = "CAST(0 AS BIGINT) + " + " + ".join(
        f"CASE WHEN __b{b} > 0 THEN CAST({1 << b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return sums.select("doc_id", *carry, F.expr(sh_sql).alias("sh"))


def simhash(col: Column, bits: int = 64) -> Column:
    """Single-column SimHash (convenience; prefer simhash_table for bulk —
    this form re-evaluates the token-hash array once per bit)."""
    bits = min(bits, 60)
    toks = F.array_distinct(tokens(F.lower(col)))
    hashes = F.transform(toks, lambda t: md5_int(t))

    def bit_sum(b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1),
        )

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out + F.when(bit_sum(b) > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def simhash_rep_graph(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> RepGraph:
    """Content-collapsed SimHash Hamming graph; the core behind
    simhash_dedup_pairs.

    Equality with the all-docs run: the fingerprint is a pure per-doc
    function of text (NULL text folds to sh = 0 like any other value, so
    the collapse hash marks NULL as its own content group instead of
    dropping it), band chunks are pure functions of the fingerprint, and
    hamming is a pure function of the two fingerprints — the all-docs
    candidate graph is exactly the rep graph projected through
    exact-duplicate membership. Copies share every chunk (identical
    fingerprints) so they are always candidates at hamming 0 <= max_hamming;
    the self row carries hamming 0 unconditionally.
    """
    key = F.coalesce(_text_hash(text_col), F.lit("__null__"))
    reps = _reps(df, key.alias("__ch"), id_col, text_col)
    # banded Hamming join over the reps, copy counts carried through the
    # fingerprint aggregate and the band self-join. No reuse barrier on
    # the fingerprints: both aliases of the self-join read the per-bit
    # partial sums through the same exchange, which exchange reuse shares
    # (only the per-doc merge runs twice), and a checkpoint measured
    # slower (OPTIMIZATION_r17.md, intra-query reuse)
    cand = _chunk_candidates(
        _simhash_fps(reps, text_col, "rep_id", 60, "n_copies"), "doc_id", "sh",
        60 // bands, bands, "rep_a", "rep_b", carry=("sh", "n_copies"),
    )
    cross = _within_hamming(cand, "sh_a", "sh_b", max_hamming).select(
        "rep_a", "rep_b", "hamming", "n_copies_a", "n_copies_b"
    )
    selfs = _self_rows(
        reps, "rep_id", F.lit(0).cast(cross.schema["hamming"].dataType).alias("hamming")
    )
    return RepGraph(_collapse(df, key, id_col), cross.unionByName(selfs))


def simhash_rep_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Rep-level SimHash pairs: (rep_a, rep_b, hamming, n_copies_a,
    n_copies_b), self rows (hamming 0) for duplicated contents. Output
    ~linear in distinct contents; expand_pairs reconstructs the full list."""
    return simhash_rep_graph(df, text_col, id_col, max_hamming, bands).pairs


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, using
    banded equality (pigeonhole: ≤ k differing bits ⇒ some band of k+1
    bands is identical) to avoid the quadratic scan.

    Computed as expand_pairs over the content-collapsed rep graph
    (equality argument in simhash_rep_graph, pinned by the DuckDB
    full-pair oracle gate): fingerprinting and the banded join run once
    per DISTINCT content; only the output is quadratic in copy counts.
    """
    g = simhash_rep_graph(df, text_col, id_col, max_hamming, bands)
    return expand_pairs(
        g.pairs.drop("n_copies_a", "n_copies_b"), g.membership
    ).select("doc_a", "doc_b", "hamming")


# -- embedding near-dup -----------------------------------------------------


def _sketch_norm_expr(staged: DataFrame, planes: list[list[float]]) -> DataFrame:
    """(vid, v, sk, nrm) via interpreted Column folds — the pre-r15
    reference semantics for `_sketch_norm_arrow`, kept so pytest can pin
    the Arrow kernel's bit-identity; the hot path uses the kernel."""
    from platform_spark.llmdata.similarity import (
        dot_expr,
        double_matrix_lit,
        norm_expr,
    )

    n_hyperplanes = len(planes)
    plane_matrix = double_matrix_lit(planes)
    dots = F.transform(plane_matrix, lambda w: dot_expr(F.col("v"), w))
    sketch = F.aggregate(
        F.zip_with(
            dots,
            F.sequence(F.lit(0), F.lit(n_hyperplanes - 1)),
            lambda d, i: F.when(
                d >= 0, F.pow(F.lit(2.0), i.cast("double")).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return staged.select(
        "vid", "v", sketch.alias("sk"), norm_expr(F.col("v")).alias("nrm")
    )


def _sketch_norm_arrow(staged: DataFrame, planes: list[list[float]]) -> DataFrame:
    """(vid, v, *rest, sk, nrm) of a (vid, v, *rest) frame through one
    `mapInArrow` batch kernel (r15,
    guide §4.2): the list column's values buffer reshapes to an (n, dim)
    float64 matrix with zero per-row conversion, and both reductions run
    as per-DIMENSION accumulation loops — ``acc[:, p] += v[:, j] *
    P[p, j]`` and ``nrm2 += v[:, j]²`` — i.e. the SAME IEEE-754 left
    fold per row, in order, as the interpreted `aggregate` trees in
    `_sketch_norm_expr`, so every sketch bit (dot >= 0), the integer
    sketch sum, and sqrt(nrm2) are bit-identical (np.sqrt and Java
    Math.sqrt are both correctly rounded). Vectors must be fixed-dim
    and non-null (declared-dim embedding tables; anything else raises
    loudly in the kernel)."""
    import numpy as np

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    pm = np.array(planes, dtype=np.float64)
    out_schema = StructType(
        list(staged.schema.fields)
        + [StructField("sk", LongType()), StructField("nrm", DoubleType())]
    )

    def run(batches):
        import pyarrow as pa

        shifts = np.arange(pm.shape[0], dtype=np.int64)
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            v = batch.column(1)
            if v.null_count:
                raise ValueError("NULL vector in sketch staging")
            offs = v.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            if n and not (lens == lens[0]).all():
                raise ValueError("ragged vectors in sketch staging")
            d = int(lens[0]) if n else 0
            mat = (
                v.flatten().to_numpy(zero_copy_only=False).reshape(n, d)
            )
            acc = np.zeros((n, pm.shape[0]), dtype=np.float64)
            nrm2 = np.zeros(n, dtype=np.float64)
            for j in range(min(d, pm.shape[1])):
                col = mat[:, j]
                acc = acc + col[:, None] * pm[None, :, j]
                nrm2 = nrm2 + col * col
            for j in range(pm.shape[1], d):  # norm folds the FULL vector
                col = mat[:, j]
                nrm2 = nrm2 + col * col
            sk = ((acc >= 0).astype(np.int64) << shifts).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                batch.columns
                + [
                    pa.array(sk, type=pa.int64()),
                    pa.array(np.sqrt(nrm2), type=pa.float64()),
                ],
                names=[f.name for f in out_schema.fields],
            )

    return staged.mapInArrow(run, out_schema)


def _hyperplanes(n: int, dim: int) -> list[list[float]]:
    """n deterministic (md5-seeded) random hyperplanes in [-1, 1)^dim."""
    import hashlib
    import struct

    def plane(p: int) -> list[float]:
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"plane-{p}-{i}".encode()).digest()
            (u,) = struct.unpack(">Q", h[:8])
            vals.append((u / float(1 << 64)) * 2.0 - 1.0)
        return vals

    return [plane(p) for p in range(n)]


def _lsh_cosine_pairs(
    staged: DataFrame,  # (vid, v, n_copies) — v already array<double>
    threshold: float,
    n_hyperplanes: int,
    bands: int,
    dim: int,
) -> DataFrame:
    """Banded hyperplane-LSH candidate join + exact cosine verify over a
    staged rep relation (vid, v, n_copies); returns (rep_a, rep_b,
    cosine, n_copies_a, n_copies_b), a < b, plus a self row for every
    vector with copies whose self-cosine clears the threshold.

    Random-hyperplane LSH (sign sketch) BANDED like MinHash-LSH:
    the n_hyperplanes sign bits split into `bands` bands; vectors sharing ANY
    band bucket become candidates, then exact cosine verifies. A single
    all-bits bucket would need agreement on every bit (recall
    (1-θ/π)^n ≈ 28% at cosine 0.95 with 12 bits); OR-ed 4-bit bands give
    1-(1-p^4)^4 ≈ 98.5% at cosine 0.95 (p = 1-θ/π ≈ 0.90). Hyperplanes are
    deterministic (hash-seeded), so results are reproducible.

    Sizing at scale: expected bucket occupancy is n / 2^(bits/bands) per
    band, so grow `n_hyperplanes` ~ bands * log2(n) as the corpus grows to
    hold occupancy (and candidate-pair count) roughly constant — the sf1
    rehearsal (COVERAGE.md) shows cost is linear in candidate pairs.
    """
    from platform_spark.llmdata.similarity import cosine_prenorm

    per = max(1, n_hyperplanes // bands)
    # the norm is hoisted to the per-VECTOR stage: the exact verify
    # below evaluates interpreted higher-order aggregates per candidate
    # pair, and cosine_expr's 3 dim-length folds per pair (dot + both
    # norms) were 2/3 redundant — norm(v) is a pure function of the
    # vector, so computing it once per side costs O(vectors), not
    # O(candidate pairs). Same expression tree on the same doubles ⇒
    # bit-identical cosines (the 6-dp rounding the oracles hash is
    # untouched); measured 1.9x on the ecf verify stage.
    # checkpointed: `base` feeds both aliases of the band self-join, both
    # per-side vector re-joins of the verify and the self rows — each
    # reference would otherwise re-run the Python sketch kernel (the
    # dominant per-vector cost) plus the norm.
    # Arrow-vectorized staging (guide §4.2): the interpreted
    # transform/aggregate sketch fold cost ~1 ms per VECTOR (16×64
    # scalar expression evaluations); `_sketch_norm_arrow` runs the same
    # per-dimension IEEE left folds batch-wide in numpy — bit-identical
    # sketches and norms (pinned by pytest against the expression form).
    base = _sketch_norm_arrow(
        staged, _hyperplanes(n_hyperplanes, dim)
    ).localCheckpoint(eager=False)
    # candidate generation works on (id, band, chunk) ONLY — deduping
    # (rep_a, rep_b) before vectors are touched keeps the shuffle narrow;
    # vectors, norms and copy counts re-join by id afterwards (two hash
    # joins on the id key)
    cand = _chunk_candidates(base, "vid", "sk", per, bands, "rep_a", "rep_b")
    for side in ("a", "b"):
        cand = cand.join(
            base.select(
                *[F.col(c).alias(f"{c}_{side}") for c in ("v", "nrm", "n_copies")],
                F.col("vid").alias(f"rep_{side}"),
            ),
            f"rep_{side}",
        )

    def cosine(a: str, b: str) -> Column:
        return F.round(
            cosine_prenorm(F.col(f"v{a}"), F.col(f"v{b}"), F.col(f"nrm{a}"), F.col(f"nrm{b}")),
            6,
        ).alias("cosine")

    # self rows score cosine(v, v) with the same expression: nonzero
    # copies score ~1.0; a zero-norm vector's self-cosine is NULL and the
    # threshold filter drops it, as the all-docs run drops its copy pairs
    selfs = _self_rows(base, "vid", cosine("", ""))
    return (
        cand.select(
            "rep_a", "rep_b", cosine("_a", "_b"), "n_copies_a", "n_copies_b"
        )
        .unionByName(selfs)
        .filter(F.col("cosine") >= threshold)
    )


def _vector_hash(vec_col: str) -> Column:
    return F.md5(F.to_json(F.struct(F.col(vec_col))).cast("binary"))


def vector_membership(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(doc_id, rep_id) map for exact vector duplicates — the expansion
    side of embedding_neardup_rep_pairs."""
    return _collapse(df, _vector_hash(vec_col), id_col)


def embedding_rep_graph(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_hyperplanes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> RepGraph:
    """Content-collapsed cosine near-dup graph; the core behind
    embedding_neardup_pairs AND clusters.embedding_clusters_fast.

    Simpler than the text twin: hyperplane-LSH bucket membership is a pure
    function of the vector with no corpus-frequency dependence, so no
    copy-count weighting is needed — identical vectors share every band
    bucket, so a rep pair exists iff any (equivalently every) copy pair is
    a candidate, and the exact-cosine verify scores the same values. Self
    rows verify cosine(v, v) with the SAME expression the pairwise verify
    uses: nonzero copies score ≈1.0 and pass; a zero-norm vector's
    self-cosine is NULL and the filter drops it, exactly as the all-docs
    run drops its copy pairs.
    """
    if dim is None:  # 1-row probe; pass dim explicitly to save the job
        dim = len(df.select(vec_col).first()[0])
    key = _vector_hash(vec_col)
    staged = _reps(df, key.alias("__ch"), id_col, vec_col).select(
        F.col("rep_id").alias("vid"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        "n_copies",
    )
    pairs = _lsh_cosine_pairs(staged, threshold, n_hyperplanes, bands, dim)
    return RepGraph(_collapse(df, key, id_col), pairs)


def embedding_neardup_rep_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_hyperplanes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Rep-level near-dup vectors: (rep_a, rep_b, cosine, n_copies_a,
    n_copies_b), self rows for duplicated nonzero vectors. Output ~linear
    in distinct vectors; expand_pairs(…, vector_membership(df))
    reconstructs the full quadratic list exactly when needed."""
    return embedding_rep_graph(
        df, vec_col, id_col, threshold, n_hyperplanes, bands, dim
    ).pairs


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_hyperplanes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold: (id_a, id_b, cosine),
    a < b.

    Computed as expand_pairs over the vector-collapsed rep graph —
    identical output to running the LSH join over all docs (equality
    argument in embedding_rep_graph, pinned by the DuckDB full-pair oracle
    gate), but candidate generation never pays O(copies²) for exact
    duplicates. Callers who can work at rep level should use
    embedding_neardup_rep_pairs.
    """
    g = embedding_rep_graph(
        df, vec_col, id_col, threshold, n_hyperplanes, bands, dim
    )
    return expand_pairs(
        g.pairs.drop("n_copies_a", "n_copies_b"),
        g.membership,
        out_a="id_a",
        out_b="id_b",
    ).select("id_a", "id_b", "cosine")


# -- exact substring (span-level) duplication -------------------------------


def _positional_spans(
    df: DataFrame, k: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared front of the exact-substring family: whitespace-tokenize
    lower(trim(text)) once per row, then every k-token window as
    (doc_id, pos, h) with the span text hashed to a 15-hex-digit md5 int
    (8-byte shuffle keys at 100 TB, never span text). Returns
    (toked = (doc_id, __toks), spans)."""
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    span_structs = _token_windows(
        F.col("__toks"),
        k,
        lambda i, w: F.struct(i.cast("int").alias("pos"), w.alias("sh")),
        "array<struct<pos:int,sh:string>>",
    )
    spans = toked.select("doc_id", F.explode(span_structs).alias("s")).select(
        "doc_id",
        F.col("s.pos").alias("pos"),
        md5_int(F.col("s.sh")).alias("h"),
    )
    return toked, spans


def duplicate_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring duplication metrics: for every k-token window of
    every document, find windows whose text occurs ≥2 times anywhere in
    the corpus (the "dedup exact substrings" signal of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — there
    applied via a suffix array; at Spark scale the equivalent signal is a
    positional-shingle self-count, one hash aggregate + one hash join).

    Output per document:
      n_spans         total k-token windows
      n_dup_spans     windows whose text appears ≥2× corpus-wide
      n_cross_spans   windows whose text appears in ≥2 distinct docs
      first_dup_pos   0-based token position of the first duplicated
                      window (NULL when none)

    Scale shape: tokenize once per row (layered select), explode to
    (doc, pos, span); one span-keyed partial aggregate for occurrence
    counts; one span-keyed join back; one doc-keyed aggregate. Span keys
    travel as 15-hex-digit md5 ints (md5_int), not span text — at 100 TB
    the shuffle carries 8-byte keys. Windows, not suffixes: bounded state,
    no global sort, and the downstream use (filter/score docs) needs
    exactly this per-doc summary.
    """
    toked, spans = _positional_spans(df, k, text_col, id_col)
    # checkpointed: the positional-span table feeds the occurrence count
    # AND the join back through different exchanges — without it the
    # k-token concat+md5 window pass (the dominant per-row cost) executes
    # twice
    spans = spans.localCheckpoint(eager=False)
    n = F.size("__toks")
    occ = spans.groupBy("h").agg(
        F.count("*").alias("n_occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    dup = spans.join(occ.filter(F.col("n_occ") >= 2), "h").groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias("n_cross_spans"),
        F.min("pos").alias("first_dup_pos"),
    )
    totals = toked.select(
        "doc_id", F.greatest(n - k + 1, F.lit(0)).alias("n_spans")
    )
    return (
        totals.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("n_cross_spans", F.lit(0)).cast("bigint").alias("n_cross_spans"),
            "first_dup_pos",
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope: str = "corpus",
) -> DataFrame:
    """Exact-substring dedup, REMOVAL leg (Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better", ExactSubstr): delete every
    token covered by a k-token window whose text occurs ≥2 times corpus-wide
    (``scope='corpus'``) or in ≥2 distinct documents (``scope='cross'`` —
    keeps within-document repetition). `duplicate_spans` is the metrics leg
    of the same machinery; this produces the cleaned corpus.

    Output per document: ``text`` rebuilt from the surviving tokens
    (single-space joined, lowercased — removal operates on the normalized
    token stream, the tokenization contract shared with duplicate_spans),
    ``n_tokens`` (original), ``n_removed`` (tokens deleted).

    Scale shape: one span-keyed partial aggregate + one span-keyed join
    (8-byte hashed keys), then covered positions are computed PER DOC with
    array built-ins — duplicated span starts collect into one array per doc
    (bounded by doc length), expand to a distinct covered-position array,
    and a two-arg `filter` lambda drops covered tokens in place. No
    per-token explode/shuffle: the only wide exchanges carry span hashes
    and one row per doc. Per-row cost is O(n_tokens × n_covered) array
    scanning — bounded by document length, embarrassingly parallel.
    """
    if scope not in ("corpus", "cross"):
        raise ValueError(f"scope must be 'corpus' or 'cross', got {scope!r}")
    toked, spans = _positional_spans(df, k, text_col, id_col)
    # same double-reference as duplicate_spans
    spans = spans.localCheckpoint(eager=False)
    occ = spans.groupBy("h").agg(
        F.count("*").alias("n_occ"),
        F.count_distinct("doc_id").alias("n_docs"),
    )
    dup_ok = (
        F.col("n_occ") >= 2 if scope == "corpus" else F.col("n_docs") >= 2
    )
    starts = (
        spans.join(occ.filter(dup_ok), "h")
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("pos")).alias("__starts"))
    )
    joined = toked.join(starts, "doc_id", "left").withColumn(
        "__cov",
        F.when(F.col("__starts").isNull(), F.array().cast("array<int>")).otherwise(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        "__starts", lambda p: F.sequence(p, p + F.lit(k - 1))
                    )
                )
            ).cast("array<int>")
        ),
    )
    kept = F.filter(
        "__toks", lambda x, i: ~F.array_contains(F.col("__cov"), i.cast("int"))
    )
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("text"),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.size("__cov").cast("bigint").alias("n_removed"),
    )


def dedup_keep_best(
    df: DataFrame,
    score: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalized: bool = False,
) -> DataFrame:
    """Exact dedup with a QUALITY keeper policy: within each duplicate
    group, keep the row with the highest score (ties → min id, NULL score
    loses) instead of blindly the min id — the standard curation move of
    keeping the longest/cleanest copy of near-identical pages. One hash
    aggregate (min_by on a keeper_rank struct), same scale shape as
    exact_dedup.

    `normalized=True` groups on the normalization fingerprint
    (lowercase/punct-strip/whitespace-collapse) instead of raw md5.
    Output: (content_hash, keeper, keeper_score, n_copies).
    """
    if normalized:
        from platform_spark.llmdata.text import fingerprint

        key = fingerprint(F.col(text_col))
    else:
        key = _text_hash(text_col)
    staged = df.select(
        key.alias("content_hash"),
        F.col(id_col).alias("__id"),
        score.alias("__score"),
    )
    from pyspark.sql.types import NumericType

    if not isinstance(staged.schema["__score"].dataType, NumericType):
        raise TypeError(
            "dedup_keep_best score must be numeric "
            f"(got {staged.schema['__score'].dataType.simpleString()}); "
            "the keeper order negates it"
        )
    return staged.groupBy("content_hash").agg(
        F.min_by(
            F.col("__id"),
            keeper_rank(F.col("__score"), F.col("__id")),
        ).alias("keeper"),
        F.max("__score").alias("keeper_score"),
        F.count("*").alias("n_copies"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-token shingle, then keep the MINIMUM
    hash of each sliding window of `window` consecutive shingle hashes —
    a compact, position-robust fingerprint set that guarantees any shared
    run of ≥ k+window-1 tokens contributes at least one common
    fingerprint. The classic rolling-hash document-fingerprinting scheme;
    two docs' overlap is estimated by joining on (fingerprint).

    All JVM-side: one tokenize, one transform to shingle hashes, one
    windowed array_min transform, array_distinct, explode — zero
    shuffle before the caller's join/agg. Output: (doc_id, fingerprint).
    """
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    staged = toked.select(
        "doc_id",
        _token_windows(
            F.col("__toks"), k, lambda i, w: md5_int(w), "array<bigint>"
        ).alias("__hs"),
    )
    m = F.size("__hs")
    win_idx = F.sequence(F.lit(0), F.greatest(m - window, F.lit(-1)))
    fps = F.when(m < window, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            win_idx, lambda i: F.array_min(F.slice(F.col("__hs"), i + 1, window))
        )
    )
    return staged.select(
        "doc_id", F.explode(F.array_distinct(fps)).alias("fingerprint")
    )
