"""Similarity search over embedding columns (`array<float>`).

Two paths:
- brute-force cosine top-k: broadcast the (small) query set against the
  corpus scan — one pass, no shuffle of the corpus, embarrassingly
  parallel. This is the exact baseline.
- IVF-style bucketed ANN: assign corpus vectors to centroid buckets
  (deterministic hash-seeded centroids here; plug in k-means for recall),
  probe only the closest buckets per query.

All vector math is built-in array functions (zip_with/aggregate) — JVM
codegen, no Python in the per-row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def double_matrix_lit(val) -> Column:
    """Nested double-array literal built in ONE py4j round trip.

    ``F.lit`` on a (nested) Python list recurses into one ``lit()`` +
    ``array()`` py4j call PER ELEMENT — a 16x64 centroid matrix costs
    ~1k driver round trips (~0.5-1 s of pure socket latency, measured via
    cProfile on the ivfpq gate: 13k py4j commands, 2.9 s). Rendering the
    same structure as SQL text and parsing it with one ``F.expr`` yields
    the IDENTICAL CreateArray(Literal<double>) tree — 'D'-suffixed
    literals are doubles, and Python's repr round-trips bit-exactly
    through Java's correctly-rounded double parse — which Catalyst
    constant-folds to the same single Literal either way."""

    return F.expr(_double_matrix_sql(val))


def _double_matrix_sql(val) -> str:
    """The SQL text behind `double_matrix_lit` — exposed so larger
    SQL-text builders can embed the matrix without a Column detour."""
    if isinstance(val, (list, tuple)):
        return "array(" + ",".join(_double_matrix_sql(x) for x in val) + ")"
    return repr(float(val)) + "D"


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with the norms HOISTED: na/nb are ``norm_expr`` values
    computed once per VECTOR at staging time instead of once per
    candidate pair — the higher-order-function folds cosine_expr
    evaluates are interpreted (not codegen), so on a pair-heavy verify
    2/3 of the per-pair work is redundant norm recomputation (r13:
    measured 1.9x on the ecf leg). Same expression tree over the same
    doubles ⇒ bit-identical to cosine_expr."""
    return dot_expr(a, b) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors. The query side is broadcast (small by construction); ties
    break on corpus id for determinism; cosine rounded to 6 dp."""
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_expr(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv")))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "corpus_id",
        F.round(
            cosine_prenorm(
                F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def fit_kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 42,
    sample_fraction: float | None = None,
    deterministic: bool = False,
) -> list[list[float]]:
    """Real IVF centroids: k-means (pyspark.ml, fixed seed) over the corpus
    (or a sample at scale — centroid quality needs only a sketch of the
    distribution, so fit on ~1M sampled rows at 100 TB).

    ``deterministic=True`` coalesces the (sampled) fit input to one
    partition so per-iteration centroid sums see a fixed row order — the
    fitted matrix is then bit-stable across sessions/partition layouts,
    which the correctness gate needs (its oracle carries the matrix as a
    literal). Fit input is a sample/sketch by design, so one partition is
    not a scale bottleneck."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = corpus.select(array_to_vector(to_double(F.col(vec_col))).alias("features"))
    if sample_fraction is not None:
        data = data.sample(fraction=sample_fraction, seed=seed)
    if deterministic:
        data = data.coalesce(1)
    model = KMeans(k=n_centroids, maxIter=max_iter, seed=seed).fit(data)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def hash_centroid_matrix(n_centroids: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random centroids from md5 — portable math that
    DuckDB reproduces bit-exactly (first 8 digest bytes big-endian → unit
    interval → [-1, 1]), so bucket assignment is oracle-checkable."""
    import hashlib
    import struct

    matrix = []
    for ci in range(n_centroids):
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"centroid-{ci}-{i}".encode()).digest()
            (u,) = struct.unpack(">Q", h[:8])
            vals.append((u / float(1 << 64)) * 2.0 - 1.0)
        matrix.append(vals)
    return matrix


def nearest_centroids_expr(
    cent_matrix: Column, n_centroids: int, vec: Column, n: int
) -> Column:
    """Indices of the n nearest centroids by cosine (ties break toward the
    higher index — struct sort DESC on (sim, idx)). One literal matrix
    traversed with transform: a single compact expression tree, codegen-flat
    as n_centroids×dim grows."""
    sims = F.transform(cent_matrix, lambda c: cosine_expr(vec, c))
    idx = F.sequence(F.lit(0), F.lit(n_centroids - 1))
    ranked = F.sort_array(
        F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("s"), i.alias("i"))),
        asc=False,
    )
    return F.slice(F.transform(ranked, lambda r: r["i"]), 1, n)


def _dot_sql(a: str, b: str) -> str:
    """SQL text of `dot_expr` — same zip_with/aggregate tree, same fold
    order, parsed in the enclosing expression's single py4j call."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _to_double_sql(col: str) -> str:
    """SQL text of `to_double` — the same Cast-under-transform tree."""
    return f"transform({col}, x -> cast(x as double))"


def _norm_sql(a: str) -> str:
    """SQL text of `norm_expr`."""
    return f"sqrt({_dot_sql(a, a)})"


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def _nearest_centroids_sql(
    matrix_sql: str, n_centroids: int, vec_sql: str, n: int
) -> str:
    """SQL text of `nearest_centroids_expr` (r15): the DSL form costs
    ~10 py4j round trips per higher-order-function lambda (~8 lambdas
    here, plus one per cosine term), so each use burned ~0.15-0.3 s of
    driver socket latency; the text form parses to the same analyzed
    tree in ONE call. Equivalence (same indices, same tie-break) is
    pinned by a dedicated pytest against the DSL form."""
    return (
        "slice(transform(sort_array(zip_with("
        f"transform({matrix_sql}, c -> {_cosine_sql(vec_sql, 'c')}), "
        f"sequence(0, {n_centroids - 1}), "
        "(s, i) -> struct(s, i)), false), r -> r.i), "
        f"1, {n})"
    )


def _norms_sql(matrix: list[list[float]]) -> str:
    """Literal array of the matrix's row norms, computed with the SAME
    left fold (((0.0 + x0*x0) + x1*x1) + ...) and sqrt the engine's
    `_norm_sql` evaluates — Python floats ARE IEEE doubles, `sum()`
    folds left from 0, and `repr` round-trips exactly, so each literal
    is bit-identical to sqrt(dot_expr(c, c)) over the parsed matrix
    literal (pinned in pytest next to the prenorm equivalence test)."""
    import math

    norms = [math.sqrt(sum(float(x) * float(x) for x in c)) for c in matrix]
    return "array(" + ",".join(repr(n) + "D" for n in norms) + ")"


def _nearest_centroids_prenorm_sql(
    matrix_sql: str,
    norms_sql: str,
    n_centroids: int,
    vec_sql: str,
    nv_sql: str,
    n: int,
) -> str:
    """`_nearest_centroids_sql` with both norms HOISTED (r15, guide §1.2
    step 2 / §4.1): the cosine form re-folds sqrt(dot(v,v)) AND
    sqrt(dot(c,c)) afresh for every centroid — 2 redundant dim-length
    interpreted folds per (vector, centroid) — although the vector norm
    is a pure per-row function (stage it once as ``nv_sql``) and the
    centroid norms are compile-time literals (``_norms_sql``). Same
    dots divided by bit-identical norm products ⇒ identical similarity
    values, order, and (sim, idx) tie-break; equivalence pinned in
    pytest against the DSL form on a tie-exercising matrix."""
    return (
        "slice(transform(sort_array(zip_with("
        f"zip_with({matrix_sql}, {norms_sql}, "
        f"(c, nb) -> {_dot_sql(vec_sql, 'c')} / ({nv_sql} * nb)), "
        f"sequence(0, {n_centroids - 1}), "
        "(s, i) -> struct(s, i)), false), r -> r.i), "
        f"1, {n})"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: str | list[list[float]] = "hash",
    dim: int | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k.

    ``centroids`` picks the coarse quantizer: "hash" = deterministic
    pseudo-random unit vectors (bit-stable across runs/engines — the gate
    default), "kmeans" = fit real centroids with `fit_kmeans_centroids`
    (better recall), or pass a precomputed matrix. Corpus vectors are
    assigned to their nearest centroid once (a narrow shuffle-free map),
    queries probe their n_probe nearest centroid buckets. At 100 TB the
    bucket assignment becomes the partitioning key, so each query touches
    n_probe/n_centroids of the data.
    """
    if dim is None:  # 1-row probe; pass dim explicitly to save the job
        dim = len(corpus.select(vec_col).first()[0])

    if centroids == "kmeans":
        matrix = fit_kmeans_centroids(corpus, n_centroids, vec_col)
    elif centroids == "hash":
        matrix = hash_centroid_matrix(n_centroids, dim)
    else:
        matrix = centroids
        n_centroids = len(matrix)

    # single nested-array Literal (NOT n_centroids*dim CreateArray nodes):
    # the one-node tree keeps whole-stage-codegen compile time flat as
    # n_centroids*dim grows — measured ~0.4 s off the fixed overhead at 16x64
    matrix_sql = _double_matrix_sql(matrix)
    # prenorm assignment (r15): the vector norm is staged once per row
    # and the centroid norms are literals, so assignment costs
    # n_centroids dots + 1 norm per vector instead of 3*n_centroids
    # folds (bit-identical ranking; see _nearest_centroids_prenorm_sql)
    norms_sql = _norms_sql(matrix)

    def nearest(vec: str, nv: str, n: int) -> Column:
        return F.expr(
            _nearest_centroids_prenorm_sql(
                matrix_sql, norms_sql, n_centroids, vec, nv, n
            )
        )

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.expr(_to_double_sql(vec_col)).alias("cv"),
    )
    c = c.select("corpus_id", "cv", F.expr(_norm_sql("cv")).alias("cn"))
    c = c.select(
        "corpus_id", "cv", "cn", nearest("cv", "cn", 1)[0].alias("bucket")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(_to_double_sql(vec_col)).alias("qv"),
        F.expr(_norm_sql(_to_double_sql(vec_col))).alias("qn"),
    )
    q = q.withColumn("bucket", F.explode(nearest("qv", "qn", n_probe)))
    joined = c.join(F.broadcast(q), "bucket").filter(
        F.col("corpus_id") != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        "corpus_id",
        F.round(
            cosine_prenorm(
                F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")
            ),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 8,
    threshold: float = 0.95,
    centroids: str | list[list[float]] = "hash",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the embedding space
    coarsely, then within each cluster scan items in
    similarity-to-centroid order and drop any item whose cosine to an
    EARLIER item in that order reaches `threshold` — the released
    implementation's policy (max similarity to predecessors), which keeps
    exactly one representative per semantic near-duplicate group without
    an iterative component search.

    Output per vector: ``bucket`` (cluster index), ``centroid_cosine``
    (6 dp — the rank key), ``rank`` (1-based scan position in the
    cluster; ties toward lower id), ``is_kept``.

    Determinism: centroid assignment, the rank order (rounded cosine,
    then id), and the pairwise threshold test are all closed-form md5 /
    arithmetic — bit-reproducible in SQL, so the gate hash-checks the
    whole policy. ``centroids='kmeans'`` swaps in a pyspark.ml fit.

    Scale shape: one narrow map for assignment (literal centroid matrix,
    no shuffle), one shuffle on (bucket) for ranking, one within-bucket
    self-join on the upper triangle. Pairwise work is quadratic in
    CLUSTER size, not corpus size — exactly the SemDeDup design: pick
    n_clusters so clusters hold ~1-10k items (the paper used 50k clusters
    on LAION), and the bucket key partitions the corpus.
    """
    if dim is None:  # 1-row probe; pass dim explicitly to save the job
        dim = len(corpus.select(vec_col).first()[0])
    if centroids == "kmeans":
        matrix = fit_kmeans_centroids(corpus, n_clusters, vec_col)
    elif centroids == "hash":
        matrix = hash_centroid_matrix(n_clusters, dim)
    else:
        matrix = centroids
        n_clusters = len(matrix)
    matrix_sql = _double_matrix_sql(matrix)
    # prenorm assignment (r15): the vector norm is staged once per row —
    # it is ALSO the `nrm` column the pairwise verify needs below — and
    # the centroid norms are literals, so assignment + centroid_cosine
    # cost n_clusters dots + 1 norm per vector instead of ~3*n_clusters
    # folds (bit-identical; see _nearest_centroids_prenorm_sql)
    norms_sql = _norms_sql(matrix)

    c = corpus.select(
        F.col(id_col).alias("vec_id"), to_double(F.col(vec_col)).alias("v")
    ).select("*", norm_expr(F.col("v")).alias("nrm"))
    c = c.select(
        "*",
        F.expr(
            _nearest_centroids_prenorm_sql(
                matrix_sql, norms_sql, n_clusters, "v", "nrm", 1
            )
        )[0].alias("bucket"),
    )
    c = c.select(
        "*",
        F.round(
            F.expr(
                _dot_sql("v", f"element_at({matrix_sql}, bucket + 1)")
                + f" / (nrm * element_at({norms_sql}, bucket + 1))"
            ),
            6,
        ).alias("centroid_cosine"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.desc("centroid_cosine"), F.asc("vec_id")
    )
    # checkpointed: the ranked-with-norm table feeds BOTH sides of the
    # within-bucket upper-triangle join plus the final keeper join — three
    # references that would each re-run the interpreted centroid
    # assignment (n_clusters dot folds per vector) and the rank window
    with_norm = c.withColumn("rank", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    left = with_norm.select(
        "bucket", F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
        F.col("rank").alias("rank_a"),
    )
    right = with_norm.select(
        "bucket", F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
        F.col("rank").alias("rank_b"),
    )
    dropped = (
        left.join(right, "bucket")
        .filter(F.col("rank_b") < F.col("rank_a"))
        .filter(
            F.round(
                cosine_prenorm(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            )
            >= threshold
        )
        .select(F.col("id_a").alias("vec_id"))
        .distinct()
    )
    return (
        # join from the checkpointed with_norm (same rows as `ranked` plus the
        # norm column, projected away below) so the assignment+window
        # subtree is not executed a third time
        with_norm.join(
            dropped.withColumn("__drop", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "bucket",
            "centroid_cosine",
            "rank",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("is_kept"),
        )
    )


def _sq_dequantize_sql(vec: str, mins_sql: str, maxs_sql: str) -> str:
    """Scalar quantize+dequantize (v̂ = lo + q·(hi−lo)/255, q = half-up
    int8 code) as SQL text: the SAME zip_with tree the former Column
    lambdas built — element-wise arithmetic in identical order, CASE on
    a zero range exactly where the F.when sat — parsed with one F.expr
    instead of ~10 py4j round trips per lambda. Equivalence pinned by
    pytest against a Column-DSL reference."""
    rng = f"zip_with({maxs_sql}, {mins_sql}, (hi, lo) -> hi - lo)"
    q = (
        f"zip_with(zip_with({vec}, {mins_sql}, (x, lo) -> x - lo), {rng}, "
        f"(d, r) -> CASE WHEN r = 0.0D THEN 0.0D "
        f"ELSE FLOOR(d / r * 255.0D + 0.5D) END)"
    )
    return (
        f"zip_with(zip_with({q}, {rng}, (qq, r) -> qq * r / 255.0D), "
        f"{mins_sql}, (x, lo) -> x + lo)"
    )


def fit_scalar_quantizer(
    corpus: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, maxs) for int8 scalar quantization — one
    aggregate pass (2×dim scalar aggregates, no explode/shuffle), exact
    double min/max so the codebook is bit-deterministic. The codebook is
    2×dim doubles of bounded driver state, same budget as a centroid
    matrix; fit on a sample at 100 TB."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    # the 2×dim scalar aggregates ride TWO array() expressions parsed in
    # one F.expr each (r15): building them as individual Columns cost
    # ~900 py4j round trips (~0.6 s measured on the sq gate) for the
    # same aggregate tree
    mins_sql = "array(" + ",".join(
        f"min(element_at(__v, {i + 1}))" for i in range(dim)
    ) + ")"
    maxs_sql = "array(" + ",".join(
        f"max(element_at(__v, {i + 1}))" for i in range(dim)
    ) + ")"
    row = (
        corpus.select(to_double(F.col(vec_col)).alias("__v"))
        .agg(F.expr(mins_sql).alias("mn"), F.expr(maxs_sql).alias("mx"))
        .first()
    )
    return [float(x) for x in row["mn"]], [float(x) for x in row["mx"]]


def sq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: tuple[list[float], list[float]] | None = None,
    rerank: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Scalar-quantized ANN: the compression leg of a large-scale ANN
    stack. Corpus vectors are quantized to int8 codes per dimension
    (``floor((v-min)/(max-min)*255 + 0.5)`` — the explicit half-up rule,
    identical in every engine), the screen ranks candidates by cosine
    over the DEQUANTIZED codes (what an int8 index actually measures, at
    1/4 the bytes moved per vector), and the final k come from an exact
    rerank of the top ``k*rerank`` screen survivors on the original
    floats. Composes under IVF exactly as in production stacks
    (quantize within buckets).

    Determinism: codebook is exact double min/max; quantization and both
    cosines are closed-form arithmetic rounded at 6 dp with id
    tie-breaks — fully SQL-mirrorable, codebook travels as two literal
    arrays (single Literal nodes, codegen-flat).

    Output: (query_id, corpus_id, cosine, rank) — `cosine` is the EXACT
    score of the reranked survivors.
    """
    if codebook is None:
        codebook = fit_scalar_quantizer(corpus, vec_col)
    mins, maxs = codebook

    # few-call staging (r15): each chained withColumn re-analyzed the
    # whole quantize tree on the driver; two selects pay it twice total.
    # The quantize+dequantize expression itself is rendered as SQL text
    # (`_sq_dequantize_sql`, same recipe as _pq_dequantize_sql): the
    # zip_with lambda chain cost ~10 py4j round trips per lambda while
    # the one F.expr parses the identical tree.
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), to_double(F.col(vec_col)).alias("cv")
    ).select(
        "corpus_id",
        "cv",
        F.expr(
            _sq_dequantize_sql(
                "cv", _double_matrix_sql(mins), _double_matrix_sql(maxs)
            )
        ).alias("cq"),
    )
    c = c.select(
        "*", norm_expr(F.col("cq")).alias("cqn"), norm_expr(F.col("cv")).alias("cn")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("qv"),
        norm_expr(to_double(F.col(vec_col))).alias("qn"),
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    screened = joined.select(
        "query_id", "corpus_id", "cv", "qv", "cn", "qn",
        F.round(
            cosine_prenorm(
                F.col("cq"), F.col("qv"), F.col("cqn"), F.col("qn")
            ),
            6,
        ).alias("__approx"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("__approx"), F.asc("corpus_id"))
    survivors = screened.withColumn("__r", F.row_number().over(w1)).filter(
        F.col("__r") <= k * rerank
    )
    exact = survivors.select(
        "query_id", "corpus_id",
        F.round(
            cosine_prenorm(
                F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")
            ),
            6,
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def fit_pca_components(
    corpus: DataFrame,
    n_components: int,
    vec_col: str = "embedding",
    deterministic: bool = False,
) -> list[list[float]]:
    """Principal components of the corpus (pyspark.ml PCA; no RNG — the
    eigendecomposition is deterministic given input order, so
    ``deterministic=True``'s single-partition coalesce pins the matrix
    bit-stably across sessions, same as `fit_kmeans_centroids`). Returns
    n_components rows, each a dim-length component vector."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    data = corpus.select(
        array_to_vector(to_double(F.col(vec_col))).alias("features")
    )
    if deterministic:
        data = data.coalesce(1)
    model = PCA(k=n_components, inputCol="features", outputCol="pca").fit(data)
    m = model.pc.toArray()  # dim x k, column-major components
    return [
        [float(m[i][j]) for i in range(m.shape[0])] for j in range(m.shape[1])
    ]


def project_expr(vec: Column, components: list[list[float]]) -> Column:
    """Project a vector column onto a component matrix (plain uncentered
    dot products — mirrorable verbatim in SQL, unlike PCAModel.transform's
    internals). One nested-array Literal, codegen-flat."""
    matrix = double_matrix_lit(components)
    return F.transform(matrix, lambda c: dot_expr(vec, c))


def pca_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_components: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    components: str | list[list[float]] = "fit",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k in PCA-projected space: project both sides to
    `n_components` dims (a pure per-row map over one literal matrix —
    no shuffle, dim/n_components times less data into every downstream
    comparison), then exact cosine top-k among the projections.

    This is the standard dimension-reduction leg of a large-scale ANN
    stack — compose with `ivf_topk` (project first, bucket after) at
    100 TB; alone it is the cheap screen. Recall depends on the spectrum:
    real embedding corpora concentrate variance in few directions (high
    recall at dim/8); ISOTROPIC random vectors do not (the synthetic
    fixture measures ~4% — the recall pytest therefore uses spectrally
    structured data, and the gate checks the math, not the recall).

    ``components``: "fit" = fit deterministically from the corpus (the
    gate pins the resulting matrix in its oracle), or a precomputed
    matrix.
    """
    if components == "fit":
        matrix = [
            [round(x, 6) for x in c]
            for c in fit_pca_components(
                corpus, n_components, vec_col, deterministic=True
            )
        ]
    else:
        matrix = components

    def projected(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            project_expr(to_double(F.col(vec_col)), matrix).alias(vec_col),
        )

    return brute_force_topk(
        projected(corpus),
        projected(queries),
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        exclude_self=exclude_self,
    )


def fit_pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    dim: int | None = None,
    deterministic: bool = False,
) -> list[list[list[float]]]:
    """Product-quantization codebook: m independent per-subspace k-means
    fits (pyspark.ml, seed 42) over the dim/m-wide vector slices — the
    Jégou-et-al PQ recipe. Returns m x ksub x (dim/m) centroids.

    Bounded planning state (m small fits on a sample at 100 TB — the
    corpus-sized work is the assignment map in `pq_topk`, never the fit),
    same budget stance as the IVF/PCA fits. ``deterministic=True``
    single-partitions each fit input so the codebook is bit-stable."""
    if dim is None:
        raise ValueError("dim is required (carry it in topic config)")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # the m sub-fits are independent single-partition k-means jobs, each
    # dominated by fixed per-iteration job overhead — submit them from a
    # thread pool so they overlap on the cluster (guide-standard
    # concurrent-jobs pattern). Each fit's input, seed and row order are
    # untouched, so every sub-codebook is bit-identical to the
    # sequential loop's; only the wall time changes.
    from concurrent.futures import ThreadPoolExecutor

    def _fit_sub(j: int) -> list[list[float]]:
        sub = corpus.select(
            F.slice(to_double(F.col(vec_col)), j * dsub + 1, dsub).alias("sub")
        )
        return fit_kmeans_centroids(
            sub, ksub, vec_col="sub", deterministic=deterministic
        )

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(_fit_sub, range(m)))


def _pq_code_j(
    vec: Column, cb: Column, j: int, dsub: int
) -> Column:
    """1-based nearest-centroid index for subspace j (squared-L2 argmin,
    |c|^2 - 2<v,c> expansion — the |v|^2 term is constant per subspace and
    cannot change the argmin — ties to the lowest index via
    first-occurrence array_position). Every dot product is the same
    sequential fold the cosine math uses, so the oracle's
    list_dot_product mirrors it bit-exactly."""
    sub = F.slice(vec, (j - 1) * dsub + 1, dsub)
    cents = F.element_at(cb, j)
    dists = F.transform(cents, lambda c: dot_expr(c, c) - 2.0 * dot_expr(sub, c))
    return F.array_position(dists, F.array_min(dists)).cast("int")


def _pq_cb_lit(codebook: list[list[list[float]]]) -> Column:
    # ONE nested Literal node (codegen-flat, not a CreateArray tree)
    return double_matrix_lit(codebook)


def pq_codes_expr(vec: Column, codebook: list[list[list[float]]]) -> Column:
    """Per-subspace centroid assignments as an m-length int array (the
    m-byte PQ code word an index would store)."""
    m = len(codebook)
    dsub = len(codebook[0][0])
    cb = _pq_cb_lit(codebook)
    return F.array(*[_pq_code_j(vec, cb, j, dsub) for j in range(1, m + 1)])


def pq_dequantize_expr(
    vec: Column,
    codebook: list[list[list[float]]],
    cb: Column | None = None,
) -> Column:
    """Quantize + dequantize in one expression: the concatenation of each
    subspace's nearest centroid (what an ADC scan actually compares
    against). Each subspace's argmin is inlined exactly ONCE — routing
    this through a `codes` array column looks cleaner but is a collapse
    trap: when column pruning drops the intermediate, CollapseProject
    inlines the FULL m-subspace assignment into every one of the m
    element_at references, multiplying the work m-fold (measured 2 s →
    17 s on 20k vectors before this was flattened).

    ``cb`` optionally supplies the codebook as a COLUMN (see
    pq_codebook_frame): the inlined literal tree is ~1k nodes and this
    expression references it ~3 times per subspace, so every eager
    analysis pass walks ~24k effective nodes — a measured ~2 s of driver
    time per pq/ivfpq query construction. A one-row broadcast column
    reference keeps the values identical (element_at over the same
    array) while the analyzed tree stays ~100x smaller."""
    m = len(codebook)
    dsub = len(codebook[0][0])
    if cb is None:
        cb = _pq_cb_lit(codebook)
    return F.flatten(
        F.array(
            *[
                F.element_at(F.element_at(cb, j), _pq_code_j(vec, cb, j, dsub))
                for j in range(1, m + 1)
            ]
        )
    )


def _pq_dequantize_sql(vec_name: str, cb_name: str, m: int, dsub: int) -> str:
    """SQL-text twin of ``pq_dequantize_expr`` over NAMED columns (r15).

    Each pyspark higher-order-function lambda costs ~10 py4j round trips
    to construct; the dequantize tree holds ~50 of them, measured ~1 s of
    pure driver socket latency per pq/ivfpq query construction. This
    renders the SAME expression as one SQL string — one round trip, one
    parse. Tree equivalence, node for node: ``aggregate(zip_with(a, b,
    (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)`` is exactly
    ``dot_expr``; ``2.0D *`` binds before ``-`` as in the DSL's
    ``Subtract(dot, Multiply(2.0, dot))``; ``CAST(array_position(..) AS
    INT)`` is the DSL's ``.cast("int")``; integer ``element_at`` indices
    parse to the same int literals. Values are pinned by the pq/ivfpq
    oracle gates."""

    def dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            "(acc, x) -> acc + x)"
        )

    pieces = []
    for j in range(1, m + 1):
        sub = f"slice({vec_name}, {(j - 1) * dsub + 1}, {dsub})"
        cents = f"element_at({cb_name}, {j})"
        dists = (
            f"transform({cents}, c -> {dot('c', 'c')} - 2.0D * "
            f"{dot(sub, 'c')})"
        )
        code = (
            f"CAST(array_position({dists}, array_min({dists})) AS INT)"
        )
        pieces.append(f"element_at({cents}, {code})")
    return "flatten(array(" + ",".join(pieces) + "))"


def pq_codebook_frame(spark, codebook: list[list[list[float]]]) -> DataFrame:
    """One-row frame carrying the codebook as a single array column —
    cross-joined (broadcast) into the corpus scan so the PQ expressions
    reference it as data instead of re-inlining a ~1k-node literal tree
    per use (r15; see pq_dequantize_expr). The broadcast of one folded
    literal row is also the right 100 TB shape: the codebook ships once
    per executor, not once per expression reference in every task's
    codegen."""
    return spark.range(1).select(_pq_cb_lit(codebook).alias("__cb"))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: list[list[list[float]]] | None = None,
    rerank: int = 4,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Product-quantized ANN — the compression leg that scales past int8:
    corpus vectors quantize to m one-byte codes (m*8 bytes -> m bytes per
    vector at ksub<=256), the screen ranks candidates by cosine between
    the RECONSTRUCTED corpus vector and the raw query (asymmetric
    distance computation, Jégou-et-al PQ), and the final k come from an
    exact rerank of the top k*rerank survivors on the original floats.
    Composes under IVF exactly as in faiss-style IVFPQ stacks (quantize
    residuals within buckets).

    Determinism: the codebook travels as one nested literal; assignment
    is first-occurrence argmin on expansion-form squared L2; screen and
    rerank cosines round at 6 dp with id tie-breaks — fully
    SQL-mirrorable. Output: (query_id, corpus_id, cosine, rank) with
    `cosine` the EXACT score of the reranked survivors.
    """
    if codebook is None:
        if dim is None:
            raise ValueError("pass a codebook or dim to fit one")
        codebook = fit_pq_codebook(corpus, dim=dim, deterministic=True)
    # staged in THREE transformation calls, then a plan-truncating lazy
    # localCheckpoint (r15): Spark analyzes the full logical plan eagerly
    # on every DataFrame call, and the PQ dequantize tree is large enough
    # (m argmin subtrees over the codebook) that each of the old chained
    # withColumns re-paid a full JVM analysis of it — 8 withColumns
    # measured 1.9 s of pure driver latency on the ivfpq gate. The
    # checkpoint also keeps every downstream join/window analysis O(small)
    # and materializes the quantized columns once per run (no cross-run
    # state; values unchanged).
    cb_df = F.broadcast(pq_codebook_frame(corpus.sparkSession, codebook))
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), to_double(F.col(vec_col)).alias("cv")
    )
    c = c.crossJoin(cb_df).select(
        "corpus_id",
        "cv",
        F.expr(
            _pq_dequantize_sql("cv", "__cb", len(codebook), len(codebook[0][0]))
        ).alias("cq"),
    )
    c = c.select(
        "*", norm_expr(F.col("cq")).alias("cqn"), norm_expr(F.col("cv")).alias("cn")
    ).localCheckpoint(eager=False)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("qv"),
        norm_expr(to_double(F.col(vec_col))).alias("qn"),
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("corpus_id") != F.col("query_id"))
    screened = joined.select(
        "query_id", "corpus_id", "cv", "qv", "cn", "qn",
        F.round(
            cosine_prenorm(
                F.col("cq"), F.col("qv"), F.col("cqn"), F.col("qn")
            ),
            6,
        ).alias("__approx"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("__approx"), F.asc("corpus_id"))
    survivors = screened.withColumn("__r", F.row_number().over(w1)).filter(
        F.col("__r") <= k * rerank
    )
    exact = survivors.select(
        "query_id", "corpus_id",
        F.round(
            cosine_prenorm(
                F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")
            ),
            6,
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: str | list[list[float]] = "hash",
    codebook: list[list[list[float]]] | None = None,
    rerank: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """IVF + PQ composed — the faiss-style IVFPQ stack, end to end:

    1. **Coarse quantizer** (IVF): corpus vectors assign to their nearest
       centroid bucket (shuffle-free map over one literal matrix);
       queries probe their ``n_probe`` nearest buckets, so each query
       touches ~n_probe/n_centroids of the corpus.
    2. **Fine quantizer** (PQ): within the probed buckets, candidates
       rank by cosine against the PQ-reconstructed vector
       (`pq_dequantize_expr` — m one-byte codes per vector is what a real
       index stores and scans).
    3. **Exact rerank**: the top ``k*rerank`` screen survivors re-score
       on the original floats; the final k are exact cosines.

    At 100 TB the bucket is the partitioning key and the PQ codes are
    the only per-vector state the scan touches — the classic
    billion-scale recipe. Every stage is the same closed-form math as
    its standalone gate (`llm_ann_ivf_topk`, `llm_ann_pq_topk`), so the
    composition is fully SQL-mirrorable.
    Output: (query_id, corpus_id, cosine, rank).
    """
    if dim is None:
        raise ValueError("dim is required (carry it in topic config)")
    if codebook is None:
        codebook = fit_pq_codebook(corpus, dim=dim, deterministic=True)
    if centroids == "kmeans":
        matrix = fit_kmeans_centroids(corpus, n_centroids, vec_col)
    elif centroids == "hash":
        matrix = hash_centroid_matrix(n_centroids, dim)
    else:
        matrix = centroids
        n_centroids = len(matrix)
    matrix_sql = _double_matrix_sql(matrix)
    # prenorm assignment (r15): see ivf_topk — staged vector norm +
    # literal centroid norms, bit-identical bucket ranking
    norms_sql = _norms_sql(matrix)

    def nearest(vec: str, nv: str, n: int) -> Column:
        return F.expr(
            _nearest_centroids_prenorm_sql(
                matrix_sql, norms_sql, n_centroids, vec, nv, n
            )
        )

    # same few-call staging + lazy plan-truncating checkpoint as pq_topk
    # (r15): the bucket + PQ trees are the analysis-heavy part, and the
    # old 8-withColumn chain re-analyzed them per call (measured 1.9 s
    # driver-side on this gate)
    cb_df = F.broadcast(pq_codebook_frame(corpus.sparkSession, codebook))
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), to_double(F.col(vec_col)).alias("cv")
    )
    c = c.select("corpus_id", "cv", norm_expr(F.col("cv")).alias("cn"))
    c = c.crossJoin(cb_df).select(
        "corpus_id",
        "cv",
        "cn",
        nearest("cv", "cn", 1)[0].alias("bucket"),
        F.expr(
            _pq_dequantize_sql("cv", "__cb", len(codebook), len(codebook[0][0]))
        ).alias("cq"),
    )
    c = c.select(
        "*", norm_expr(F.col("cq")).alias("cqn")
    ).localCheckpoint(eager=False)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("qv"),
        norm_expr(to_double(F.col(vec_col))).alias("qn"),
    )
    q = q.withColumn("bucket", F.explode(nearest("qv", "qn", n_probe)))
    joined = c.join(F.broadcast(q), "bucket").filter(
        F.col("corpus_id") != F.col("query_id")
    )
    screened = joined.select(
        "query_id", "corpus_id", "cv", "qv", "cn", "qn",
        F.round(
            cosine_prenorm(
                F.col("cq"), F.col("qv"), F.col("cqn"), F.col("qn")
            ),
            6,
        ).alias("__approx"),
    )
    w1 = Window.partitionBy("query_id").orderBy(F.desc("__approx"), F.asc("corpus_id"))
    survivors = screened.withColumn("__r", F.row_number().over(w1)).filter(
        F.col("__r") <= k * rerank
    )
    exact = survivors.select(
        "query_id", "corpus_id",
        F.round(
            cosine_prenorm(
                F.col("cv"), F.col("qv"), F.col("cn"), F.col("qn")
            ),
            6,
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )
