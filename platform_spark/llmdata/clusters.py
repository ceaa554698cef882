"""Duplicate-cluster resolution: pairs → connected components → keepers.

Dedup operators (exact/minhash/simhash/ngram in dedup.py) emit PAIRS; a
training-data pipeline then needs each *cluster* of mutual duplicates
collapsed to one canonical document. That is connected components with the
min doc id as the cluster label — computed by iterative min-label
propagation: each round every node takes the min label among itself and
its neighbors; converges in O(component diameter) rounds.

Scale posture: each round is one join + one aggregate on the (symmetric)
edge list — all shuffles keyed by node id, no driver-side state beyond the
convergence counter (one count() action per round, the standard pattern
for iterative fixpoints à la GraphX/Pregel). Duplicate clusters are
near-cliques in practice, so diameter — and round count — is tiny (2-3).

Fast path (`dedup_clusters_fast` / `embedding_clusters_fast`): when the
deliverable is clusters/keepers rather than the pair list, materializing
all C(c,2) intra-cluster pairs is wasted work — on corpora dominated by
replicated documents the pair count grows quadratically in copy count
(the sf1 rehearsal measured ~100× pairs from 10× replicated data). The
fix: propagate labels over the content-collapsed rep graph
(dedup.ngram_jaccard_rep_graph / dedup.embedding_rep_graph — candidate
generation on distinct contents, self rows for contents whose copies
pair), then expand labels back to every doc through the content hash.
Output is provably identical to `dedup_clusters(<pairs over all docs>)`
because similarity is a pure function of content — the equality argument,
including the copy-weighted hot-shingle set and the self-pair jaccard
formula, lives with the graph builders in dedup.py. A star-edge scheme
(bucket-member → bucket-min edges) was considered instead and rejected:
with exact-verification in the loop it can split components when the
bucket min fails verification against a true duplicate, so its output is
NOT always equal to the pairwise path; exact-collapse is both cheaper and
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: at or below this many pair rows (each undirected pair once, self rows
#: included) the component resolution runs as ONE driver-side union-find
#: instead of iterative Spark rounds. The
#: rep-collapsed dup graph is tiny relative to the corpus (exact-dup
#: collapse removes the cliques; what remains is near-dup bridges —
#: at sf0.1 the gate graphs carry a few hundred edges), and each Spark
#: propagation round costs 3 shuffles + a checkpoint + a count action
#: regardless of size, so small graphs were paying ~seconds of pure
#: scheduler overhead. 1M edges collect to ~50 MB via Arrow and
#: union-find in ~1 s of driver CPU — bounded and cheap — while a graph
#: that big or bigger (a 100 TB corpus CAN exceed it) takes the
#: distributed path unchanged.
_DRIVER_CC_MAX_EDGES = 1_000_000

#: …and a BYTE gate alongside the edge count (r14 verdict #3): the
#: 1M-edge cap assumed ~50 B/id, which URL-keyed or content-hash-keyed
#: graphs break — 1M edges of 2 kB URLs would collect ~4 GB and stall
#: the driver. The same strategy-picking job therefore also sums the
#: ids' rendered lengths; past this many estimated collected bytes the
#: distributed path runs regardless of edge count.
_DRIVER_CC_MAX_BYTES = 256 * 1024 * 1024

#: pandas object-dtype per-cell overhead (PyObject str header +
#: pointer): ~60 B per value on CPython/x86-64, two values per edge —
#: counted so the byte estimate reflects driver heap, not raw char mass.
_DRIVER_CC_CELL_OVERHEAD = 120


def _fits_driver(edges: DataFrame) -> bool:
    """Whether the (src, dst) frame `edges` collects within
    _DRIVER_CC_MAX_EDGES rows AND _DRIVER_CC_MAX_BYTES estimated driver
    bytes. One single-pass aggregate over an already materialized frame:
    the row cap alone assumed ~50 B/id, which URL-/hash-keyed graphs
    break (r14 verdict #3), so the same job sums the ids' rendered
    lengths."""
    stats = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.length(F.col("src").cast("string"))
            + F.length(F.col("dst").cast("string"))
        ).alias("chars"),
    ).first()
    n_edges = stats["n"]
    est_bytes = (stats["chars"] or 0) + n_edges * _DRIVER_CC_CELL_OVERHEAD
    return n_edges <= _DRIVER_CC_MAX_EDGES and est_bytes <= _DRIVER_CC_MAX_BYTES


def _driver_min_labels(edges: DataFrame) -> DataFrame:
    """(node, label) by union-find on the driver — the small-graph fast
    path, one collect of the (src, dst) frame `edges`. Edges are
    undirected and every id on either side is a node, so a self edge
    (x, x) makes x a node of its own. Min-root union keeps the label =
    component-min invariant the distributed path produces (string ids
    compare identically: UTF-8 byte order preserves code-point order),
    so the two paths are result-identical and the oracle gates cover
    whichever fires."""
    from pyspark.sql import types as T

    pdf = edges.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    src, dst = pdf["src"].tolist(), pdf["dst"].tolist()
    for s, d in zip(src, dst):
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs  # min root wins ⇒ root IS the component min

    node_type = edges.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type),
            T.StructField("label", node_type),
        ]
    )
    # ship the labels back through Arrow (pandas createDataFrame) instead
    # of pickled Python rows: the row path serializes each tuple via py4j
    # and showed up as pure wait time in the final stage's task profile
    import pandas as pd

    labels = sorted((n, find(n)) for n in set(src) | set(dst))
    pdf_out = pd.DataFrame(labels, columns=["node", "label"])
    return edges.sparkSession.createDataFrame(pdf_out, schema)


def _propagate_min_labels(
    pairs: DataFrame, a_col: str, b_col: str, max_iterations: int
) -> DataFrame:
    """(node, label) for every node in `pairs`, label = min node id of its
    connected component; a self pair (x, x) makes x a node. The pair list
    is materialized once; small graphs then resolve straight from it as
    one driver union-find (_fits_driver: capped by BOTH
    _DRIVER_CC_MAX_EDGES and the estimated collected bytes
    _DRIVER_CC_MAX_BYTES — long URL ids trip the byte gate well before
    the edge gate); larger ones run iterative min-label propagation and
    raise if not converged (a silent partial result would split
    components)."""
    # materialize once: the pair-generating plan (often an expensive
    # similarity join) must not re-execute for the strategy pick, the
    # collect or every propagation round
    pairs = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=True)
    if _fits_driver(pairs):
        return _driver_min_labels(pairs)
    edges = (
        # BOTH edge directions from ONE pass over `pairs` (r15): explode
        # of a 2-struct array emits the row multiset of
        # union(select(a,b), select(b,a)) in a single read
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__chg"),
            )
        )
        # pointer-jumping shortcut: also adopt the label's OWN label
        # (always <= the label under min-propagation), turning the
        # diameter-bound walk into ~log(diameter) rounds — each round
        # costs one extra self-join but saves a full round's action +
        # checkpoint on long paths
        lab2 = updated.select(
            F.col("node").alias("__n2"), F.col("label").alias("__l2")
        )
        updated = (
            updated.join(lab2, updated.label == F.col("__n2"), "left")
            .select(
                "node",
                F.coalesce(F.col("__l2"), F.col("label")).alias("label"),
                (F.col("__chg") | (F.col("__l2") < F.col("label"))).alias("__chg"),
            )
        )
        # lazy checkpoint + count = ONE job per round: the count is the
        # materializing action, so the lineage truncation rides the
        # convergence check instead of running as its own job (the legs
        # are fixed-overhead-bound — at sf0.001 and sf0.1 they time
        # within 2x of each other — so halving the actions per round is
        # the lever, not shuffle volume)
        updated = updated.localCheckpoint(eager=False)
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        # component diameter exceeded max_iterations; dup clusters are
        # near-cliques, so this means pathological input or too small a bound
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iterations} rounds "
            f"({changed} labels still changing); raise max_iterations"
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id) for every doc in `pairs`, where cluster_id is
    the min doc id of its connected component; plus is_keeper."""
    labels = _propagate_min_labels(pairs, a_col, b_col, max_iterations)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def _cluster_rep_graph(graph, max_iterations: int) -> DataFrame:
    """Shared tail of the fast cluster paths: resolve min labels over the
    rep-level pair graph, self rows included (a self row with no other
    pair is a self-cluster), then expand back to every doc through the
    content membership.

    cluster_id over the expanded graph = min doc id of the component =
    min rep id (each rep is already the min id among its copies), which is
    exactly the resolved label. Rep pairs are ~linear in distinct contents
    (tiny next to the corpus), so the pair checkpoint in
    _propagate_min_labels is bounded state. The expanded (doc_id,
    cluster_id, is_keeper) frame is a lazy checkpoint, so every reader of
    the clusters (keepers, dedup, a drop report) shares one expansion."""
    labels = _propagate_min_labels(graph.pairs, "rep_a", "rep_b", max_iterations)
    expanded = graph.membership.join(
        labels.withColumnRenamed("node", "rep_id"), "rep_id"
    )
    return expanded.select(
        F.col("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    ).localCheckpoint(eager=False)


def dedup_clusters_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    stop_shingle_df: float = 0.2,
    max_iterations: int = 25,
) -> DataFrame:
    """Identical output to
    ``dedup_clusters(ngram_jaccard_pairs(df, k=k, threshold=threshold,
    stop_shingle_df=stop_shingle_df))`` without materializing O(copies²)
    pairs: exact-collapse → content-level Jaccard graph → expand.

    Equality: components of the all-docs graph = components of the content
    graph blown up with exact-duplicate cliques (where the copies actually
    pair — the rep graph's self rows apply the pairwise self-pair formula
    exactly; see ngram_jaccard_rep_graph); min doc id per component =
    propagated min rep id.
    """
    from platform_spark.llmdata.dedup import ngram_jaccard_rep_graph

    graph = ngram_jaccard_rep_graph(
        df, text_col, id_col, k, threshold, stop_shingle_df
    )
    return _cluster_rep_graph(graph, max_iterations)


def embedding_clusters_fast(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_hyperplanes: int = 16,
    bands: int = 4,
    max_iterations: int = 25,
    dim: int | None = None,
) -> DataFrame:
    """Identical output to
    ``dedup_clusters(embedding_neardup_pairs(df, ...), "id_a", "id_b")``
    without materializing O(copies²) pairs. Equality argument (incl. the
    zero-vector guard: NULL self-cosine drops the self row exactly as the
    pairwise verify drops copy pairs) lives in embedding_rep_graph.
    Column names doc_id/cluster_id/is_keeper match dedup_clusters (doc_id
    carries the vec id)."""
    from platform_spark.llmdata.dedup import embedding_rep_graph

    graph = embedding_rep_graph(
        df, vec_col, id_col, threshold, n_hyperplanes, bands, dim
    )
    return _cluster_rep_graph(graph, max_iterations)


def cluster_summary(clusters: DataFrame) -> DataFrame:
    """One row per cluster: size + keeper (min id)."""
    return clusters.groupBy("cluster_id").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper")
    )
