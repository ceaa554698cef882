"""LLM-data operator tests: pipeline correctness beyond the oracle gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Column, DataFrame

from platform_spark.llmdata import dedup as D
from platform_spark.llmdata import multimodal as M
from platform_spark.llmdata import similarity as S
from platform_spark.llmdata import text as T


@pytest.fixture(scope="module")
def docs(catalog):
    return catalog.table("documents")


@pytest.fixture(scope="module")
def embs(catalog):
    return catalog.table("embeddings")


def test_analyze_columns(docs):
    out = T.analyze(docs.limit(50))
    row = out.first()
    assert row["n_tokens"] > 0
    assert 0.0 <= row["quality"] <= 1.0
    assert row["lang_pred"] in ("en", "unk")
    assert len(row["fingerprint"]) == 32


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    base = docs.limit(20)
    dup = base.withColumn("doc_id", F.col("doc_id") + 100000)
    out = D.exact_dedup(base.unionByName(dup))
    assert out.count() == 20
    assert out.filter(F.col("n_copies") == 2).count() == 20
    # keeper is always the lower id
    assert out.filter(F.col("keeper") >= 100000).count() == 0


def test_minhash_lsh_recovers_near_duplicates(spark, docs):
    base = docs.limit(30).select("doc_id", "text")
    # plant near-duplicates: append a token (high jaccard), ids +1000
    near = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    both = base.unionByName(near)
    pairs = D.minhash_dedup_pairs(both, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    planted = {(i, i + 1000) for (i,) in base.select("doc_id").collect()}
    # LSH is probabilistic but near-identical docs collide in ≥1 band
    assert len(got & planted) >= int(0.9 * len(planted))


def test_simhash_near_duplicates_have_small_hamming(spark, docs):
    base = docs.limit(20).select("doc_id", "text")
    near = base.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    fp = D.simhash_table(base.unionByName(near))
    rows = {r["doc_id"]: r["sh"] for r in fp.collect()}
    import statistics

    hams = [
        bin(rows[i] ^ rows[i + 1000]).count("1") for i in rows if i < 1000
    ]
    assert statistics.mean(hams) < 8  # one extra rare token flips few bits


def test_ngram_jaccard_exact_values(spark):
    data = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d x"),  # shingles: abc bcd cde vs abc bcd cdx → j=2/4
            (3, "q r s t u"),
        ],
        "doc_id: long, text: string",
    )
    pairs = D.ngram_jaccard_pairs(data, threshold=0.1, stop_shingle_df=1.1)
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert rows == {(1, 2): 0.5}


def test_brute_force_topk_matches_numpy(spark, embs):
    import numpy as np

    sample = embs.filter(F.col("vec_id") < 50)
    out = S.brute_force_topk(sample, sample.filter(F.col("vec_id") < 2), k=3)
    got = {
        (r["query_id"], r["rank"]): r["corpus_id"] for r in out.collect()
    }
    pdf = sample.toPandas().sort_values("vec_id")
    mat = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    for q in (0, 1):
        order = [
            ids[j]
            for j in sorted(
                (j for j in range(len(ids)) if ids[j] != q),
                key=lambda j: (-round(sims[q, j], 6), ids[j]),
            )
        ][:3]
        assert [got[(q, r)] for r in (1, 2, 3)] == order


def test_ivf_topk_reasonable_recall(spark, embs):
    sample = embs.filter(F.col("vec_id") < 200)
    queries = sample.filter(F.col("vec_id") < 5)
    brute = S.brute_force_topk(sample, queries, k=5)
    approx = S.ivf_topk(sample, queries, k=5, n_centroids=8, n_probe=4)
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    assert len(a & b) / len(b) >= 0.4  # probing half the buckets


def test_semantic_dedup_greedy_policy(spark):
    # two well-separated directions; plant a near-dup pair along each, plus
    # one isolated vector — only the later-ranked member of each pair drops
    import numpy as np

    rng = np.random.RandomState(7)
    base_a = rng.randn(16)
    base_b = rng.randn(16)
    rows = [
        (0, (base_a * 3.0).tolist()),
        (1, (base_a * 3.0 + rng.randn(16) * 0.01).tolist()),  # ~dup of 0
        (2, (base_b * 3.0).tolist()),
        (3, (base_b * 3.0 + rng.randn(16) * 0.01).tolist()),  # ~dup of 2
        (4, rng.randn(16).tolist()),                           # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in S.semantic_dedup(df, n_clusters=4, threshold=0.99).collect()}
    # each near-dup pair shares a bucket; exactly one member survives
    assert out[0].bucket == out[1].bucket and out[2].bucket == out[3].bucket
    assert out[0].is_kept != out[1].is_kept or (out[0].is_kept and out[1].is_kept) is False
    assert sum(1 for i in (0, 1) if out[i].is_kept) == 1
    assert sum(1 for i in (2, 3) if out[i].is_kept) == 1
    assert out[4].is_kept
    # the kept member of each pair is the earlier scan position
    for a, b in ((0, 1), (2, 3)):
        kept = a if out[a].is_kept else b
        other = b if kept == a else a
        assert out[kept].rank < out[other].rank

    # duplicate of a DROPPED doc still drops (predecessor rule is by rank,
    # not by kept-set): three mutual near-dups leave exactly one keeper
    rows3 = [
        (0, (base_a * 3.0).tolist()),
        (1, (base_a * 3.0 + rng.randn(16) * 0.005).tolist()),
        (2, (base_a * 3.0 + rng.randn(16) * 0.005).tolist()),
    ]
    df3 = spark.createDataFrame(rows3, "vec_id long, embedding array<float>")
    out3 = S.semantic_dedup(df3, n_clusters=2, threshold=0.99).collect()
    assert sum(1 for r in out3 if r.is_kept) == 1


def test_multimodal_decode_and_features(spark):
    rows = [(i, "image", bytes([i]) * 32, "image/png", None, None, None, None) for i in range(10)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.decode_media(df, decoder=M.fake_decode).collect()
    assert len(out) == 10
    assert all(16 <= r["width"] <= 80 for r in out)
    # real decoder is an explicit stub
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        M.decode_media(df, decoder=M.real_decode).collect()
    feats = M.content_features(df, dim=8).select("media_id", "features").collect()
    assert all(len(r["features"]) == 8 for r in feats)
    assert all(0.0 <= v <= 1.0 for r in feats for v in r["features"])


def test_materialize_packs_reconstruction(spark):
    """Every doc lands in exactly one sequence, order inside a sequence is
    the packing's content-hash order, and token totals are conserved."""
    from platform_spark.llmdata.sampling import materialize_packs, pack_sequences

    rows = [(i, f"doc{i} body", 10 + i % 3) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, n_tokens: long")
    packed = pack_sequences(df, "n_tokens", budget=25, n_buckets=4)
    seqs = materialize_packs(packed, eos="#").collect()
    all_docs = [t for r in seqs for t in r["sequence"].split("#")]
    assert sorted(all_docs) == sorted(r[1] for r in rows)  # once each
    assert sum(r["n_docs"] for r in seqs) == 40
    assert sum(r["n_tokens"] for r in seqs) == sum(r[2] for r in rows)
    # budget discipline: cumulative tokens through any non-final bin of a
    # bucket reach that many budget windows (undershoot only ever comes
    # from a predecessor's overflow spilling into the window — the packing
    # never opens a new bin while the current window has room)
    by_bucket: dict[int, list] = {}
    for r in seqs:
        by_bucket.setdefault(r["pack_bucket"], []).append(r)
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r["pack_bin"])
        cum = 0
        for r in rs[:-1]:
            cum += r["n_tokens"]
            assert cum >= 25 * (r["pack_bin"] + 1)


def test_token_frequencies_counts(spark):
    from platform_spark.llmdata.sampling import token_frequencies

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "bb cc"), (3, "")],
        "doc_id: long, text: string",
    )
    out = {r["token"]: (r["n_occurrences"], r["n_docs"]) for r in
           token_frequencies(df).collect()}
    assert out == {"aa": (2, 1), "bb": (2, 2), "cc": (1, 1)}
    out2 = {r["token"] for r in token_frequencies(df, min_count=2).collect()}
    assert out2 == {"aa", "bb"}


def test_curate_corpus_without_bench(spark, docs):
    """No-bench branch: the contaminated frame is empty and nothing is
    decontaminated away — curated == deduped ∘ splits."""
    from platform_spark.llmdata.pipeline import curate_corpus

    base = docs.select("doc_id", "text").filter("doc_id < 60")
    out = curate_corpus(base, bench=None)
    assert out["contaminated"].count() == 0
    assert out["curated"].count() == out["deduped"].count()
    assert set(out["curated"].columns) >= {"doc_id", "text", "split"}


def test_materialize_packs_layout_stable(spark):
    """Content-stability: the same corpus produces byte-identical
    sequences under any input partitioning."""
    from platform_spark.llmdata.sampling import materialize_packs, pack_sequences

    rows = [(i, f"d{i}", 7 + i % 5) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, n_tokens: long")

    def run(frame):
        packed = pack_sequences(frame, "n_tokens", budget=20, n_buckets=4)
        return {tuple(r) for r in materialize_packs(packed, eos="|").collect()}

    assert run(df) == run(df.repartition(7)) == run(df.repartition(1))


def test_partsupp_view_invariants(spark, catalog):
    """Derived partsupp: exactly 4 distinct suppliers per part, all FKs
    resolve, values inside dbgen-like ranges."""
    from pyspark.sql import functions as F

    ps = spark.table("partsupp")
    per_part = ps.groupBy("ps_partkey").agg(
        F.countDistinct("ps_suppkey").alias("n")
    )
    assert per_part.filter("n != 4").count() == 0
    n_parts = spark.table("part").count()
    assert ps.count() == 4 * n_parts
    orphans = ps.join(
        spark.table("supplier"),
        ps.ps_suppkey == F.col("s_suppkey"),
        "left_anti",
    )
    assert orphans.count() == 0
    bounds = ps.agg(
        F.min("ps_availqty"), F.max("ps_availqty"),
        F.min("ps_supplycost"), F.max("ps_supplycost"),
    ).first()
    assert bounds[0] >= 1 and bounds[1] <= 9999
    assert bounds[2] >= 1.0 and bounds[3] <= 1000.0


def test_partsupp_derivation_survives_1based_keys(spark):
    """Standard dbgen keys are 1-based; the fixtures are 0-based. The
    derivation maps supplier SLOTS through a rank bijection, so regenerated
    1-based (or gappy) keys must yield zero orphans and 4 distinct
    suppliers per part — and Spark/DuckDB must agree row-for-row on the
    same SQL text (the gates share it verbatim)."""
    import duckdb

    from platform_spark.topics import PARTSUPP_DERIVATION_SQL

    parts = [(k,) for k in range(1, 41)]          # 1-based part keys
    supps = [(k,) for k in (1, 2, 3, 5, 8, 13, 21)]  # 1-based AND gappy
    spark.createDataFrame(parts, "p_partkey: long").createOrReplaceTempView("part1b")
    spark.createDataFrame(supps, "s_suppkey: long").createOrReplaceTempView(
        "supplier1b"
    )
    sql = PARTSUPP_DERIVATION_SQL.replace("FROM part", "FROM part1b").replace(
        "FROM supplier", "FROM supplier1b"
    )
    got = spark.sql(sql)
    assert got.count() == 4 * len(parts)
    assert (
        got.groupBy("ps_partkey")
        .agg(F.countDistinct("ps_suppkey").alias("n"))
        .filter("n != 4")
        .count()
        == 0
    )
    valid = {k for (k,) in supps}
    assert {r["ps_suppkey"] for r in got.select("ps_suppkey").distinct().collect()} <= valid

    con = duckdb.connect()
    con.execute("CREATE TABLE part1b(p_partkey BIGINT)")
    con.executemany("INSERT INTO part1b VALUES (?)", parts)
    con.execute("CREATE TABLE supplier1b(s_suppkey BIGINT)")
    con.executemany("INSERT INTO supplier1b VALUES (?)", supps)
    duck = {tuple(r) for r in con.execute(sql).fetchall()}
    assert {tuple(r) for r in got.collect()} == duck


def test_unigram_logprob_known_values(spark):
    """Hand-checked surprisal: 'aa' (3 of 4 tokens) scores ln(3/4), 'bb'
    ln(1/4); rare-token docs score lower; empty docs emit no row."""
    import math

    from platform_spark.llmdata.sampling import unigram_logprob

    df = spark.createDataFrame(
        [(1, "aa aa"), (2, "aa bb"), (3, "")], "doc_id: long, text: string"
    )
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert set(out) == {1, 2}
    lp_aa, lp_bb = round(math.log(3 / 4), 6), round(math.log(1 / 4), 6)
    assert out[1]["avg_logprob"] == round(lp_aa, 6)
    assert out[2]["avg_logprob"] == round((lp_aa + lp_bb) / 2, 6)
    assert out[2]["avg_logprob"] < out[1]["avg_logprob"]  # rarer -> lower


def test_pca_topk_recall_on_structured_spectrum(spark):
    """On data whose variance concentrates in few directions (the real-
    embedding shape), 8-of-32-dim PCA projection preserves neighborhoods:
    recall@5 vs the exact full-dim top-k stays high. Deterministic inputs
    (hash-derived), no RNG."""
    import math

    from platform_spark.llmdata.similarity import brute_force_topk, pca_topk

    def vec(i: int) -> list[float]:
        # 4 strong signal dims (smooth functions of i) + 28 tiny noise dims
        sig = [
            math.sin(i / 7.0),
            math.cos(i / 11.0),
            math.sin(i / 5.0 + 1.0),
            math.cos(i / 13.0 + 2.0),
        ]
        noise = [math.sin(i * (d + 3) * 2.39996) * 0.02 for d in range(28)]
        return [round(x, 6) for x in sig + noise]

    rows = [(i, vec(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    q = df.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["corpus_id"])
        for r in brute_force_topk(df, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["corpus_id"])
        for r in pca_topk(df, q, k=5, n_components=8).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.8


def test_real_decode_known_pixels():
    """real_decode parses PNG (all five filter types — the encoder cycles
    them per row), PPM, and BMP rasters of a known synthetic gradient and
    reports exact dims/channels/sums; JPEG magic raises."""
    from platform_spark.llmdata.multimodal import (
        encode_bmp,
        encode_png,
        encode_ppm,
        real_decode,
        synth_pixels,
    )

    w, h = 13, 9
    px = synth_pixels(5, w, h)
    want_sum = sum(px)
    for enc in (encode_png, encode_ppm, encode_bmp):
        d = real_decode(enc(w, h, px))
        assert (d["width"], d["height"], d["n_channels"]) == (w, h, 3), enc
        assert d["pixel_sum"] == want_sum, enc
        assert d["mean_intensity"] == round(want_sum / (w * h * 3) / 255.0, 6)
    # grayscale PGM with a header comment
    g = bytes((i * 37) % 256 for i in range(60))
    d = real_decode(b"P5\n# synthetic\n10 6\n255\n" + g)
    assert (d["width"], d["height"], d["n_channels"]) == (10, 6, 1)
    assert d["pixel_sum"] == sum(g)
    with pytest.raises(NotImplementedError):
        real_decode(b"\xff\xd8\xff\xe0" + b"\x00" * 16)  # JPEG SOI


def test_decode_media_real_via_mapinpandas(spark):
    """decode_media(real_decode) over synthesized PNG bytes — the Arrow
    batch path end to end with real decoding on executors."""
    from platform_spark.llmdata.multimodal import (
        decode_media,
        encode_png,
        real_decode,
        synth_pixels,
    )

    rows = []
    for mid in range(6):
        w, hh = 8 + mid % 9, 8 + (mid * 3) % 9
        rows.append((mid, bytearray(encode_png(w, hh, synth_pixels(mid, w, hh)))))
    df = spark.createDataFrame(rows, "media_id: long, content: binary")
    out = {r["media_id"]: r for r in decode_media(df, decoder=real_decode).collect()}
    for mid in range(6):
        w, hh = 8 + mid % 9, 8 + (mid * 3) % 9
        px = synth_pixels(mid, w, hh)
        assert (out[mid]["width"], out[mid]["height"]) == (w, hh)
        assert out[mid]["n_channels"] == 3
        assert out[mid]["pixel_sum"] == sum(px)


def test_multimodal_resize_plumbing(spark):
    rows = [(i, "image", bytes([i]) * 32, "image/png", None, None, None, None) for i in range(6)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.resize_media(df, 64, 48, resizer=M.fake_resize).collect()
    assert len(out) == 6
    assert all((r["width"], r["height"]) == (64, 48) for r in out)
    # deterministic: same payload + same target dims -> same bytes
    again = M.resize_media(df, 64, 48, resizer=M.fake_resize).collect()
    assert {(r["media_id"], bytes(r["content"])) for r in out} == {
        (r["media_id"], bytes(r["content"])) for r in again
    }
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        M.resize_media(df, 64, 48).collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, 3500), (2, 900)], "media_id: long, duration_ms: long"
    )
    out = M.frame_sample_plan(df, every_ms=1000).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert by_id[1] == [0, 1000, 2000]
    assert by_id[2] == [0]


def test_embedding_neardup_banded_recall(spark, embs):
    # plant exact duplicates (cosine 1.0): banded sign-sketch LSH must
    # recover nearly all of them (single all-bits bucket recall would be
    # fine here, but banding is what keeps recall at high-but-<1 cosine)
    base = embs.filter(F.col("vec_id") < 40).select("vec_id", "embedding")
    dup = base.select(
        (F.col("vec_id") + 5000).alias("vec_id"), F.col("embedding")
    )
    out = D.embedding_neardup_pairs(
        base.unionByName(dup), threshold=0.99, n_hyperplanes=16, bands=4
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(i, i + 5000) for (i,) in base.select("vec_id").collect()}
    assert len(got & planted) == len(planted)  # identical vectors always collide


def test_dedup_clusters_label_propagation(spark):
    from platform_spark.llmdata.clusters import cluster_summary, dedup_clusters

    # two components: {1,2,3,4} (a chain, diameter 3) and {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a: long, doc_b: long"
    )
    out = {r["doc_id"]: r for r in dedup_clusters(pairs).collect()}
    assert {k: v["cluster_id"] for k, v in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
    }
    assert out[1]["is_keeper"] and out[10]["is_keeper"]
    assert not out[4]["is_keeper"]
    summ = {r["cluster_id"]: r["n_docs"] for r in cluster_summary(dedup_clusters(pairs)).collect()}
    assert summ == {1: 4, 10: 2}


def test_min_labels_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The r14 small-graph fast path (driver union-find) and the
    distributed min-label propagation are result-identical — on long
    ids, string ids (UTF-8 vs code-point order), a diameter-heavy
    chain, and singleton-free multi-component graphs. The monkeypatched
    threshold forces the distributed loop, which otherwise no small
    test graph would exercise anymore."""
    import platform_spark.llmdata.clusters as cl

    cases = [
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (7, 5), (5, 6)],
            "doc_a: long, doc_b: long",
        ),
        # chain of diameter 9 — pointer jumping territory
        spark.createDataFrame(
            [(i, i + 1) for i in range(20, 30)], "doc_a: long, doc_b: long"
        ),
        spark.createDataFrame(
            [("zz", "ab"), ("ab", "Z9"), ("m", "n")],
            "doc_a: string, doc_b: string",
        ),
        # rep-graph shape: self rows, one of them on an id that also pairs
        spark.createDataFrame(
            [(5, 5), (3, 4), (4, 9), (4, 4), (7, 2)], "doc_a: long, doc_b: long"
        ),
    ]
    for pairs in cases:
        fast = sorted(
            map(tuple, cl._propagate_min_labels(pairs, "doc_a", "doc_b", 25).collect())
        )
        monkeypatch.setattr(cl, "_DRIVER_CC_MAX_EDGES", -1)
        dist = sorted(
            map(tuple, cl._propagate_min_labels(pairs, "doc_a", "doc_b", 25).collect())
        )
        monkeypatch.undo()
        assert fast == dist and len(fast) > 0


def test_driver_min_labels_takes_self_rows_and_one_direction(spark):
    """The shared union-find reads undirected pairs as they come from a
    rep graph: each pair once, self rows (x, x) included. A self row
    makes its id a node of its own component; a self row on an id that
    also pairs elsewhere changes nothing."""
    from platform_spark.llmdata.clusters import _driver_min_labels

    pairs = spark.createDataFrame(
        [(5, 5), (3, 4), (4, 9), (4, 4), (7, 2)], "src: long, dst: long"
    )
    got = sorted(map(tuple, _driver_min_labels(pairs).collect()))
    assert got == [(2, 2), (3, 3), (4, 3), (5, 5), (7, 2), (9, 3)]


def test_long_ids_trip_byte_gate_before_edge_gate(spark, monkeypatch):
    """r14 verdict #3: the driver union-find's 1M-edge cap assumed
    ~50 B/id; URL-keyed graphs break that. The strategy pick now also
    estimates collected bytes, so a graph with FEW edges but huge ids
    takes the distributed path — asserted by making the driver path
    explode if chosen. Short ids on the same edge count still take the
    driver path (the byte gate is not a blanket fallback)."""
    import platform_spark.llmdata.clusters as cl

    url = "https://example.com/" + "x" * 2000 + "/{}"
    pairs = spark.createDataFrame(
        [(url.format(i), url.format(i + 1)) for i in range(20)],
        "doc_a: string, doc_b: string",
    )
    # ~40 edges x ~4 kB rendered chars >> a 64 kB byte budget, while the
    # edge gate (left at 1M) would have admitted it
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_BYTES", 64 * 1024)

    def boom(edges):
        raise AssertionError("driver union-find chosen past the byte gate")

    monkeypatch.setattr(cl, "_driver_min_labels", boom)
    out = sorted(
        map(tuple, cl._propagate_min_labels(pairs, "doc_a", "doc_b", 25).collect())
    )
    assert len(out) == 21 and all(lab == url.format(0) for _, lab in out)
    # control: short ids under the same byte budget go driver-side
    monkeypatch.undo()
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "doc_a: long, doc_b: long"
    )
    calls = []
    real = cl._driver_min_labels
    monkeypatch.setattr(
        cl, "_driver_min_labels", lambda e: calls.append(1) or real(e)
    )
    monkeypatch.setattr(cl, "_DRIVER_CC_MAX_BYTES", 64 * 1024)
    out2 = cl._propagate_min_labels(short, "doc_a", "doc_b", 25).collect()
    assert calls and len(out2) == 21


def test_dedup_lines_corpus_semantics(spark):
    """Lines occurring >= min_count times across the corpus disappear from
    EVERY doc; surviving lines keep original order; an all-duplicate doc
    comes back as '' with kept=0, not as a dropped row."""
    from platform_spark.llmdata.cleaning import dedup_lines

    rows = [
        (1, "unique alpha\nshared line\nunique beta"),
        (2, "shared line\nunique gamma"),
        (3, "shared line"),  # nothing survives
        (4, "only original content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in dedup_lines(df, min_count=2).collect()}
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert (out[1]["n_lines_kept"], out[1]["n_lines_removed"]) == (2, 1)
    assert out[2]["clean_text"] == "unique gamma"
    assert out[3]["clean_text"] == "" and out[3]["n_lines_kept"] == 0
    assert out[4]["clean_text"] == "only original content here"
    assert out[4]["n_lines_removed"] == 0


def test_filter_boilerplate_line_rules(spark):
    """Per-line keep rules: word minimum, marker blacklist, symbol ratio —
    each dropped independently; survivors keep order; zero-shuffle plan."""
    from platform_spark.llmdata.cleaning import filter_boilerplate_lines

    text = "\n".join(
        [
            "this line has plenty of ordinary words",
            "too short",                            # < 4 words
            "Please SUBSCRIBE to our newsletter",   # marker (case-insensitive)
            "@@@ ### $$$ %%% ^^^",                  # symbol ratio > 0.2
            "another perfectly normal content line",
        ]
    )
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    out = filter_boilerplate_lines(df)
    row = out.first()
    assert row["clean_text"] == (
        "this line has plenty of ordinary words\n"
        "another perfectly normal content line"
    )
    assert (row["n_lines_kept"], row["n_lines_removed"]) == (2, 3)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_curate_corpus_end_to_end(spark, docs):
    """The composed curation pipeline: stage contracts line up, counts are
    monotone (clean ⊇ pass ⊇ dedup ⊇ curated), a planted near-duplicate
    loses to its keeper, a planted bench overlap is dropped, and every
    train doc lands in exactly one pack bin."""
    from pyspark.sql import functions as F

    from platform_spark.llmdata.pipeline import curate_corpus

    # a 120-doc slice keeps the full composition under a minute on the
    # 4-core CI session while still exercising every stage
    base = docs.select("doc_id", "text").filter("doc_id < 120")
    # plant an exact duplicate of doc 0, and bench on a doc PROVEN to
    # survive quality (the row-wise clean/quality twins find the smallest
    # passing id; being globally minimal among passing docs it is also
    # its dedup cluster's keeper) — benching on an arbitrary doc made the
    # decontamination assertion vacuously true when that doc failed
    # quality (caught by the drop_report provenance below)
    from platform_spark.llmdata.cleaning import (
        _line_ok,
        quality_passes_expr,
        redact_pii,
    )

    dup = base.filter("doc_id = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = base.unionByName(dup)
    cleaned_rw = redact_pii(
        base.withColumn(
            "text",
            F.array_join(
                F.filter(F.split(F.col("text"), "\n"), lambda l: _line_ok(l, 4)),
                "\n",
            ),
        )
    ).select("doc_id", F.col("text_redacted").alias("text"))
    passing_rw = cleaned_rw.filter(quality_passes_expr(F.col("text")))
    bench_doc = passing_rw.agg(F.min("doc_id")).collect()[0][0]
    bench = cleaned_rw.filter(F.col("doc_id") == bench_doc).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    out = curate_corpus(corpus, bench, ngram_threshold=0.2)

    n_all = corpus.count()
    n_pass = out["cleaned"].join(
        out["quality"].filter("passes_all").select("doc_id"), "doc_id", "left_semi"
    ).count()
    n_dedup = out["deduped"].count()
    n_cur = out["curated"].count()
    assert n_all >= n_pass >= n_dedup >= n_cur

    dedup_ids = {r["doc_id"] for r in out["deduped"].select("doc_id").collect()}
    if 0 in dedup_ids:  # keeper wins; the planted copy must be gone
        assert 1_000_000 not in dedup_ids
    cur_ids = {r["doc_id"] for r in out["curated"].select("doc_id").collect()}
    assert bench_doc not in cur_ids  # bench-identical doc decontaminated away

    packed = out["packed"]
    train_ids = {
        r["doc_id"]
        for r in out["curated"].filter("split = 'train'").select("doc_id").collect()
    }
    rows = packed.select("doc_id", "pack_bucket", "pack_bin").collect()
    assert {r["doc_id"] for r in rows} == train_ids
    assert len(rows) == len(train_ids)  # exactly one bin per doc

    # provenance: every input doc is either curated or has exactly one
    # drop-report row naming the stage that removed it
    from platform_spark.llmdata.pipeline import drop_report

    report = {r["doc_id"]: r for r in drop_report(out).collect()}
    cleaned_ids = {r["doc_id"] for r in out["cleaned"].select("doc_id").collect()}
    assert set(report).isdisjoint(cur_ids)
    assert set(report) | cur_ids == cleaned_ids
    if 0 in dedup_ids:
        planted = report[1_000_000]
        assert planted["stage"] == "dedup" and planted["detail"] == "kept:0"
    assert report[bench_doc]["stage"] == "decontaminated"
    assert report[bench_doc]["detail"] == f"bench:{bench_doc}"
    for r in report.values():
        if r["stage"] == "quality":
            assert r["detail"]  # at least one named failing rule


def _pipeline_corpus(spark, docs):
    """60 fixture docs (a file scan) plus a NULL-text and an empty-text doc."""
    extra = spark.createDataFrame(
        [(1_000_001, None), (1_000_002, "")], "doc_id: long, text: string"
    )
    return docs.select("doc_id", "text").filter("doc_id < 60").unionByName(extra)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_curate_corpus_stages_read_the_passing_checkpoint(spark, docs):
    """The quality-passing set is materialized once while curate_corpus
    runs: no stage from ``cleaned`` on re-reads the source scan, the
    cluster and dedup plans read the passing checkpoint, and the row-wise
    quality frame equals the batch rules."""
    from platform_spark.llmdata.cleaning import quality_rules
    from platform_spark.llmdata.pipeline import curate_corpus

    out = curate_corpus(_pipeline_corpus(spark, docs), bench=None)
    for name in ("cleaned", "quality", "clusters", "deduped", "curated", "packed"):
        assert "FileScan" not in _executed_plan(out[name]), name
    for name in ("clusters", "deduped"):
        assert "ExistingRDD" in _executed_plan(out[name]), name
    got = {tuple(r) for r in out["quality"].collect()}
    want = {tuple(r) for r in quality_rules(out["cleaned"]).collect()}
    assert got == want
    assert {r[0] for r in got} >= {1_000_001, 1_000_002}
    assert out["quality"].columns == quality_rules(out["cleaned"]).columns


def test_curate_corpus_build_runs_the_passing_checkpoint(spark, docs, monkeypatch):
    """Building the outputs materializes the passing set (the eager
    scored boundary it filters): with the cluster step (which resolves
    its components eagerly) stubbed out, the build still runs a Spark
    job."""
    from platform_spark.llmdata import clusters
    from platform_spark.llmdata.pipeline import curate_corpus
    from tests.conftest import jobs_run

    def lazy_clusters(df, threshold):
        return df.select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(True).alias("is_keeper"),
        )

    monkeypatch.setattr(clusters, "dedup_clusters_fast", lazy_clusters)
    j0 = jobs_run(spark)
    curate_corpus(_pipeline_corpus(spark, docs), bench=None)
    assert jobs_run(spark) > j0


def test_curate_corpus_job_counts(spark, docs):
    """The build runs at most 20 Spark jobs (the scored boundary, the
    rep graph, the label resolution and the map stages of the cluster
    and dedup boundaries), and forcing the
    six outputs a curation pass writes runs at most 8: quality, the
    clusters output and the drop report read the scored and cluster-label
    checkpoints instead of recomputing cleaning, quality or the label
    expansion."""
    from platform_spark.llmdata.pipeline import curate_corpus, drop_report
    from tests.conftest import jobs_run

    corpus = _pipeline_corpus(spark, docs)
    j0 = jobs_run(spark)
    out = curate_corpus(corpus, bench=None)
    out["drop_report"] = drop_report(out)
    j1 = jobs_run(spark)
    for name in ("cleaned", "quality", "clusters", "curated", "packed", "drop_report"):
        out[name].write.format("noop").mode("overwrite").save()
    j2 = jobs_run(spark)
    assert j1 - j0 <= 20, j1 - j0
    assert j2 - j1 <= 8, j2 - j1


def _held_rdd_sites(sc) -> list[str]:
    """Each persisted RDD still registered, with the call site that
    created it."""
    rdds = sc._jsc.sc().getPersistentRDDs().values().toList()
    return [
        f"{r.toString()} @ {r.getCreationSite()}"
        for r in (rdds.apply(i) for i in range(rdds.size()))
    ]


def test_curate_corpus_passes_pin_no_blocks(spark, docs):
    """Repeated curate_corpus passes in one long-lived session leave no
    blocks behind: the CacheManager stays empty, and once a pass's
    outputs are consumed and dropped, Spark's ContextCleaner releases its
    local checkpoints, so the persistent-RDD count returns to its
    pre-pass value."""
    import gc
    import time

    from platform_spark.llmdata.pipeline import curate_corpus, drop_report

    sc = spark.sparkContext
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # isolate from any cache an earlier test in this session left behind
    spark.catalog.clearCache()
    corpus = _pipeline_corpus(spark, docs)
    for _ in range(2):
        before = sc._jsc.sc().getPersistentRDDs().size()
        out = curate_corpus(corpus, bench=None)
        for name in ("curated", "packed", "contaminated"):
            out[name].count()
        drop_report(out).count()
        assert cache_manager.isEmpty()
        del out
        deadline = time.monotonic() + 10
        while True:
            gc.collect()
            # each listener queue holds the last event it dispatched until
            # the next one arrives, and the last query's execution-end
            # event carries its plan; a one-task job posts that next event,
            # as the next call in a long-lived session would
            sc.parallelize([0], 1).count()
            sc._jvm.System.gc()
            held = sc._jsc.sc().getPersistentRDDs().size()
            if held <= before or time.monotonic() > deadline:
                break
            time.sleep(0.5)
        assert held <= before, _held_rdd_sites(sc)


def test_repetition_metrics_known_values(spark):
    """Hand-computed Gopher fractions: counts multiply overlaps, capped at
    1.0; docs shorter than n get zero rows, not missing rows."""
    from platform_spark.llmdata.cleaning import repetition_metrics

    rows = [
        (1, "a b a b c"),   # "a b" twice: top2=dup2=2*3/9; top3=5/9, dup3=0
        (2, "x x x x"),     # "x x" 3 times: 9/7 -> capped at 1.0
        (3, "hi"),          # single token: no n-grams at all
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = {r["doc_id"]: r for r in repetition_metrics(df, ns=(2, 3)).collect()}
    assert out[1]["top_2gram_char_frac"] == round(6 / 9, 6)
    assert out[1]["dup_2gram_char_frac"] == round(6 / 9, 6)
    assert out[1]["top_3gram_char_frac"] == round(5 / 9, 6)
    assert out[1]["dup_3gram_char_frac"] == 0.0
    assert out[2]["top_2gram_char_frac"] == 1.0
    assert out[2]["dup_2gram_char_frac"] == 1.0
    assert out[3] == (3, 0.0, 0.0, 0.0, 0.0)


def test_dedup_clusters_fast_equals_pairwise(spark):
    """Exact-collapse fast path == dedup_clusters(ngram_jaccard_pairs(...))
    on a corpus built to hit every equality subtlety: exact-duplicate
    groups (must self-cluster), a doc whose every shingle is hot (must NOT
    cluster with its copies — never reaches the candidate index), short
    docs (< k tokens, no shingles), and copy-count-weighted hot-shingle DF
    (a shingle hot only because of replication)."""
    from platform_spark.llmdata.clusters import dedup_clusters, dedup_clusters_fast
    from platform_spark.llmdata.dedup import ngram_jaccard_pairs

    hot = "alpha beta gamma"  # every doc shares this shingle -> hot at df>0.2
    boil = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    rows = (
        # near-dup pair (distinct contents, high overlap)
        [(1, f"{hot} one two three four five six seven"),
         (2, f"{hot} one two three four five six eight")]
        # exact-duplicate triple with otherwise-unique text
        + [(i, f"{hot} unique{7} nine ten eleven twelve") for i in (10, 11, 12)]
        # all-hot doc + its copy: every shingle hot via replication weight
        + [(i, hot) for i in range(20, 29)]
        # short doc (< 3 tokens): no shingles at all
        + [(30, "tiny doc"), (31, "tiny doc")]
        # isolated normal doc
        + [(40, "completely different words about nothing shared here")]
        # boilerplate carriers: make the b1..b10 shingles hot by DF
        + [(50 + i, f"{boil} tail{i}a tail{i}b tail{i}c") for i in range(10)]
        # the divergence trap: duplicated doc with S=9 shingles, 8 hot
        # (boilerplate) and 1 surviving -> self-pair jaccard 1/17 < 0.2,
        # so the copies must NOT cluster (pairwise path drops them; an
        # eligible_multi that only demands >=1 surviving shingle would
        # wrongly self-cluster them)
        + [(70, f"{boil} uniqueword"), (71, f"{boil} uniqueword")]
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    thr = 0.2
    slow = dedup_clusters(ngram_jaccard_pairs(df, threshold=thr))
    fast = dedup_clusters_fast(df, threshold=thr)
    assert {tuple(r) for r in slow.collect()} == {tuple(r) for r in fast.collect()}


def test_expand_pairs_orientation_and_self_rows(spark):
    """expand_pairs must (a) swap per-side columns when id normalization
    flips the pair's orientation, (b) expand self rows to C(c,2) pairs
    with no diagonal and no double-count, (c) pass score columns through.
    Content A = copies {1, 9}, content B = {5}: the (A,B) rep pair
    expands to (1,5) keeping sides and (5,9) with sides SWAPPED (doc 5 is
    B's copy but becomes doc_a)."""
    from platform_spark.llmdata.dedup import expand_pairs

    membership = spark.createDataFrame(
        [(1, 1), (9, 1), (5, 5)], "doc_id: long, rep_id: long"
    )
    rep_pairs = spark.createDataFrame(
        [(1, 5, 10, 20, 0.5), (1, 1, 10, 10, 1.0)],
        "rep_a: long, rep_b: long, n_a: long, n_b: long, score: double",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_a"], r["n_b"], r["score"])
        for r in expand_pairs(
            rep_pairs, membership, side_cols=(("n_a", "n_b"),)
        ).collect()
    }
    assert got == {
        (1, 5): (10, 20, 0.5),
        (5, 9): (20, 10, 0.5),   # orientation flipped -> sides swapped
        (1, 9): (10, 10, 1.0),   # self row expands to the copy pair
    }


def test_rep_pairs_match_expanded_pairs(spark):
    """Rep-level output + expansion == the full pair APIs on a corpus with
    exact-duplicate groups (including a triple) — and the rep frame
    carries correct copy counts."""
    from platform_spark.llmdata.dedup import (
        content_membership,
        expand_pairs,
        ngram_jaccard_pairs,
        ngram_jaccard_rep_pairs,
    )

    base = "one two three four five six seven eight nine ten"
    rows = (
        [(1, base), (4, base), (7, base)]                 # exact triple
        + [(2, base.replace("ten", "eleven"))]            # near-dup of it
        + [(3, "totally different words with no overlap at all")]
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    # 5 docs: the default 0.2 hot cutoff would blacklist every duplicated
    # shingle (weighted df 3-4 > 1) and empty the graph; 0.9 keeps them
    kw = dict(threshold=0.2, stop_shingle_df=0.9)
    rep = ngram_jaccard_rep_pairs(df, **kw)
    counts = {
        (r["rep_a"], r["rep_b"]): (r["n_copies_a"], r["n_copies_b"])
        for r in rep.collect()
    }
    assert counts[(1, 1)] == (3, 3)        # self row for the triple
    assert counts[(1, 2)] == (3, 1)
    expanded = expand_pairs(
        rep.drop("n_copies_a", "n_copies_b"),
        content_membership(df),
        side_cols=(("n_a", "n_b"),),
    ).select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
    full = ngram_jaccard_pairs(df, **kw)
    assert {tuple(r) for r in expanded.collect()} == {
        tuple(r) for r in full.collect()
    }
    # the triple contributes C(3,2)=3 intra pairs + 3 cross pairs to doc 2
    assert full.count() == 6


# -- the per-side rep-graph assembly ----------------------------------------
# Each near-dup family used to pick its reps with a collapse aggregate
# joined back to the input, and attach shingle counts and copy counts by
# joining them onto each side. The rep-pair tests below rebuild every
# family that way, with these helpers, as the reference the one-relation
# build (`dedup._reps`, carried counts) must reproduce.


def _collapse(df: DataFrame, content_hash: Column, id_col: str) -> tuple[DataFrame, DataFrame]:
    """(membership, counts) for exact-duplicate groups under content_hash."""
    hashes = df.select(F.col(id_col).alias("doc_id"), content_hash.alias("__ch"))
    reps = hashes.groupBy("__ch").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies")
    )
    membership = hashes.join(reps.select("__ch", "rep_id"), "__ch").select(
        "doc_id", "rep_id"
    )
    return membership, reps.select("rep_id", "n_copies")


def _rep_docs(
    df: DataFrame, counts: DataFrame, id_col: str, value: Column, *carry: str
) -> DataFrame:
    """(doc_id, value, *carry) for the rep doc of every distinct content —
    the frame a family signs or fingerprints once per content; `carry`
    names `counts` columns to bring along."""
    return df.select(F.col(id_col).alias("doc_id"), value).join(
        counts.select(F.col("rep_id").alias("doc_id"), *carry), "doc_id"
    )


def _self_rows(
    reps: DataFrame, rep_col: str, *cols: Column, sides: tuple[DataFrame, ...] = ()
) -> DataFrame:
    """A SELF row (rep_a == rep_b, then `cols`) for every content of
    `reps` with n_copies >= 2: its copies pair with each other in the
    equivalent all-docs run. `sides` are per-doc frames keyed by doc_id
    that `cols` read from (joined after the copy filter)."""
    dup = reps.filter(F.col("n_copies") >= 2)
    for side in sides:
        dup = dup.join(side.withColumnRenamed("doc_id", rep_col), rep_col)
    return dup.select(
        F.col(rep_col).alias("rep_a"), F.col(rep_col).alias("rep_b"), *cols
    )


def _with_copy_counts(scored: DataFrame, counts: DataFrame, *cols: str) -> DataFrame:
    """(rep_a, rep_b, *cols, n_copies_a, n_copies_b): scored rep pairs
    with each side's copy count attached from `counts`."""
    ca = counts.select(
        F.col("rep_id").alias("rep_a"), F.col("n_copies").alias("n_copies_a")
    )
    cb = counts.select(
        F.col("rep_id").alias("rep_b"), F.col("n_copies").alias("n_copies_b")
    )
    return (
        scored.join(ca, "rep_a")
        .join(cb, "rep_b")
        .select("rep_a", "rep_b", *cols, "n_copies_a", "n_copies_b")
    )


def _shingle_counts(sh: DataFrame) -> DataFrame:
    """(doc_id, n_sh) from a (doc_id, sh) shingle index."""
    return sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))


def _attach_sizes(
    common: DataFrame, a: str, b: str, size_a: DataFrame, size_b: DataFrame,
    n_a: str, n_b: str,
) -> DataFrame:
    """(a, b, n_common, n_a, n_b): each side's (doc_id, n_sh) shingle
    count attached to a (a, b, n_common) pair table."""
    sa = size_a.select(F.col("doc_id").alias(a), F.col("n_sh").alias(n_a))
    sb = size_b.select(F.col("doc_id").alias(b), F.col("n_sh").alias(n_b))
    return common.join(sa, a).join(sb, b)


def _per_side_join_rep_pairs(df, k=3, stop_shingle_df=0.2):
    """The n-gram rep-pair join assembled the per-side way: an exploded
    shingle table, a sizes aggregate, and size and copy-count joins onto
    each side — (rep_a, rep_b, n_common, n_a, n_b, n_copies_a, n_copies_b),
    the reference the one-relation build must reproduce."""
    _, counts = _collapse(df, D._text_hash("text"), "doc_id")
    rep_docs = _rep_docs(
        df, counts, "doc_id", F.col("text").alias("__text"), "n_copies"
    )
    sh = D._shingle_table(rep_docs, "__text", "doc_id", k, "n_copies").select(
        "doc_id", "n_copies", D.md5_int(F.col("shingle")).alias("sh")
    )
    sizes = _shingle_counts(sh)
    hot = (
        sh.groupBy("sh")
        .agg(F.sum("n_copies").alias("df_"))
        .crossJoin(df.select(F.count("*").alias("__n")))
        .filter(F.col("df_") > F.col("__n") * stop_shingle_df)
        .select("sh")
    )
    idx = sh.select("doc_id", "sh").join(hot, "sh", "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b"))
        .agg(F.count("*").alias("n_common"))
    )
    cross = _attach_sizes(common, "rep_a", "rep_b", sizes, sizes, "n_a", "n_b")
    surv = idx.groupBy("doc_id").agg(F.count("*").alias("n_idx"))
    selfs = _self_rows(
        counts,
        "rep_id",
        F.col("n_idx").alias("n_common"),
        F.col("n_sh").alias("n_a"),
        F.col("n_sh").alias("n_b"),
        sides=(surv, sizes),
    )
    return _with_copy_counts(
        cross.unionByName(selfs), counts, "n_common", "n_a", "n_b"
    )


def test_ngram_rep_pairs_equal_the_per_side_join(spark):
    """The one-relation n-gram build (sizes from the shingle array, copy
    counts carried through the self-join key, self rows from one index
    aggregate) returns the per-side join's rows at threshold 0, for
    Jaccard and containment alike: near-dups, an exact triple, exact
    copies whose every shingle is hot (no self row), a doc with no
    shingles, and a NULL-text pair."""
    hot = "alpha beta gamma"
    rows = (
        [(1, f"{hot} one two three four five six seven"),
         (2, f"{hot} one two three four five six eight"),
         (3, f"{hot} one two nine ten")]
        + [(i, f"{hot} unique nine ten eleven twelve") for i in (10, 11, 12)]
        + [(i, hot) for i in range(20, 29)]          # all-hot exact copies
        + [(30, "tiny doc")]                         # no shingles
        + [(40, None), (41, None)]
    )
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    ref = _per_side_join_rep_pairs(df)
    assert ref.filter("rep_a = 20").count() == 0     # the all-hot case bites

    def ratio(n):
        return F.round(F.col("n_common").cast("double") / F.col(n).cast("double"), 6)

    jac_ref = ref.select(
        "rep_a", "rep_b", "n_common", "n_a", "n_b",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
        "n_copies_a", "n_copies_b",
    )
    ctn_ref = ref.select(
        "rep_a", "rep_b", "n_common", "n_a", "n_b",
        ratio("n_a").alias("containment_ab"), ratio("n_b").alias("containment_ba"),
        "n_copies_a", "n_copies_b",
    )
    for got, want in (
        (D.ngram_jaccard_rep_pairs(df, threshold=0.0), jac_ref),
        (D.ngram_containment_rep_pairs(df, threshold=0.0), ctn_ref),
    ):
        assert got.columns == want.columns
        got_rows = sorted(map(tuple, got.collect()))
        assert got_rows == sorted(map(tuple, want.collect()))
        # the triple: 6 shingles, 5 outside the hot one
        assert (10, 10, 5, 6, 6) in {r[:5] for r in got_rows}


def test_fast_clusters_distributed_path_matches_driver_path(spark, monkeypatch):
    """With both driver caps at 0, the rep-graph cluster step resolves
    through the distributed propagation (cross pairs, self rows joined
    after) and returns the driver union-find's clusters."""
    import platform_spark.llmdata.clusters as cl

    hot = "alpha beta gamma"
    text = spark.createDataFrame(
        [(1, f"{hot} one two three four five six seven"),
         (2, f"{hot} one two three four five six eight"),
         (3, "completely different words about nothing shared here")]
        + [(i, f"{hot} unique nine ten eleven twelve") for i in (10, 11, 12)],
        "doc_id: long, text: string",
    )
    base = [0.5, -0.25, 1.0, 0.0, 0.75, -0.5, 0.25, 1.5]
    vecs = spark.createDataFrame(
        [(1, base), (2, list(base)), (3, [x * 1.01 + 0.001 for x in base]),
         (30, [float(i) for i in range(8)])],
        "vec_id: long, embedding: array<float>",
    )
    runs = (
        # 6 docs: the default hot cutoff would blacklist every shared shingle
        lambda: cl.dedup_clusters_fast(text, threshold=0.2, stop_shingle_df=0.9),
        lambda: cl.embedding_clusters_fast(vecs, threshold=0.9),
    )
    for run in runs:
        driver = sorted(map(tuple, run().collect()))
        with monkeypatch.context() as m:
            m.setattr(cl, "_DRIVER_CC_MAX_EDGES", 0)
            m.setattr(cl, "_DRIVER_CC_MAX_BYTES", 0)
            m.setattr(cl, "_driver_min_labels", None)  # a call would fail
            dist = sorted(map(tuple, run().collect()))
        assert dist == driver and any(not keep for _, _, keep in driver)


def test_embedding_clusters_fast_equals_pairwise(spark):
    """Embedding fast path == dedup_clusters(embedding_neardup_pairs(...)),
    including the zero-vector guard: copies of an all-zero vector have
    undefined self-cosine, fail the pairwise verify, and must be absent
    from the fast output too."""
    from platform_spark.llmdata.clusters import dedup_clusters, embedding_clusters_fast
    from platform_spark.llmdata.dedup import embedding_neardup_pairs

    base = [0.5, -0.25, 1.0, 0.0, 0.75, -0.5, 0.25, 1.5]
    near = [x * 1.01 + 0.001 for x in base]
    ortho = [1.0, 1.0, -1.0, 2.0, -0.5, 1.0, -2.0, 0.25]
    rows = (
        [(1, base), (2, list(base)), (3, near)]        # dup pair + near
        + [(10, ortho), (11, list(ortho))]             # exact-dup pair
        + [(20, [0.0] * 8), (21, [0.0] * 8)]           # zero vectors
        + [(30, [float(i) for i in range(8)])]         # isolated
    )
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    kw = dict(threshold=0.9, n_hyperplanes=16, bands=4)
    slow = dedup_clusters(embedding_neardup_pairs(df, **kw), "id_a", "id_b")
    fast = embedding_clusters_fast(df, **kw)
    got_slow = {tuple(r) for r in slow.collect()}
    got_fast = {tuple(r) for r in fast.collect()}
    assert got_slow == got_fast
    assert not any(r[0] in (20, 21) for r in got_fast)  # zero vecs dropped


def test_sessionize_gap_semantics(spark):
    from datetime import datetime

    from platform_spark.operators.sessionize import sessionize

    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0, 0)),
        ("u1", datetime(2024, 1, 1, 0, 10, 0)),   # same session (10m < 30m)
        ("u1", datetime(2024, 1, 1, 2, 0, 0)),    # new session (110m gap)
        ("u2", datetime(2024, 1, 1, 0, 0, 0)),    # separate key
        (None, datetime(2024, 1, 1, 0, 0, 0)),    # dropped
    ]
    df = spark.createDataFrame(rows, "user_id: string, _ts: timestamp")
    out = sessionize(df, gap_seconds=1800)
    sess = sorted(
        (r["session_key"], r["n_events"], r["duration_sec"]) for r in out.collect()
    )
    assert sess == [("u1", 1, 0), ("u1", 2, 600), ("u2", 1, 0)]


def test_ivf_kmeans_centroids_recall(spark, embs):
    sample = embs.filter(F.col("vec_id") < 200)
    queries = sample.filter(F.col("vec_id") < 5)
    brute = S.brute_force_topk(sample, queries, k=5)
    km = S.ivf_topk(
        sample, queries, k=5, n_centroids=8, n_probe=4, centroids="kmeans"
    )
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["corpus_id"]) for r in km.collect()}
    # real centroids: probing half the buckets should recover most of top-k
    assert len(a & b) / len(b) >= 0.6


def test_asof_join_semantics(spark):
    from datetime import datetime

    from platform_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [
            ("k1", datetime(2024, 1, 1, 0, 0, 30)),   # -> state v=1
            ("k1", datetime(2024, 1, 1, 0, 10, 0)),   # -> state v=5
            ("k1", datetime(2024, 1, 1, 0, 5, 0)),    # exact tie -> v=5
            ("k2", datetime(2024, 1, 1, 0, 0, 0)),    # no state yet -> NULL
        ],
        "k: string, ts: timestamp",
    )
    R = spark.createDataFrame(
        [
            ("k1", datetime(2024, 1, 1, 0, 0, 0), 1),
            ("k1", datetime(2024, 1, 1, 0, 5, 0), 5),
            ("k2", datetime(2024, 1, 1, 1, 0, 0), 9),  # after left -> no match
        ],
        "k: string, ts: timestamp, v: int",
    )
    out = asof_join(L, R, "k", "ts", ["v"])
    got = {(r["k"], r["ts"]): (r["v_right"], r["ts_right"]) for r in out.collect()}
    assert got[("k1", datetime(2024, 1, 1, 0, 0, 30))][0] == 1
    assert got[("k1", datetime(2024, 1, 1, 0, 10, 0))][0] == 5
    assert got[("k1", datetime(2024, 1, 1, 0, 5, 0))][0] == 5  # ts tie matches
    assert got[("k2", datetime(2024, 1, 1, 0, 0, 0))] == (None, None)
    # tolerance: only matches within 60s survive
    tol = asof_join(L, R, "k", "ts", ["v"], tolerance_seconds=60)
    tg = {(r["k"], r["ts"]): r["v_right"] for r in tol.collect()}
    assert tg[("k1", datetime(2024, 1, 1, 0, 0, 30))] == 1     # 30s old
    assert tg[("k1", datetime(2024, 1, 1, 0, 10, 0))] is None  # 300s old


def test_range_join_bucketized(spark):
    from platform_spark.operators.ranges import range_join

    pts = spark.createDataFrame(
        [(1, 5.0), (2, 55.0), (3, 105.0), (4, 9.99)], "pid: long, v: double"
    )
    ivs = spark.createDataFrame(
        [(10, 0.0, 10.0), (11, 50.0, 110.0), (12, 104.0, 106.0)],
        "iid: long, lo: double, hi: double",
    )
    out = range_join(pts, ivs, "v", "lo", "hi", bucket_width=10.0)
    got = {(r["pid"], r["iid"]) for r in out.collect()}
    assert got == {(1, 10), (4, 10), (2, 11), (3, 11), (3, 12)}
    # no duplicate matches despite intervals spanning many buckets
    assert out.count() == len(got)


def test_interval_join_overlap_semantics(spark):
    from platform_spark.operators.ranges import interval_join

    L = spark.createDataFrame(
        [(1, "u", 0.0, 100.0), (2, "u", 200.0, 210.0), (3, "v", 0.0, 100.0)],
        "lid: long, k: string, lo_a: double, hi_a: double",
    )
    R = spark.createDataFrame(
        [
            (10, "u", 50.0, 150.0),   # partial overlap with 1
            (11, "u", 20.0, 30.0),    # contained in 1
            (12, "u", 100.0, 120.0),  # touches 1 at the closed endpoint
            (13, "u", 150.5, 199.0),  # disjoint from both u intervals
            (14, "v", 90.0, 95.0),    # overlaps 3, but only under key v
        ],
        "rid: long, k: string, lo_b: double, hi_b: double",
    )
    out = interval_join(
        L, R, "lo_a", "hi_a", "lo_b", "hi_b", bucket_width=10.0, key_col="k"
    )
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    assert got == {(1, 10), (1, 11), (1, 12), (3, 14)}
    # positional dedup: no duplicate pairs despite many shared buckets
    assert out.count() == len(got)
    # without a key, the v-side interval also matches the u intervals
    got2 = {
        (r["lid"], r["rid"])
        for r in interval_join(
            L, R, "lo_a", "hi_a", "lo_b", "hi_b", bucket_width=10.0
        ).collect()
    }
    assert (3, 10) in got2 and (1, 14) in got2

    # span guard fires on runaway intervals
    bad = spark.createDataFrame(
        [(9, "u", 0.0, 1e12)], "rid: long, k: string, lo_b: double, hi_b: double"
    )
    with pytest.raises(Exception, match="spans more than"):
        interval_join(
            L, bad, "lo_a", "hi_a", "lo_b", "hi_b", bucket_width=10.0
        ).count()


def test_time_rollup_hierarchical(spark):
    from datetime import datetime

    from platform_spark.operators.ranges import time_rollup

    rows = [
        (datetime(2024, 1, 1, 0, 10), "1.5"),
        (datetime(2024, 1, 1, 0, 50), "2.5"),
        (datetime(2024, 1, 1, 3, 0), "junk"),   # skipped by decimal cast
        (datetime(2024, 1, 2, 0, 0), "10"),
    ]
    df = spark.createDataFrame(rows, "_ts: timestamp, amount: string")
    out = time_rollup(df, "_ts", ["amount"], granularities=("hour", "day"))
    got = {
        (r["granularity"], r["bucket"].isoformat()): (r["n_rows"], r["sum_amount"])
        for r in out.collect()
    }
    assert got[("hour", "2024-01-01T00:00:00")] == (2, 4.0)
    assert got[("hour", "2024-01-01T03:00:00")] == (1, None)
    assert got[("day", "2024-01-01T00:00:00")] == (3, 4.0)  # day built FROM hours
    assert got[("day", "2024-01-02T00:00:00")] == (1, 10.0)


def test_pivot_missing_combo_is_zero_not_null(spark):
    """The pivot gate coalesces absent (user, type) combinations to 0 so
    its wide table matches conditional-count semantics (the fixture has
    every combo filled, so this pins the path the gate can't exercise)."""
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "click"), (1, "view"), (2, "click")],
        "user_id: long, event_type: string",
    )
    types = ["click", "view", "purchase"]
    wide = ev.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    out = {
        r["user_id"]: r
        for r in wide.select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types],
        ).collect()
    }
    assert out[1]["click"] == 1 and out[1]["view"] == 1 and out[1]["purchase"] == 0
    assert out[2]["click"] == 1 and out[2]["view"] == 0 and out[2]["purchase"] == 0


def test_sessionize_native_boundary_rule(spark):
    """The built-in session_window twin: touching windows MERGE (an
    event at exactly the gap extends the session) and the break rule is
    microsecond-precise, while the custom sessionizer compares
    floor-second diffs — both rules pinned so the documented contrast
    (and the oracle's `> gap` break condition) stays true."""
    from datetime import datetime

    from platform_spark.operators.sessionize import sessionize, sessionize_native

    rows = [
        (1, datetime(2024, 1, 1, 0, 0, 0)),
        (1, datetime(2024, 1, 1, 0, 30, 0)),            # exactly the gap:
        (2, datetime(2024, 1, 1, 0, 0, 0)),             #   native MERGES
        (2, datetime(2024, 1, 1, 0, 30, 0, 500000)),    # gap+0.5s: native
        (2, datetime(2024, 1, 1, 0, 30, 1, 500000)),    #   breaks (µs rule)
    ]
    df = spark.createDataFrame(rows, "user_id: long, ts: timestamp")
    native = {
        (r["session_key"], r["session_start"]): r
        for r in sessionize_native(df, ts_col="ts", gap="30 minutes").collect()
    }
    # user 1: one merged session; session_end = last event + gap
    s1 = native[(1, datetime(2024, 1, 1, 0, 0, 0))]
    assert s1["n_events"] == 2 and s1["session_end"] == datetime(2024, 1, 1, 1, 0, 0)
    # user 2: µs-precise diff 1800.5s > 1800s breaks the session...
    assert native[(2, datetime(2024, 1, 1, 0, 0, 0))]["n_events"] == 1
    assert native[(2, datetime(2024, 1, 1, 0, 30, 0, 500000))]["n_events"] == 2
    # ...while the floor-second custom rule sees diff == 1800 and merges
    custom = {r["session_key"]: r for r in sessionize(df, key_col="user_id", ts_col="ts", gap_seconds=1800).collect()}
    assert custom[1]["n_events"] == 2 and custom[2]["n_events"] == 3


def test_asof_join_null_keys_never_match(spark):
    from datetime import datetime

    from platform_spark.operators.asof import asof_join

    L = spark.createDataFrame(
        [(None, datetime(2024, 1, 1, 10, 0))], "k: string, ts: timestamp"
    )
    R = spark.createDataFrame(
        [(None, datetime(2024, 1, 1, 9, 0), 7)], "k: string, ts: timestamp, v: int"
    )
    row = asof_join(L, R, "k", "ts", ["v"]).collect()[0]
    assert row["v_right"] is None and row["ts_right"] is None


def test_range_join_guards_unbounded_interval(spark):
    from platform_spark.operators.ranges import range_join

    pts = spark.createDataFrame([(1, 5.0)], "pid: long, v: double")
    bad = spark.createDataFrame([(9, 0.0, 1e12)], "iid: long, lo: double, hi: double")
    with pytest.raises(Exception, match="spans more than"):
        range_join(pts, bad, "v", "lo", "hi", bucket_width=50.0).count()


def test_split_assignment_deterministic_and_proportional(spark, docs):
    from platform_spark.llmdata.splits import assign_splits

    out = assign_splits(docs.select("doc_id"))
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert 0.8 < counts["train"] / total < 0.97
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0
    # reproducible across independent evaluations (content-hash, no state)
    again = assign_splits(docs.select("doc_id"))
    assert out.exceptAll(again).count() == 0


# -- deterministic sampling / mixing / KMV sketch ---------------------------


def test_kmv_distinct_accuracy_and_exactness(spark):
    from platform_spark.llmdata.sampling import kmv_distinct

    # group "small" has < k distinct values → exact count
    rows = [("small", f"v{i % 5}") for i in range(50)]
    rows += [("big", f"w{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g: string, v: string")
    out = {r["g"]: r["distinct_est"] for r in kmv_distinct(df, "v", ("g",), k=64).collect()}
    assert out["small"] == 5
    # estimate within ~3 standard errors (1/sqrt(k-2) ≈ 12.7%)
    assert abs(out["big"] - 2000) / 2000 < 0.4
    # deterministic: same inputs → same estimate, bit for bit
    again = {r["g"]: r["distinct_est"] for r in kmv_distinct(df, "v", ("g",), k=64).collect()}
    assert out == again


def test_stratified_sample_exact_size_and_shard_stability(spark, docs):
    from platform_spark.llmdata.sampling import stratified_sample

    out = stratified_sample(docs, ("lang",), n_per_stratum=10)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(n == 10 for n in sizes.values()), sizes
    # shard-layout independence: same selection after a repartition
    re = stratified_sample(docs.repartition(13), ("lang",), n_per_stratum=10)
    assert out.select("doc_id").exceptAll(re.select("doc_id")).count() == 0
    # growth monotonicity: a row sampled from the full corpus and present
    # in a subset MUST be sampled from that subset too (removing rows can
    # only pull MORE rows into the top-n, never displace survivors)
    half = stratified_sample(docs.filter(F.col("doc_id") < 250), ("lang",), 10)
    full_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    half_ids = {r["doc_id"] for r in half.select("doc_id").collect()}
    assert {i for i in full_ids if i < 250} <= half_ids


def test_weighted_mix_rates_and_validation(spark, docs):
    from platform_spark.llmdata.sampling import weighted_mix

    out = weighted_mix(
        docs, "source", {"src0": 1.0, "src1": 0.0}, default_weight=0.5
    )
    n = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    total = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert n["src0"] == total["src0"]          # weight 1.0 keeps all
    assert "src1" not in n                     # weight 0.0 drops all
    others = sum(v for k, v in n.items() if k not in ("src0",))
    others_total = sum(v for k, v in total.items() if k not in ("src0", "src1"))
    assert 0.3 < others / others_total < 0.7   # default 0.5 within tolerance
    with pytest.raises(ValueError, match="negative weight"):
        weighted_mix(docs, "source", {"src0": -0.1}).count()


def test_pack_sequences_budget_and_stability(spark, docs):
    from platform_spark.llmdata.sampling import pack_sequences

    out = pack_sequences(
        docs.select("doc_id", "n_chars"), "n_chars", budget=1000, n_buckets=4
    )
    # bins respect the budget modulo the classic one-doc overflow: the
    # tokens BEFORE each doc in its bin stay under budget
    agg = out.groupBy("pack_bucket", "pack_bin").agg(
        F.sum("n_chars").alias("tot"), F.max("n_chars").alias("mx"), F.count("*").alias("n")
    )
    bad = agg.filter((F.col("tot") - F.col("mx")) >= 1000).count()
    assert bad == 0
    # bins are contiguous from 0 per bucket
    per = out.groupBy("pack_bucket").agg(
        F.min("pack_bin").alias("lo"), F.countDistinct("pack_bin").alias("nb"),
        F.max("pack_bin").alias("hi"),
    )
    assert per.filter((F.col("lo") != 0) | (F.col("hi") != F.col("nb") - 1)).count() == 0
    # shard-layout independence
    re = pack_sequences(
        docs.repartition(17).select("doc_id", "n_chars"), "n_chars",
        budget=1000, n_buckets=4,
    )
    assert out.exceptAll(re).count() == 0


def test_redact_pii_stages_and_counts(spark):
    from platform_spark.llmdata.cleaning import redact_pii

    rows = [
        (1, "mail me at bob.smith+x@corp.example.org today"),
        (2, "see https://ex.com/a?b=1 and http://plain.io"),
        (3, "host 192.168.0.1 is up"),
        (4, "call +1 (415) 555-0100 now"),
        # IPv4 is redacted BEFORE the loose phone pattern runs, so the IP
        # is counted once as ipv4 and never double-counted as a phone
        (5, "ip 10.0.0.7 phone 415-555-0100"),
        (6, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id: int, text: string")
    got = {r["id"]: r for r in redact_pii(df).collect()}
    assert got[1]["n_email"] == 1 and "<EMAIL>" in got[1]["text_redacted"]
    assert got[2]["n_url"] == 2 and got[2]["text_redacted"].count("<URL>") == 2
    assert got[3]["n_ipv4"] == 1 and "<IPV4>" in got[3]["text_redacted"]
    assert got[4]["n_phone"] == 1 and "<PHONE>" in got[4]["text_redacted"]
    assert got[5]["n_ipv4"] == 1 and got[5]["n_phone"] == 1
    assert got[5]["text_redacted"] == "ip <IPV4> phone <PHONE>"
    assert got[6]["text_redacted"] == rows[5][1]
    assert all(
        got[6][f"n_{k}"] == 0 for k in ("url", "email", "ipv4", "phone")
    )


def test_quality_rules_thresholds(spark):
    from platform_spark.llmdata.cleaning import quality_rules

    long_ok = " ".join(f"word{i}" for i in range(60))       # 60 distinct words
    too_short = "just a few little words"
    salad = " ".join(["dup"] * 45 + [f"u{i}" for i in range(15)])  # top word 75%
    df = spark.createDataFrame(
        [(1, long_ok), (2, too_short), (3, salad)], "doc_id: long, text: string"
    )
    got = {r["doc_id"]: r for r in quality_rules(df).collect()}
    assert got[1]["passes_all"] and got[1]["n_words"] == 60
    assert not got[2]["word_count_ok"] and not got[2]["passes_all"]
    assert not got[3]["top_word_ok"] and not got[3]["repetition_ok"]
    # metrics round-trip: distinct ratio of the salad is (1+30)/60
    assert abs(got[3]["distinct_ratio"] - 16 / 60) < 1e-6


def test_contamination_ngram_collision(spark):
    from platform_spark.llmdata.decontam import contamination, decontaminate

    span = " ".join(f"tok{i}" for i in range(10))   # 10-word benchmark span
    rows = [
        (1, f"prefix words here {span} and a tail"),         # contains the span
        (2, f"other doc reusing {span} verbatim too"),       # contains the span
        (3, " ".join(f"clean{i}" for i in range(20))),       # no overlap
        (4, "short doc"),                                    # < k words
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    bench = spark.createDataFrame(
        [(100, span), (101, "totally unrelated benchmark question")],
        "bench_id: long, text: string",
    )
    got = {r["doc_id"]: r for r in contamination(docs, bench, k=8).collect()}
    # a 10-word span has 3 distinct 8-grams, all hitting bench doc 100
    assert set(got) == {1, 2}
    for d in (1, 2):
        assert got[d]["n_common"] == 3
        assert got[d]["n_bench_docs"] == 1
        assert got[d]["worst_bench_id"] == 100
        assert got[d]["worst_common"] == 3
    kept = {r["doc_id"] for r in decontaminate(docs, bench, k=8).collect()}
    assert kept == {3, 4}


def test_contamination_worst_tiebreak(spark):
    from platform_spark.llmdata.decontam import contamination

    text = " ".join(f"w{i}" for i in range(8))       # exactly one 8-gram
    docs = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    bench = spark.createDataFrame(
        [(7, text), (5, text)], "bench_id: long, text: string"
    )
    row = contamination(docs, bench, k=8).collect()[0]
    # equal overlap with bench 5 and 7 -> smallest bench id wins
    assert row["worst_bench_id"] == 5 and row["n_bench_docs"] == 2


def test_normalize_whitespace_rules(spark):
    from pyspark.sql import functions as F

    from platform_spark.llmdata.cleaning import normalize_whitespace

    cases = [
        (1, "a\r\nb\rc", "a\nb\nc"),                     # CRLF/CR -> LF
        (2, "x\x07y\x01z\x7fw", "xyzw"),                 # C0/DEL stripped
        (3, "k​e‌‍y﻿", "key"),       # zero-width gone
        (4, "line  \t\nnext", "line\nnext"),             # trailing ws/line
        (5, "a\n\n\n\n\nb", "a\n\nb"),                   # blank-run collapse
        (6, "  padded  ", "padded"),                     # outer trim
        (7, "keep\tthis\n\nok", "keep\tthis\n\nok"),     # tab+blank kept
        (8, None, None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", normalize_whitespace(F.col("text")).alias("c")
        ).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, repr(got[i]), repr(want))


def test_normalize_url_rules(spark):
    from pyspark.sql import functions as F

    from platform_spark.llmdata.cleaning import dedup_by_url, normalize_url

    cases = [
        (1, "https://Src.Example.COM:443/A/b", "https://src.example.com/A/b"),
        (2, "http://h.io:80/x?b=2&a=1#frag", "http://h.io/x?a=1&b=2"),
        (3, "https://h.io/x/?utm_source=s&utm_medium=m", "https://h.io/x"),
        (4, "https://h.io/?gclid=1", "https://h.io/"),      # root slash kept
        (5, "https://h.io:8443/x", "https://h.io:8443/x"),  # non-default port
        (6, None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id: long, url: string"
    )
    got = {
        r["doc_id"]: r["c"]
        for r in df.select("doc_id", normalize_url(F.col("url")).alias("c")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)

    # keeper policy: prefer_col wins over id; NULL urls all pass through
    dupes = spark.createDataFrame(
        [
            (10, "https://h.io/p", 1.0),
            (11, "https://h.io/p/", 9.0),   # same page, higher score
            (12, None, 0.0),
            (13, None, 0.0),
        ],
        "doc_id: long, url: string, score: double",
    )
    assert {r["doc_id"] for r in dedup_by_url(dupes).collect()} == {10, 12, 13}
    assert {
        r["doc_id"] for r in dedup_by_url(dupes, prefer_col="score").collect()
    } == {11, 12, 13}
    # adversarial non-unique ids: winning one page must not smuggle the
    # same id's row for a LOST page through (semi-join is on (url, id)),
    # and a NULL-url row sharing a winner's id is emitted exactly once
    messy = spark.createDataFrame(
        [
            (1, "https://a/x"),     # id 1 wins page a/x
            (1, "https://b/y/"),    # id 1 LOSES page b/y to id 0
            (0, "https://b/y"),
            (1, None),
        ],
        "doc_id: long, url: string",
    )
    got_rows = dedup_by_url(messy, canonical_col="cu").collect()
    assert len(got_rows) == 3
    assert {(r["doc_id"], r["cu"]) for r in got_rows} == {
        (0, "https://b/y"),
        (1, None),
        (1, "https://a/x"),
    }


def test_snapshot_diff_spec(spark):
    from platform_spark.llmdata.snapshots import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (4, None), (5, None)],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, None), (5, "filled"), (6, "fresh")],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r["change"] for r in snapshot_diff(old, new).collect()}
    # 1 unchanged (absent), 4 NULL->NULL unchanged (null-safe compare)
    assert got == {2: "changed", 3: "removed", 5: "changed", 6: "added"}
    # the only full-outer join in the engine — pin the physical shape
    plan = (
        snapshot_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    )
    assert "FullOuter" in plan


def test_dedup_incremental_spec(spark):
    from pyspark.sql import functions as F

    from platform_spark.llmdata.dedup import (
        dedup_incremental,
        dedup_incremental_report,
    )

    base = " ".join(f"tok{i}" for i in range(20))
    corpus = spark.createDataFrame(
        [
            (10, base),
            (11, base),                                   # duplicate content
            (12, " ".join(f"other{i}" for i in range(20))),
            (13, "tiny doc"),                             # < k tokens
        ],
        "doc_id: long, text: string",
    )
    new = spark.createDataFrame(
        [
            (100, base),                                  # exact (ids 10+11)
            (101, " ".join(f"tok{i}" for i in range(15))),  # near of 10/11
            (102, " ".join(f"fresh{i}" for i in range(20))),  # genuinely new
            (103, "tiny doc"),                            # exact, unshingleable
            (104, "tiny fresh"),                          # new, unshingleable
        ],
        "doc_id: long, text: string",
    )
    got = {
        r["doc_id"]: r
        for r in dedup_incremental_report(new, corpus, threshold=0.3).collect()
    }
    assert set(got) == {100, 101, 103}
    # exact layer wins over near; smallest corpus id reported; jaccard 1.0
    assert got[100]["match_kind"] == "exact" and got[100]["best_corpus_id"] == 10
    assert got[100]["jaccard"] == 1.0
    # the <k-token exact copy is caught by the hash layer (LSH never sees it)
    assert got[103]["match_kind"] == "exact" and got[103]["best_corpus_id"] == 13
    # near best-pick: ties on jaccard resolve to the smallest corpus id
    assert got[101]["match_kind"] == "near" and got[101]["best_corpus_id"] == 10
    assert 0.3 <= got[101]["jaccard"] < 1.0
    kept = {r["doc_id"] for r in dedup_incremental(new, corpus, threshold=0.3).collect()}
    assert kept == {102, 104}
    # schema of the filter form is the batch schema, untouched
    assert dedup_incremental(new, corpus).columns == new.columns


def test_dedup_incremental_persisted_index_equivalence(spark, tmp_path):
    """The 100 TB path: build the corpus index once, persist, probe per
    batch — results must be identical to the inline (re-sign the corpus)
    path, and the probe plan must read the persisted tables."""
    from pyspark.sql import functions as F

    from platform_spark.llmdata.dedup import (
        build_dedup_index,
        CorpusDedupIndex,
        dedup_incremental_report,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    w = F.split(F.trim(F.col("text")), r"\s+")
    new = corpus.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.array_join(F.slice(w, F.lit(1), 20), " ").alias("text"),
    )
    inline = {
        tuple(r) for r in dedup_incremental_report(new, corpus, threshold=0.3).collect()
    }
    path = str(tmp_path / "dedup_index")
    build_dedup_index(corpus).save(path)
    idx = CorpusDedupIndex.load(spark, path)
    via_idx_df = dedup_incremental_report(new, corpus_index=idx, threshold=0.3)
    assert {tuple(r) for r in via_idx_df.collect()} == inline
    assert len(inline) > 0
    plan = via_idx_df._jdf.queryExecution().executedPlan().toString()
    # probes the persisted tables: the sizes scan's schema exists only in
    # the index parquet (paths are truncated in plan strings)
    assert "struct<doc_id:bigint,n_sh:bigint>" in plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup_incremental_report(new)


def test_semantic_contamination_spec(spark):
    from platform_spark.llmdata.decontam import (
        semantic_contamination,
        semantic_decontaminate,
    )

    # unit axes: v1 ∥ b100, v2 at 45° to b100/b101, v3 ⟂ both, v4 NULL
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, None),
    ]
    vecs = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0]), (101, [0.0, 3.0, 0.0])],
        "bench_id: long, embedding: array<float>",
    )
    got = {
        r["vec_id"]: r
        for r in semantic_contamination(vecs, bench, threshold=0.7).collect()
    }
    # v1: cos=1.0 with b100 only; v2: cos=0.707107 with both (tie -> b100)
    assert set(got) == {1, 2}
    assert got[1]["n_bench_hits"] == 1 and got[1]["worst_bench_id"] == 100
    assert abs(got[1]["worst_cosine"] - 1.0) < 1e-9
    assert got[2]["n_bench_hits"] == 2 and got[2]["worst_bench_id"] == 100
    assert abs(got[2]["worst_cosine"] - 0.707107) < 1e-9
    # filter form drops exactly the reported rows; NULL vector is KEPT
    kept = {r["vec_id"] for r in semantic_decontaminate(vecs, bench, threshold=0.7).collect()}
    assert kept == {3, 4}
    # vectorized mode: same report (incl. NULL handling) and same filter
    got_v = {
        r["vec_id"]: r
        for r in semantic_contamination(
            vecs, bench, threshold=0.7, vectorized=True
        ).collect()
    }
    assert set(got_v) == {1, 2} and got_v[2]["worst_bench_id"] == 100
    kept_v = {
        r["vec_id"]
        for r in semantic_decontaminate(
            vecs, bench, threshold=0.7, vectorized=True
        ).collect()
    }
    assert kept_v == {3, 4}
    # empty bench: report empty, filter form is the identity
    none = bench.filter("bench_id < 0")
    assert semantic_contamination(vecs, none).count() == 0
    assert semantic_decontaminate(vecs, none).count() == 4


def test_semantic_contamination_degenerate_vectors(spark):
    """Edge rules, identical across BOTH modes: a zero-norm vector (0/0
    cosine -> NULL under non-ANSI division) is a NON-hit and survives
    the filter; a NaN-valued vector's cosine is NaN, which Spark/DuckDB
    comparisons rank above every number -> it hits EVERY bench vector
    (worst = smallest bench id, worst_cosine NaN)."""
    import math

    from platform_spark.llmdata.decontam import (
        semantic_contamination,
        semantic_decontaminate,
    )

    vecs = spark.createDataFrame(
        [
            (1, [0.0, 0.0]),             # zero norm
            (2, [float("nan"), 1.0]),    # NaN input
            (3, [1.0, 0.0]),             # plain hit of b100
        ],
        "vec_id: long, embedding: array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0]), (101, [0.0, 5.0])],
        "bench_id: long, embedding: array<float>",
    )
    for vectorized in (False, True):
        got = {
            r["vec_id"]: r
            for r in semantic_contamination(
                vecs, bench, threshold=0.7, vectorized=vectorized
            ).collect()
        }
        assert set(got) == {2, 3}, (vectorized, got)
        assert got[2]["n_bench_hits"] == 2
        assert got[2]["worst_bench_id"] == 100
        assert math.isnan(got[2]["worst_cosine"])
        assert got[3]["n_bench_hits"] == 1 and got[3]["worst_bench_id"] == 100
        kept = {
            r["vec_id"]
            for r in semantic_decontaminate(
                vecs, bench, threshold=0.7, vectorized=vectorized
            ).collect()
        }
        assert kept == {1}, (vectorized, kept)
    # a zero-norm BENCH vector is likewise unhittable in both modes
    zbench = spark.createDataFrame(
        [(200, [0.0, 0.0])], "bench_id: long, embedding: array<float>"
    )
    for vectorized in (False, True):
        assert (
            semantic_contamination(
                vecs, zbench, threshold=0.0, vectorized=vectorized
            )
            .filter("vec_id = 3")
            .count()
            == 0
        )


def test_semantic_contamination_ragged_embeddings(spark):
    """Wrong-dimension embeddings must not crash the vectorized batch
    (the old np.array over ragged lists went object-dtype and the matmul
    raised an opaque error) and must be non-hits, matching the expression
    mode where zip_with NULL-pads the short side into a NULL cosine."""
    from platform_spark.llmdata.decontam import semantic_contamination

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),  # real hit
            (2, [1.0, 0.0]),  # too short
            (3, [1.0, 0.0, 0.0, 9.0]),  # too long
            (4, None),
        ],
        "vec_id: long, embedding: array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [2.0, 0.0, 0.0])], "bench_id: long, embedding: array<float>"
    )
    for vectorized in (False, True):
        got = {
            r.vec_id: r
            for r in semantic_contamination(
                vecs, bench, threshold=0.7, vectorized=vectorized
            ).collect()
        }
        assert set(got) == {1}, (vectorized, set(got))
        assert got[1].worst_bench_id == 100


def test_semantic_contamination_matches_brute_force(spark):
    """The literal-matrix fold must reproduce the crossJoin+window brute
    force on real fixture vectors (same rounding, same tie rule)."""
    from pyspark.sql import functions as F

    from platform_spark.llmdata.decontam import semantic_contamination
    from platform_spark.llmdata.similarity import cosine_expr, to_double

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 41 == 0).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bv")
    )
    scored = emb.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        F.round(
            cosine_expr(to_double(F.col("embedding")), to_double(F.col("bv"))), 6
        ).alias("c"),
    ).filter(F.col("c") >= 0.35)
    expect = {
        (r["vec_id"], r["n"], r["wid"], r["wc"])
        for r in scored.groupBy("vec_id")
        .agg(
            F.count("*").alias("n"),
            F.max(F.struct(F.col("c"), (-F.col("bench_id")).alias("ni"))).alias("w"),
        )
        .select(
            "vec_id",
            "n",
            (-F.col("w.ni")).alias("wid"),
            F.col("w.c").alias("wc"),
        )
        .collect()
    }
    bench_df = bench.select("bench_id", F.col("bv").alias("embedding"))
    got = {
        (r["vec_id"], r["n_bench_hits"], r["worst_bench_id"], r["worst_cosine"])
        for r in semantic_contamination(emb, bench_df, threshold=0.35).collect()
    }
    assert got == expect and len(got) > 0
    # the Arrow-vectorized 100 TB mode must agree on real fixture vectors
    # (numpy blocked summation vs sequential fold — equal after round(6))
    got_vec = {
        (r["vec_id"], r["n_bench_hits"], r["worst_bench_id"], r["worst_cosine"])
        for r in semantic_contamination(
            emb, bench_df, threshold=0.35, vectorized=True
        ).collect()
    }
    assert got_vec == expect


def test_chunk_documents_windows(spark):
    from platform_spark.llmdata.chunking import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),   # 10 toks -> 1 chunk
        (2, " ".join(f"t{i}" for i in range(100))),  # 100 toks: [0,50)[40,90)[80,100)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = chunk_documents(df, chunk_size=50, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_tokens"] == 10
    c2 = sorted(by_doc[2], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in c2] == [0, 1, 2]
    assert [r["n_tokens"] for r in c2] == [50, 50, 20]
    assert c2[1]["chunk_text"].split()[0] == "t40"     # stride 40
    assert c2[2]["chunk_text"].split() == [f"t{i}" for i in range(80, 100)]
    # overlap: last 10 tokens of chunk 0 == first 10 of chunk 1
    assert c2[0]["chunk_text"].split()[-10:] == c2[1]["chunk_text"].split()[:10]
    # reconstruction: stitching chunks minus overlaps rebuilds the doc
    rebuilt = c2[0]["chunk_text"].split() + [
        t for r in c2[1:] for t in r["chunk_text"].split()[10:]
    ]
    assert rebuilt == rows[1][1].split()

    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents(df, chunk_size=10, overlap=10)


def test_tfidf_keywords_ranks_and_scores(spark):
    import math

    from platform_spark.llmdata.keywords import tfidf_keywords

    rows = [
        (1, "apple apple banana cherry"),
        (2, "banana cherry cherry date"),
        (3, "apple date date date"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = tfidf_keywords(df, top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert all(len(v) == 2 for v in by_doc.values())
    # doc 1: apple tf=2 df=2; banana/cherry tf=1 df=2 -> apple first,
    # banana beats cherry only by the alphabetical tiebreak
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["word"] for r in d1] == ["apple", "banana"]
    idf = math.log(4 / 3) + 1       # every word appears in 2 of 3 docs
    assert abs(d1[0]["score"] - round(2 * idf, 6)) < 1e-9
    assert d1[0]["tf"] == 2 and d1[0]["df"] == 2
    # doc 3: date tf=3 dominates
    d3 = sorted(by_doc[3], key=lambda r: r["rank"])
    assert d3[0]["word"] == "date" and d3[0]["tf"] == 3


def test_collapse_repeats(spark):
    from platform_spark.llmdata.cleaning import collapse_repeats

    rows = [
        (1, "batch batch batch stream stream spark"),
        (2, "a b a b a"),                  # alternation: nothing to collapse
        (3, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in collapse_repeats(df).collect()}
    assert got[1]["text_clean"] == "batch stream spark"
    assert got[1]["n_removed"] == 3
    assert got[2]["text_clean"] == "a b a b a" and got[2]["n_removed"] == 0
    assert got[3]["text_clean"] == "x" and got[3]["n_removed"] == 0


def test_chunking_and_collapse_match_python_spec(spark):
    """Seeded random corpus vs a plain-Python reference implementation."""
    import random

    from platform_spark.llmdata.chunking import chunk_documents
    from platform_spark.llmdata.cleaning import collapse_repeats

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "x1", "y2"]
    rows = []
    for doc_id in range(40):
        n = rng.randint(1, 120)
        words = []
        while len(words) < n:
            w = rng.choice(vocab)
            words.extend([w] * rng.choice([1, 1, 1, 2, 3]))  # plant runs
        rows.append((doc_id, " ".join(words[:n])))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")

    size, overlap, stride = 32, 8, 24
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_size=size, overlap=overlap).collect()
    }
    expected = {}
    for doc_id, text in rows:
        w = text.split()
        n_chunks = 1 if len(w) <= size else -((len(w) - size) // -stride) + 1
        for i in range(n_chunks):
            win = w[i * stride : i * stride + size]
            expected[(doc_id, i)] = (" ".join(win), len(win))
    assert got == expected

    got_c = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in collapse_repeats(df).collect()
    }
    for doc_id, text in rows:
        w = text.split()
        kept = [t for j, t in enumerate(w) if j == 0 or t != w[j - 1]]
        assert got_c[doc_id] == (" ".join(kept), len(w) - len(kept))


def _per_side_minhash_rep_pairs(df, k=3, num_perm=32, bands=8):
    """The MinHash rep graph at threshold 0, assembled per side: rep docs
    joined back from the collapse counts, a sizes aggregate joined onto
    each side, self rows joined to the sizes, copy counts joined last."""
    _, counts = _collapse(df, D._text_hash("text"), "doc_id")
    rep_docs = _rep_docs(df, counts, "doc_id", F.col("text").alias("__text"))
    hashed = D._hashed_shingles(rep_docs, "__text", "doc_id", k)
    sig = hashed.groupBy("doc_id").agg(*D._sig_aggs(num_perm))
    cand = D.minhash_lsh_candidates(sig, num_perm, bands).toDF("rep_a", "rep_b")
    sh = hashed.select("doc_id", "sh")
    sizes = _shingle_counts(sh)
    cross = _attach_sizes(
        D._candidate_overlap(cand, "rep_a", "rep_b", sh, sh),
        "rep_a", "rep_b", sizes, sizes, "n_a", "n_b",
    )
    selfs = _self_rows(
        counts, "rep_id",
        *[F.col("n_sh").alias(c) for c in ("n_common", "n_a", "n_b")],
        sides=(sizes,),
    )
    scored = D._jaccard_at_least(cross.unionByName(selfs), 0.0, "n_a", "n_b")
    return _with_copy_counts(scored, counts, "jaccard")


def _per_side_simhash_rep_pairs(df, bands=4):
    """The SimHash rep graph at the widest max_hamming, assembled per
    side (NULL text is a content of its own)."""
    key = F.coalesce(D._text_hash("text"), F.lit("__null__"))
    _, counts = _collapse(df, key, "doc_id")
    rep_docs = _rep_docs(df, counts, "doc_id", F.col("text").alias("__text"))
    cand = D._chunk_candidates(
        D.simhash_table(rep_docs, "__text", "doc_id"), "doc_id", "sh",
        60 // bands, bands, "rep_a", "rep_b", carry=("sh",),
    )
    cross = D._within_hamming(cand, "sh_a", "sh_b", 60).select("rep_a", "rep_b", "hamming")
    selfs = _self_rows(counts, "rep_id", F.lit(0).alias("hamming"))
    return _with_copy_counts(cross.unionByName(selfs), counts, "hamming")


def _rep_pair_corpus(spark):
    base = "one two three four five six seven eight nine ten"
    alt = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = (
        [(1, base), (4, base), (7, base)]                 # exact triple
        + [(2, base.replace("ten", "eleven")), (12, base.replace("ten", "eleven"))]
        + [(3, alt)]                                      # 1 copy, its near-dup 2
        + [(5, alt.replace("juliet", "kilo")), (6, alt.replace("juliet", "kilo"))]
        + [(40, None), (41, None)]                        # NULL text
        + [(30, "tiny doc"), (31, "tiny doc"), (32, "")]  # no shingles
        + [(50, "totally different words with no overlap at all here")]
    )
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_minhash_and_simhash_rep_pairs_self_rows(spark):
    """MinHash and SimHash rep graphs: duplicated contents produce a self
    row (jaccard 1.0 / hamming 0) with correct copy counts, cross rows
    carry each side's copy count in either orientation, the rows equal the
    per-side assembly (MinHash at threshold 0, SimHash at the widest
    max_hamming), and the expanded full APIs emit every intra-group pair."""
    from platform_spark.llmdata.dedup import (
        minhash_dedup_pairs,
        minhash_dedup_rep_pairs,
        simhash_dedup_pairs,
        simhash_rep_pairs,
    )

    df = _rep_pair_corpus(spark)
    for got, want in (
        (minhash_dedup_rep_pairs(df, threshold=0.0), _per_side_minhash_rep_pairs(df)),
        (simhash_rep_pairs(df, max_hamming=60), _per_side_simhash_rep_pairs(df)),
    ):
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    mh = {
        (r["rep_a"], r["rep_b"]): (r["jaccard"], r["n_copies_a"], r["n_copies_b"])
        for r in minhash_dedup_rep_pairs(df, threshold=0.1).collect()
    }
    assert mh[(1, 1)] == (1.0, 3, 3)
    assert mh[(1, 2)][1:] == (3, 2) and mh[(3, 5)][1:] == (1, 2)
    # no signature, no self row: NULL text and the no-shingle copies
    assert not {(30, 30), (40, 40)} & set(mh)
    mh_full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_dedup_pairs(df, threshold=0.1).collect()
    }
    assert {(1, 4), (1, 7), (4, 7)} <= set(mh_full)
    assert all(mh_full[p] == 1.0 for p in [(1, 4), (1, 7), (4, 7)])

    sh = {
        (r["rep_a"], r["rep_b"]): (r["hamming"], r["n_copies_a"], r["n_copies_b"])
        for r in simhash_rep_pairs(df, max_hamming=12).collect()
    }
    assert sh[(1, 1)] == (0, 3, 3)
    # every duplicated content pairs, shingles or not: NULL text folds to 0
    assert sh[(30, 30)] == (0, 2, 2) and sh[(40, 40)] == (0, 2, 2)
    sh_full = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_dedup_pairs(df, max_hamming=12).collect()
    }
    assert {(1, 4), (1, 7), (4, 7)} <= set(sh_full)
    assert all(sh_full[p] == 0 for p in [(1, 4), (1, 7), (4, 7)])


def _per_side_embedding_rep_pairs(df, threshold, n_hyperplanes=16, bands=4):
    """The embedding rep graph assembled per side, with the interpreted
    sketch and cosine expressions: rep vectors joined back from the
    collapse counts, copy counts joined onto each side."""
    from platform_spark.llmdata.similarity import cosine_expr

    _, counts = _collapse(df, D._vector_hash("embedding"), "vec_id")
    rep_docs = _rep_docs(
        df, counts, "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"), "n_copies",
    )
    planes = D._hyperplanes(n_hyperplanes, len(df.first()["embedding"]))
    base = D._sketch_norm_expr(rep_docs.select(F.col("doc_id").alias("vid"), "v"), planes)
    cand = D._chunk_candidates(
        base, "vid", "sk", n_hyperplanes // bands, bands, "rep_a", "rep_b"
    )
    vecs = rep_docs.select("doc_id", "v")
    cross = (
        cand.join(vecs.toDF("rep_a", "v_a"), "rep_a")
        .join(vecs.toDF("rep_b", "v_b"), "rep_b")
        .select("rep_a", "rep_b", F.round(cosine_expr(F.col("v_a"), F.col("v_b")), 6).alias("cosine"))
    )
    selfs = _self_rows(
        rep_docs, "doc_id", F.round(cosine_expr(F.col("v"), F.col("v")), 6).alias("cosine")
    )
    return _with_copy_counts(
        cross.unionByName(selfs).filter(F.col("cosine") >= threshold), counts, "cosine"
    )


def test_embedding_rep_pairs_equal_the_per_side_join(spark):
    """Embedding rep pairs (reps from one aggregate, copy counts carried
    through the vector re-join, self rows from the sketch checkpoint)
    equal the per-side assembly: a duplicated triple, a near-dup pair
    with copies, duplicated zero-norm vectors (NULL self-cosine, no self
    row even at threshold -1) and an isolated vector."""
    base = [0.5, -0.25, 1.0, 0.0, 0.75, -0.5, 0.25, 1.5]
    near = [x * 1.01 + 0.001 for x in base]
    rows = (
        [(1, base), (2, list(base)), (3, list(base))]
        + [(4, near), (8, list(near)), (0, [x * 1.02 for x in base])]
        + [(5, [0.0] * 8), (6, [0.0] * 8)]
        + [(7, [float(i) for i in range(8)])]
    )
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
    for thr in (0.9, -1.0):
        got = D.embedding_neardup_rep_pairs(df, threshold=thr)
        want = _per_side_embedding_rep_pairs(df, thr)
        assert got.columns == want.columns
        got_rows = sorted(map(tuple, got.collect()))
        assert got_rows == sorted(map(tuple, want.collect()))
        by_pair = {(r[0], r[1]): r for r in got_rows}
        assert by_pair[(1, 1)][3:] == (3, 3) and by_pair[(1, 4)][3:] == (3, 2)
        assert by_pair[(0, 1)][3:] == (1, 3)
        assert (5, 5) not in by_pair


# -- BPE training (llmdata/bpe.py) ------------------------------------------


def _ref_bpe_train(word_counts: dict[str, int], n_merges: int):
    """Pure-python Sennrich-style BPE trainer: the oracle for train_bpe.
    Ties break (count desc, a asc, b asc), matching the Spark argmax."""
    from platform_spark.llmdata.bpe import END_OF_WORD

    vocab = {w: list(w) + [END_OF_WORD] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + word_counts[w]
                )
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def test_train_bpe_matches_pure_python_reference(spark):
    from collections import Counter

    from platform_spark.llmdata.bpe import train_bpe

    texts = [
        "low low low low low lower lower newest newest newest",
        "newest newest newest widest widest widest new new knew",
        "the newest of the new lowest low",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    wc = Counter(w for t in texts for w in t.lower().split())
    expected = _ref_bpe_train(dict(wc), 10)
    got = train_bpe(df, n_merges=10)
    assert got == expected
    assert len(got) == 10  # corpus is rich enough for all 10 rounds


def test_apply_merge_is_greedy_nonoverlapping(spark):
    from platform_spark.llmdata.bpe import apply_merge

    df = spark.createDataFrame([(["a", "a", "a", "b", "a"],)], "syms array<string>")
    out = df.select(apply_merge(F.col("syms"), "a", "a").alias("m")).first().m
    assert out == ["aa", "a", "b", "a"]


def test_encode_bpe_runtime_matches_training_segmentation(spark):
    from platform_spark.llmdata.bpe import encode_bpe, train_bpe

    texts = ["low lower lowest low low", "newest new lowest lower"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = train_bpe(df, n_merges=6)
    enc = {
        r.doc_id: r.bpe_tokens
        for r in encode_bpe(df, merges).select("doc_id", "bpe_tokens").collect()
    }
    # decoding invariant: concatenating symbols restores words + markers
    for i, t in enumerate(texts):
        assert "".join(enc[i]) == "".join(w + "</w>" for w in t.split())
    # learned merges actually apply at encode time
    assert any(len(s) > 1 and s != "</w>" for s in enc[0])
    # NULL text encodes to empty
    df2 = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert encode_bpe(df2, merges).first().bpe_tokens == []


# -- exact substring duplication (duplicate_spans) --------------------------


def test_duplicate_spans_cross_and_within_doc(spark):
    shared = " ".join(f"tok{i}" for i in range(20))  # exactly one 20-window
    unique_a = " ".join(f"ua{i}" for i in range(10))
    unique_b = " ".join(f"ub{i}" for i in range(10))
    repeat = " ".join(f"rep{i % 5}" for i in range(10))  # 5-token cycle
    rows = [
        (1, f"{unique_a} {shared}"),          # shares the window with doc 2
        (2, f"{shared} {unique_b}"),          # at pos 0
        (3, f"{repeat} {repeat} {repeat}"),   # within-doc repetition only
        (4, "tiny doc"),                      # < 20 tokens: no spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.duplicate_spans(df, k=20).collect()}
    assert out[1].n_spans == 11 and out[2].n_spans == 11
    # only the exact shared window duplicates across docs
    assert out[1].n_dup_spans == 1 and out[1].n_cross_spans == 1
    assert out[1].first_dup_pos == 10  # after the 10 unique tokens
    assert out[2].first_dup_pos == 0
    # doc 3: 30 tokens of period-5 cycle → every 20-window recurs in-doc
    assert out[3].n_spans == 11
    assert out[3].n_dup_spans == 11 and out[3].n_cross_spans == 0
    assert out[4].n_spans == 0 and out[4].n_dup_spans == 0
    assert out[4].first_dup_pos is None


def test_dhash_invariant_under_nearest_upscale():
    # an exact 2x nearest-neighbor upscale resamples to the same 9x7 grid
    # points, so the perceptual hash is IDENTICAL — the resize-robustness
    # property that makes dHash a near-dup signal across thumbnails
    w, h = 18, 14
    px = M.synth_pixels(3, w, h)
    up = M.real_resize(M.encode_ppm(w, h, px), w * 2, h * 2)["content"]
    w2, h2, nch2, px2 = M._decode_raster(up)
    assert (w2, h2) == (36, 28)
    assert M.dhash_bits(w, h, 3, px) == M.dhash_bits(w2, h2, nch2, px2)


def test_dhash_rep_pairs_collapse_equality(spark):
    import itertools

    import pandas as pd

    # three byte-identical rasters across containers (one fp group) + one
    # unrelated image — the collapse must mark the group with a self row
    # and expansion must reproduce the doc-level pairs exactly
    w, h = 16, 12
    px = M.synth_pixels(7, w, h)
    rows = [
        (1, M.encode_png(w, h, px)),
        (2, M.encode_ppm(w, h, px)),
        (3, M.encode_bmp(w, h, px)),
        (4, M.encode_ppm(w, h, M.synth_pixels(991, w, h))),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "content"]),
        "media_id long, content binary",
    )
    fps = M.dhash_media(df)
    rep = {(r.rep_a, r.rep_b): r for r in M.dhash_rep_pairs(fps).collect()}
    doc = {(r.media_a, r.media_b) for r in M.dhash_pairs(fps).collect()}
    # self row marks the identical-fp group; cross rows carry copy counts
    assert (1, 1) in rep and rep[(1, 1)].n_copies_a == 3
    # expanding the rep graph reproduces the doc-level pair set exactly
    members = {}
    for r in fps.collect():
        members.setdefault(r.dhash, []).append(r.media_id)
    fp_of_rep = {min(v): k for k, v in members.items()}
    expanded = set()
    for (a, b), r in rep.items():
        if a == b:
            expanded |= set(itertools.combinations(sorted(members[fp_of_rep[a]]), 2))
        else:
            for x in members[fp_of_rep[a]]:
                for y in members[fp_of_rep[b]]:
                    expanded.add((min(x, y), max(x, y)))
    assert expanded == doc

    # fingerprints direct: an exact triple, copy counts in both
    # orientations (3 -> 2 and 1 -> 2) and NULL fingerprints. The rep
    # pairs equal the per-side assembly at the widest max_hamming; a NULL
    # fingerprint's copies keep their self row but have no membership, so
    # expansion reproduces the doc-level pairs.
    x, y = 0x00F0F0F0F0F0F0, 0x0F0F0F0F0F0F0F
    fps = spark.createDataFrame(
        [(1, x), (2, x), (3, x), (4, x ^ 1), (5, x ^ 1), (6, None), (7, None),
         (8, y), (9, y ^ 2), (10, y ^ 2), (11, 0x123456789ABCD)],
        "media_id long, dhash bigint",
    )
    for kw in (dict(max_hamming=56, bands=8), {}):
        got = M.dhash_rep_pairs(fps, **kw)
        want = _per_side_dhash_rep_pairs(fps, kw.get("max_hamming", 3), kw.get("bands", 4))
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    rep = {(r.rep_a, r.rep_b): r for r in M.dhash_rep_pairs(fps).collect()}
    assert (rep[(1, 1)].n_copies_a, rep[(6, 6)].n_copies_b) == (3, 2)
    assert (rep[(1, 4)].n_copies_a, rep[(1, 4)].n_copies_b) == (3, 2)
    assert (rep[(8, 9)].n_copies_a, rep[(8, 9)].n_copies_b) == (1, 2)
    members = M.dhash_membership(fps)
    assert sorted(map(tuple, members.collect())) == sorted(
        map(tuple, _collapse(fps, F.col("dhash"), "media_id")[0].collect())
    )
    expanded = D.expand_pairs(
        M.dhash_rep_pairs(fps).drop("n_copies_a", "n_copies_b"), members
    ).select("doc_a", "doc_b", "hamming")
    assert sorted(map(tuple, expanded.collect())) == sorted(
        map(tuple, M.dhash_pairs(fps).collect())
    )


def _per_side_dhash_rep_pairs(fps, max_hamming, bands, bits=56):
    """The fingerprint rep pairs as assembled before the shared rep
    relation: the module's own groups aggregate, self rows selected from
    it with the copy counts spelled out."""
    groups = fps.groupBy(F.col("dhash").alias("fp")).agg(
        F.min(F.col("media_id")).alias("rep"), F.count("*").alias("n_copies")
    )
    cross = D._within_hamming(
        D._chunk_candidates(
            groups, "rep", "fp", bits // bands, bands, "rep_a", "rep_b",
            carry=("fp", "n_copies"),
        ),
        "fp_a", "fp_b", max_hamming,
    )
    selfs = _self_rows(
        groups, "rep", F.lit(0).alias("hamming"),
        F.col("n_copies").alias("n_copies_a"), F.col("n_copies").alias("n_copies_b"),
    )
    return cross.select(
        "rep_a", "rep_b", "hamming", "n_copies_a", "n_copies_b"
    ).unionByName(selfs)


def test_audio_fingerprint_near_dup(spark):
    import pandas as pd

    # near-identical PCM (tiny amplitude nudge) lands within a few bits;
    # unrelated audio is far; stereo averages channels before framing
    base = M.synth_samples(5, 480)
    tweaked = [s + (1 if i % 97 == 0 else 0) for i, s in enumerate(base)]
    other = M.synth_samples(123456, 480)
    rows = [
        (1, M.encode_wav(base)),
        (2, M.encode_wav(tweaked)),
        (3, M.encode_wav(other[::-1])),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "content"]),
        "media_id long, content binary",
    )
    fps = {r.media_id: r.afp for r in M.audio_fingerprints(df).collect()}
    assert fps[1] == M.audio_energy_bits(base)  # matches the pure-python spec
    assert bin(fps[1] ^ fps[2]).count("1") <= 3
    pairs = M.dhash_pairs(
        M.audio_fingerprints(df), max_hamming=3, bands=4, fp_col="afp"
    ).collect()
    assert (1, 2) in {(r.media_a, r.media_b) for r in pairs}
    assert (1, 3) not in {(r.media_a, r.media_b) for r in pairs}


def test_sq_topk_recall_and_quantization(spark, embs):
    sample = embs.filter(F.col("vec_id") < 200)
    queries = sample.filter(F.col("vec_id") < 5)
    cb = S.fit_scalar_quantizer(sample, dim=64)
    assert len(cb[0]) == 64 and all(lo <= hi for lo, hi in zip(*cb))
    brute = S.brute_force_topk(sample, queries, k=5)
    approx = S.sq_topk(sample, queries, k=5, codebook=cb, rerank=4)
    b = {(r["query_id"], r["corpus_id"]) for r in brute.collect()}
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    # int8 quantization barely moves cosines; the 4x rerank recovers the
    # true top-k almost always on random vectors
    assert len(a & b) / len(b) >= 0.8
    # exact scores: the reported cosine of a correctly-recalled pair must
    # equal the brute-force cosine (rerank runs on original floats)
    bs = {(r["query_id"], r["corpus_id"]): r["cosine"] for r in brute.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["corpus_id"])
        if key in bs:
            assert r["cosine"] == bs[key]


def test_quality_classifier_fit_and_scoring(spark):
    from platform_spark.llmdata.quality_model import (
        classify_quality,
        fit_quality_classifier,
    )
    from platform_spark.llmdata.quality_pinned import QUALITY_COEFS_SF001

    # the deterministic re-fit must reproduce the pinned vector (the gate
    # oracle carries it as literals — this is the fit-path regression pin)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert fit_quality_classifier(docs, deterministic=True) == QUALITY_COEFS_SF001

    # scoring separates prose from junk under the pinned model
    rows = [
        (1, "the cat sat on the mat and it was happy to be at home with a friend"),
        (2, "xq9 zz!!! ### kkk 0x0x0x qwerty zzzz !!!! @@@@"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in classify_quality(df, QUALITY_COEFS_SF001).collect()}
    assert out[1].is_quality and out[1].quality_prob > 0.9
    assert not out[2].is_quality


def test_image_dhash_near_dup(spark):
    import pandas as pd

    # three rasters: base, base with one brightened pixel region (near-dup
    # across DIFFERENT containers: PNG vs PPM), and an unrelated gradient
    w, h = 32, 24
    base = bytearray(M.synth_pixels(1, w, h))
    tweaked = bytearray(base)
    for i in range(0, 12):  # nudge a few bytes in one corner
        tweaked[i] = (tweaked[i] + 3) % 256
    other = M.synth_pixels(9999, w, h)
    rows = [
        (1, M.encode_png(w, h, bytes(base))),
        (2, M.encode_ppm(w, h, bytes(tweaked))),
        (3, M.encode_bmp(w, h, bytes(reversed(other)))),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "content"]),
        "media_id long, content binary",
    )
    fps = {r.media_id: r.dhash for r in M.dhash_media(df).collect()}
    # container-independence: the hash sees pixels, not bytes
    assert bin(fps[1] ^ fps[2]).count("1") <= 3
    assert bin(fps[1] ^ fps[3]).count("1") > 3

    pairs = M.dhash_pairs(
        M.dhash_media(df), max_hamming=3, bands=4
    ).collect()
    assert {(r.media_a, r.media_b) for r in pairs} == {(1, 2)}

    # pigeonhole recall: banded output == brute force at distance < bands
    import itertools
    brute = {
        (a, b)
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert {(r.media_a, r.media_b) for r in pairs} == brute


def test_minhash_join_cross_table_linkage(spark):
    # right-side records are noisy copies of left documents; the join links
    # each to its source and nothing else
    base = [" ".join(f"t{j}_{i}" for j in range(40)) for i in range(3)]
    left = spark.createDataFrame(
        [(i, base[i]) for i in range(3)], "doc_id long, text string"
    )
    right_rows = [
        (100, base[0]),                                  # exact copy of 0
        (101, " ".join(base[1].split()[:30])),           # 75% prefix of 1
        (102, " ".join(f"zz{j}" for j in range(40))),    # unrelated
    ]
    right = spark.createDataFrame(right_rows, "doc_id long, text string")
    out = {
        (r.left_id, r.right_id): r.jaccard
        for r in D.minhash_join(left, right, threshold=0.3).collect()
    }
    assert set(out) == {(0, 100), (1, 101)}
    assert out[(0, 100)] == 1.0
    assert 0.3 <= out[(1, 101)] < 1.0


def test_dsir_selection_prefers_target_like_docs(spark):
    from platform_spark.llmdata import selection as SEL

    # raw corpus: 5 docs resembling the target domain, 5 unlike it
    target_rows = [(100 + i, "der hund läuft schnell im park") for i in range(3)]
    like = [(i, "der hund schläft im park heute") for i in range(5)]
    unlike = [(i, "the cat sat on the mat today") for i in range(5, 10)]
    raw = spark.createDataFrame(like + unlike, "doc_id long, text string")
    tgt = spark.createDataFrame(target_rows, "doc_id long, text string")
    scores = {r.doc_id: r.dsir_score for r in SEL.dsir_scores(raw, tgt).collect()}
    assert all(scores[i] > scores[j] for i in range(5) for j in range(5, 10))
    top = SEL.dsir_select(raw, tgt, n=5).collect()
    assert {r.doc_id for r in top} == set(range(5))

    # feature extraction: unigrams + bigrams, multiset semantics
    one = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    feats = SEL.hashed_ngram_buckets(one).collect()
    assert len(feats) == 5  # 3 unigrams (with repeat) + 2 bigrams


def test_containment_pairs_asymmetric(spark):
    # doc 2 is a verbatim excerpt of doc 1: containment(2→1) = 1.0 while
    # Jaccard stays far below any dedup threshold
    big = " ".join(f"w{i}" for i in range(100))
    small = " ".join(f"w{i}" for i in range(40, 50))  # 10 tokens inside big
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, big), (2, small), (3, other)], "doc_id long, text string"
    )
    out = D.ngram_containment_pairs(
        df, k=3, threshold=0.9, stop_shingle_df=1.0
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    # small side fully contained; big side barely overlaps
    assert r.containment_ba == 1.0 and r.containment_ab < 0.1
    assert r.n_common == 8 and r.n_b == 8 and r.n_a == 98
    # the Jaccard operator at a typical threshold misses this pair
    jac = D.ngram_jaccard_pairs(df, k=3, threshold=0.2, stop_shingle_df=1.0).collect()
    assert jac == []

    # exact copies: self-row convention scores both directions 1.0
    df2 = spark.createDataFrame(
        [(1, big), (2, big)], "doc_id long, text string"
    )
    out2 = D.ngram_containment_pairs(
        df2, k=3, threshold=0.9, stop_shingle_df=1.0
    ).collect()
    assert len(out2) == 1 and out2[0].containment_ab == 1.0 and out2[0].containment_ba == 1.0


def test_remove_duplicate_spans(spark):
    shared = " ".join(f"tok{i}" for i in range(20))  # exactly one 20-window
    unique_a = " ".join(f"ua{i}" for i in range(10))
    unique_b = " ".join(f"ub{i}" for i in range(10))
    rows = [
        (1, f"{unique_a} {shared}"),
        (2, f"{shared} {unique_b}"),
        (3, "Tiny Doc"),  # < 20 tokens: untouched (but lower-normalized)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.remove_duplicate_spans(df, k=20).collect()}
    # the shared window's 20 tokens are deleted from both docs
    assert out[1].text == unique_a and out[1].n_removed == 20
    assert out[2].text == unique_b and out[2].n_removed == 20
    assert out[1].n_tokens == 30 and out[2].n_tokens == 30
    assert out[3].text == "tiny doc" and out[3].n_removed == 0

    # overlapping duplicated windows: coverage is the union, not 20/window
    cyc = " ".join(f"c{i % 5}" for i in range(30))  # every window recurs
    df2 = spark.createDataFrame([(1, cyc)], "doc_id long, text string")
    r = D.remove_duplicate_spans(df2, k=20).collect()[0]
    assert r.text == "" and r.n_removed == 30  # all positions covered

    # scope='cross' keeps within-doc-only repetition
    r2 = D.remove_duplicate_spans(df2, k=20, scope="cross").collect()[0]
    assert r2.n_removed == 0 and r2.text == cyc


# -- HTML extraction + corpus shuffle ---------------------------------------


def test_strip_html_rules(spark):
    from platform_spark.llmdata.cleaning import strip_html

    cases = [
        # script/style subtrees fully dropped, incl. their text
        ('<p>a</p><script>var x = "<b>hi</b>";</script>b', "a b"),
        ("<style>p{}</style>x", "x"),
        ("<!-- c --><div>keep</div>", "keep"),
        # entities decode after tag removal; &amp; decodes LAST
        ("&lt;tag&gt; &amp; &quot;q&quot; &#39;s&#39; &nbsp;", "<tag> & \"q\" 's'"),
        ("&amp;lt;", "&lt;"),  # double-escaped stays single-escaped
        ("  a\n\n<br>b\t c  ", "a b c"),
        ("", ""),
        ("<p></p>", ""),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, html string"
    )
    got = {
        r.i: r.out
        for r in df.select("i", strip_html(F.col("html")).alias("out")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_shuffle_corpus_deterministic_and_stable(spark):
    from platform_spark.llmdata.sampling import shuffle_corpus

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    a = [r.doc_id for r in shuffle_corpus(df).select("doc_id").collect()]
    b = [r.doc_id for r in shuffle_corpus(df).select("doc_id").collect()]
    assert a == b  # deterministic order
    assert a != sorted(a)  # actually shuffled
    c = [r.doc_id for r in shuffle_corpus(df, seed="other").select("doc_id").collect()]
    assert c != a  # seed changes the permutation
    assert sorted(c) == sorted(a)  # same multiset


def test_lang_id_multi_classifies_four_languages(spark):
    from platform_spark.llmdata.text import lang_id_multi

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and it is fine", "en"),
        (2, "el perro corre por la calle y no quiere volver a su casa", "es"),
        (3, "le chien court dans la rue et il ne veut pas rentrer avec nous", "fr"),
        (4, "der hund läuft auf der straße und er ist nicht bei uns im haus", "de"),
        (5, "zxcv qwer asdf uiop hjkl", "unk"),  # no function words
        (6, "", "unk"),
        (7, None, "unk"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "i long, t string"
    )
    got = {
        r.i: r.lang
        for r in df.select("i", lang_id_multi(F.col("t")).alias("lang")).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_wav_codec_roundtrip_and_rejections():
    from platform_spark.llmdata.multimodal import (
        encode_wav,
        real_audio_decode,
        synth_samples,
    )

    s = synth_samples(3, 500)
    d = real_audio_decode(encode_wav(s, sample_rate=16000))
    assert d["n_channels"] == 1 and d["sample_rate"] == 16000
    assert d["n_frames"] == 500 and d["duration_ms"] == 500 * 1000 // 16000
    assert d["amp_sum"] == sum(abs(v) for v in s)
    assert d["peak"] == max(abs(v) for v in s)
    # stereo interleave: frames halve, amp_sum unchanged
    st = real_audio_decode(encode_wav(s, channels=2))
    assert st["n_channels"] == 2 and st["n_frames"] == 250
    assert st["amp_sum"] == d["amp_sum"]
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="audio magic"):
        real_audio_decode(b"ID3\x04mp3data")


def test_real_resize_nearest_neighbor_exact():
    from platform_spark.llmdata.multimodal import (
        encode_png,
        real_decode,
        real_resize,
        synth_pixels,
    )

    src = encode_png(9, 12, synth_pixels(5, 9, 12))
    r = real_resize(src, 4, 6)
    d = real_decode(r["content"])
    assert (d["width"], d["height"], d["n_channels"]) == (4, 6, 3)
    px = synth_pixels(5, 9, 12)
    expect = 0
    for y in range(6):
        sy = y * 12 // 6
        for x in range(4):
            sx = x * 9 // 4
            base = (sy * 9 + sx) * 3
            expect += sum(px[base : base + 3])
    assert d["pixel_sum"] == expect
    with pytest.raises(NotImplementedError, match="media magic"):
        real_resize(b"\xff\xd8jpeg", 2, 2)


def test_dedup_keep_best_policy(spark):
    rows = [
        (1, "short text here we go padded padded"),
        (2, "short text here we go padded padded"),   # dup of 1, same length
        (3, "a much longer version of the same page with extra boilerplate"),
        (4, "a much longer version of the same page with extra boilerplate"),
        (5, "unique page"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.keeper: r for r in D.dedup_keep_best(df, F.length(F.col("text"))).collect()}
    # ties on score -> min id; singletons keep themselves
    assert set(out) == {1, 3, 5}
    assert out[1].n_copies == 2 and out[3].n_copies == 2 and out[5].n_copies == 1
    assert out[3].keeper_score == len(rows[2][1])
    # a custom score flips the keeper: prefer HIGHER doc_id
    out2 = {r.keeper for r in D.dedup_keep_best(df, F.col("doc_id")).collect()}
    assert out2 == {2, 4, 5}


def test_keeper_policies_string_ids(spark):
    """String ids must survive every keeper tiebreak: the old (-id)
    ordering NULLed out under non-ANSI casting and silently kept the
    LARGEST id. Numeric scores are the only thing negated now, and a
    non-numeric score fails loud."""
    from platform_spark.llmdata.cleaning import dedup_by_url

    rows = [
        ("a", "http://x.com/", 5),
        ("b", "http://x.com/", 5),  # prefer tie -> min string id "a"
        ("c", "http://x.com/", 9),  # highest prefer wins outright
        ("d", "http://y.com/", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id string, url string, score long")
    assert {r.doc_id for r in dedup_by_url(df).collect()} == {"a", "d"}
    assert {r.doc_id for r in dedup_by_url(df, prefer_col="score").collect()} == {
        "c",
        "d",
    }
    with pytest.raises(TypeError, match="must be numeric"):
        dedup_by_url(df.withColumn("s2", F.col("doc_id")), prefer_col="s2")

    dup = spark.createDataFrame(
        [("b", "same text"), ("a", "same text"), ("z", "other")],
        "doc_id string, text string",
    )
    keepers = {r.keeper for r in D.dedup_keep_best(dup, F.lit(1)).collect()}
    assert keepers == {"a", "z"}  # score tie -> min STRING id
    with pytest.raises(TypeError, match="must be numeric"):
        D.dedup_keep_best(dup, F.col("doc_id"))


def test_keeper_policies_null_scores(spark):
    """A NULL score must LOSE the keeper tiebreak. The naive min-of-
    (-score, id) struct ranks a negated NULL smallest (NULL struct fields
    compare first), silently crowning the UNSCORED copy; keeper_rank's
    leading is-null flag keeps scored rows ahead. All-NULL groups fall
    through to min id."""
    from platform_spark.llmdata.cleaning import dedup_by_url

    dup = spark.createDataFrame(
        [
            ("a", "same text", None),
            ("c", "same text", 9),   # only scored copy -> keeper
            ("b", "same text", 5),
            ("n2", "all null", None),
            ("n1", "all null", None),  # all-NULL group -> min id
        ],
        "doc_id string, text string, score long",
    )
    out = {
        r.keeper: r
        for r in D.dedup_keep_best(dup, F.col("score")).collect()
    }
    assert set(out) == {"c", "n1"}
    assert out["c"].keeper_score == 9
    assert out["n1"].keeper_score is None

    urls = spark.createDataFrame(
        [
            ("a", "http://x.com/", None),
            ("b", "http://x.com/", 9),
            ("n2", "http://y.com/", None),
            ("n1", "http://y.com/", None),
        ],
        "doc_id string, url string, score long",
    )
    kept = {r.doc_id for r in dedup_by_url(urls, prefer_col="score").collect()}
    assert kept == {"b", "n1"}


def test_dedup_incremental_string_ids(spark):
    """best_corpus_id must come through intact (and tie to the SMALLEST
    corpus id) when doc ids are strings — the old negation tiebreak
    produced NULL ids on the near path."""
    from platform_spark.llmdata.dedup import dedup_incremental_report

    corpus = spark.createDataFrame(
        [
            ("x1", "alpha beta gamma delta epsilon"),
            ("x9", "alpha beta gamma delta epsilon"),  # same content: tie
            ("x2", "totally unrelated corpus page"),
        ],
        "doc_id string, text string",
    )
    new = spark.createDataFrame(
        [
            ("n1", "alpha beta gamma delta zeta"),  # near-dup of x1/x9
            ("n2", "totally unrelated corpus page"),  # exact dup of x2
            ("n3", "nothing in common with anything here at all"),
        ],
        "doc_id string, text string",
    )
    got = {
        r.doc_id: r
        for r in dedup_incremental_report(
            new, corpus, k=3, threshold=0.3
        ).collect()
    }
    assert got["n2"].match_kind == "exact" and got["n2"].best_corpus_id == "x2"
    assert got["n1"].match_kind == "near"
    assert got["n1"].best_corpus_id == "x1"  # tie x1/x9 -> min string id
    assert 0.0 < got["n1"].jaccard < 1.0
    assert "n3" not in got


def test_oov_rate_against_vocab(spark):
    from platform_spark.llmdata.sampling import oov_rate

    docs = spark.createDataFrame(
        [(1, "apple banana cherry apple"), (2, "apple durian"), (3, "")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("apple",), ("banana",)], "token string")
    out = {r.doc_id: r for r in oov_rate(docs, vocab).collect()}
    assert out[1].n_tokens == 4 and out[1].n_oov == 1  # cherry
    assert out[1].oov_rate == 0.25
    assert out[2].n_oov == 1 and out[2].oov_rate == 0.5
    assert 3 not in out  # empty doc has no tokens to rate


def test_compression_ratio_signal(spark):
    import zlib

    from platform_spark.llmdata.cleaning import compression_ratio

    rep = "spam " * 200
    var = " ".join(f"word{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, rep), (2, var), (3, None), (4, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in compression_ratio(df).collect()}
    # repetitive text compresses far better than varied text
    assert out[1].compression_ratio < out[2].compression_ratio / 3
    assert out[1].raw_bytes == len(rep.encode())
    assert out[1].compressed_bytes == len(zlib.compress(rep.encode(), 6))
    assert out[3].compression_ratio is None and out[4].compression_ratio is None


def test_winnow_fingerprints_guarantee(spark):
    from platform_spark.llmdata.dedup import winnow_fingerprints

    # winnowing guarantee: a shared run of >= k+window-1 tokens yields at
    # least one COMMON fingerprint between the two docs
    shared = " ".join(f"s{i}" for i in range(8))  # k=5, window=4 -> 8 tokens
    rows = [
        (1, f"aa bb cc dd ee {shared} ff gg"),
        (2, f"xx yy {shared} zz ww vv uu tt"),
        (3, "totally different words with no overlap at all here folks"),
        (4, "tiny"),  # < k tokens: no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=5, window=4)
    by_doc = {
        d: {r.fingerprint for r in rows_}
        for d, rows_ in __import__("itertools").groupby(
            sorted(fps.collect(), key=lambda r: r.doc_id), key=lambda r: r.doc_id
        )
    }
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    # deterministic across calls
    again = {(r.doc_id, r.fingerprint) for r in winnow_fingerprints(df, 5, 4).collect()}
    assert again == {(d, f) for d, s in by_doc.items() for f in s}


def test_export_dataset_layout_and_manifest(spark, tmp_path):
    import json
    import os

    from platform_spark.llmdata.pipeline import export_dataset

    df = spark.createDataFrame(
        [
            (1, "one two three", "train"),
            (2, "four five", "train"),
            (3, "six", "val"),
        ],
        "doc_id long, text string, split string",
    )
    root = str(tmp_path / "ds")
    m = export_dataset(df, root)
    assert m["splits"]["train"] == {"n_docs": 2, "n_tokens": 5, "n_bytes": 22}
    assert m["splits"]["val"]["n_tokens"] == 1
    assert m["total_docs"] == 3 and m["total_tokens"] == 6
    # split-partitioned layout + manifest on disk; re-read prunes by split
    assert os.path.isdir(os.path.join(root, "split=train"))
    assert json.load(open(os.path.join(root, "_manifest.json")))["total_docs"] == 3
    back = spark.read.parquet(root)
    assert back.filter(F.col("split") == "train").count() == 2


def test_bm25_search_ranking_properties(spark):
    from platform_spark.llmdata.keywords import bm25_search

    rows = [
        (1, "cat cat cat dog"),          # high tf for cat
        (2, "cat dog bird fish mouse"),  # one cat, longer doc
        (3, "dog dog dog dog"),          # no cat
        (4, "nothing relevant here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_search(df, ["cat"], top_k=10).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1            # more term occurrences rank first
    assert set(ids) == {1, 2}     # docs without the term never appear
    assert all(r.score > 0 for r in out)  # Lucene idf form is non-negative
    # multi-term: doc 3 now matches via dog; dog-heavy doc ranks above
    # the one-cat-one-dog doc on the dog term alone
    out2 = {r.doc_id: r for r in bm25_search(df, ["cat", "dog"], 10).collect()}
    assert set(out2) == {1, 2, 3}
    assert out2[2].n_hit_terms == 2


def test_bigram_logprob_conditionals(spark):
    import math

    from platform_spark.llmdata.sampling import bigram_logprob

    rows = [
        (1, "a b a b"),   # bigrams: (a,b)x2, (b,a)x1
        (2, "a b"),
        (3, "solo"),      # < 2 tokens: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    # corpus: c(a,b)=3, c(b,a)=1; left counts: c1(a)=3, c1(b)=2... wait:
    # pairs: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b)
    # c(a,b)=3, c(b,a)=1; c1(a)=3 (a as left), c1(b)=2? b left in (b,a)
    # only -> c1(b)=1. P(b|a)=3/3=1 -> ln 1 = 0; P(a|b)=1/1=1 -> 0.
    assert out[1].n_scored_bigrams == 3 and out[1].avg_logprob == 0.0
    assert out[2].avg_logprob == 0.0
    assert 3 not in out
    # a genuinely uncertain corpus scores negative
    df2 = spark.createDataFrame(
        [(1, "x y"), (2, "x z")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in bigram_logprob(df2).collect()}
    assert math.isclose(out2[1].avg_logprob, round(math.log(0.5), 6))


def test_sample_to_token_budget_semantics(spark):
    from platform_spark.llmdata.sampling import sample_to_token_budget

    rows = [(i, "w " * 10, "a" if i < 50 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = sample_to_token_budget(df, {"a": 0.5, "b": 0.5}, 100).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # each source's share is 50 tokens = 5 docs of 10 tokens, no overshoot
    assert len(by_src["a"]) == 5 and len(by_src["b"]) == 5
    assert max(r.cum_tokens for r in by_src["a"]) == 50
    # overshoot bounded by one doc: budget 55 -> 6 docs (60 tokens)
    out2 = sample_to_token_budget(df, {"a": 0.55, "b": 0.45}, 100).collect()
    a2 = [r for r in out2 if r.source == "a"]
    assert len(a2) == 6 and max(r.cum_tokens for r in a2) == 60
    # unlisted sources contribute nothing; determinism across calls
    assert {r.source for r in out} == {"a", "b"}
    again = sorted((r.doc_id, r.source) for r in
                   sample_to_token_budget(df, {"a": 0.5, "b": 0.5}, 100).collect())
    assert again == sorted((r.doc_id, r.source) for r in out)


def test_curriculum_order_buckets_monotone_in_score(spark):
    from platform_spark.llmdata.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, "x " * (i + 1)) for i in range(40)], "doc_id long, text string"
    )
    out = curriculum_order(df, F.length(F.col("text")), n_buckets=4).collect()
    by_id = {r.doc_id: r.bucket for r in out}
    # score is monotone in doc_id here, so buckets are exact quartiles
    for i in range(40):
        assert by_id[i] == i // 10 + 1
    keys = {r.doc_id: r.shuffle_key for r in out}
    assert len(set(keys.values())) == 40  # distinct in-bucket shuffle keys


# heavy hitters: Misra-Gries screen + exact verify --------------------------


def test_heavy_hitters_equals_brute_force_any_partitioning(spark):
    from platform_spark.llmdata.sketches import heavy_hitters

    # skewed synthetic corpus: token t{i} appears ~1/i-proportionally
    rows = []
    for d in range(60):
        toks = []
        for i in range(1, 30):
            toks += [f"t{i}"] * (30 // i if d % i == 0 else 1)
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def brute(phi_num, phi_den):
        toks = df.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t")
        ).filter(F.col("t") != "")
        total = toks.count()
        return {
            (r.t, r.c)
            for r in toks.groupBy("t").agg(F.count("*").alias("c")).collect()
            if r.c * phi_den >= phi_num * total
        }

    expect = brute(1, 50)
    assert expect  # the fixture does produce heavy hitters
    for n_parts in (1, 7):
        got = {
            (r.token, r.n_occurrences)
            for r in heavy_hitters(df.repartition(n_parts), "text", 1, 50).collect()
        }
        assert got == expect, f"partitioning {n_parts} changed the answer"
    # a finer threshold returns a superset of a coarser one
    fine = {t for t, _ in brute(1, 200)}
    assert {t for t, _ in expect} <= fine
    with pytest.raises(ValueError):
        heavy_hitters(df, "text", 3, 2)


def test_misra_gries_partition_retention_bound():
    import pandas as pd

    from platform_spark.llmdata.sketches import _misra_gries_partition

    # 1000 tokens: 'hot' holds 200 (20%); capacity 10 must retain it even
    # when the stream arrives in adversarial batch splits
    stream = ["hot"] * 200 + [f"c{i}" for i in range(800)]
    for batch_size in (1000, 17, 3):
        batches = [
            pd.DataFrame({"token": stream[i : i + batch_size]})
            for i in range(0, len(stream), batch_size)
        ]
        (out,) = list(_misra_gries_partition(iter(batches), capacity=10))
        cands = out[out["token"].notna()]
        assert "hot" in set(cands["token"])
        assert len(cands) <= 10
        # the sentinel row carries the exact partition token count
        assert out[out["token"].isna()]["n"].tolist() == [1000]


# edit-distance rep pairs: PassJoin blocking + exact verify ------------------


def test_edit_distance_rep_pairs_exact_vs_brute(spark):
    from platform_spark.llmdata.er import edit_distance_rep_pairs

    base = [
        "golden retriever", "golden retriefer", "golden retrievers",
        "labrador", "labradoor", "lapbrador", "poodle", "noodle",
        "poodles", "terrier", "terriers", "spaniel",
    ]
    # include copies to exercise n_copies (a triple, and copy counts in
    # both orientations: 2 -> 3 and 3 -> 2), a too-short string, an empty
    # string and NULLs
    vals = base + base[:4] + base[:1] + ["ab", "", None, None]
    df = spark.createDataFrame([(v,) for v in vals], "name string")
    out = edit_distance_rep_pairs(df, "name", max_dist=2).collect()
    got = {(r.val_a, r.val_b): (r.dist, r.n_copies_a, r.n_copies_b) for r in out}

    # brute force over distinct values of length > 2
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    reps = {v: vals.count(v) for v in set(vals) if v is not None and len(v) > 2}
    expect = {}
    for a, b in itertools.combinations(sorted(reps), 2):
        d = lev(a, b)
        if d <= 2:
            expect[(a, b)] = (d, reps[a], reps[b])
    assert got == expect
    assert got[("golden retriefer", "golden retriever")] == (1, 2, 3)
    assert got[("golden retriever", "golden retrievers")] == (1, 3, 2)
    assert all(a < b for a, b in got)
    with pytest.raises(ValueError):
        edit_distance_rep_pairs(df, "name", max_dist=0)


def test_edit_distance_rep_pairs_segment_recall_property(spark):
    """Planted-edit fuzz: every string within d=2 of its source must pair."""
    from platform_spark.llmdata.er import edit_distance_rep_pairs

    import hashlib

    def mutate(s, salt):
        h = int(hashlib.md5(f"{salt}:{s}".encode()).hexdigest(), 16)
        pos = h % len(s)
        op = h % 3
        if op == 0:  # delete
            return s[:pos] + s[pos + 1 :]
        if op == 1:  # substitute
            return s[:pos] + chr(97 + h % 26) + s[pos + 1 :]
        return s[:pos] + chr(97 + h % 26) + s[pos:]  # insert

    srcs = [f"document number {i:04d} alpha" for i in range(50)]
    pairs_in = [(s,) for s in srcs] + [(mutate(mutate(s, 1), 2),) for s in srcs]
    df = spark.createDataFrame(pairs_in, "name string")
    out = edit_distance_rep_pairs(df, "name", max_dist=2).collect()
    got = {(r.val_a, r.val_b) for r in out}
    for s in srcs:
        m = mutate(mutate(s, 1), 2)
        if m != s:
            key = (min(s, m), max(s, m))
            assert key in got, f"lost planted pair {key}"


# temperature mixture ---------------------------------------------------------


def test_mix_temperature_quotas_and_rebalancing(spark):
    from platform_spark.llmdata.sampling import mix_temperature

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mix_temperature(df, 100, group_col="lang", id_col="doc_id").collect()
    quotas = {}
    for r in out:
        quotas.setdefault(r.lang, set()).add(r.quota)
        assert r.rn <= r.quota
    assert all(len(v) == 1 for v in quotas.values())
    n_big = sum(1 for r in out if r.lang == "big")
    n_small = sum(1 for r in out if r.lang == "small")
    # alpha=0.5: small group gets sqrt-proportional share (25%), well above
    # its 10% proportional share; total never exceeds the budget
    assert n_big + n_small <= 100
    assert n_small >= 20  # proportional would give 10
    # determinism under repartitioning
    again = mix_temperature(
        df.repartition(13), 100, group_col="lang", id_col="doc_id"
    ).collect()
    assert sorted((r.id, r.rn) for r in again) == sorted((r.id, r.rn) for r in out)
    with pytest.raises(ValueError):
        mix_temperature(df, 0)


def test_mix_temperature_isqrt_weight_is_exact(spark):
    """The sqrt weight must equal math.isqrt(n * 10^12) even where the
    naive floor(sqrt(n)*1e6) float path flips a floor (the r06/r07 driver
    divergence class) and where n*w products would overflow bigint."""
    import math

    from platform_spark.llmdata.sampling import _with_exact_sqrt_weight

    import random

    # first three: float-floor diverges from exact isqrt; rest: smooth
    # cases; plus a seeded random sweep across the full guarded domain
    ns = [9458861055077, 19538665129032, 26179540766523, 1, 2, 999, 10**9]
    rng = random.Random(8)
    ns += sorted({rng.randrange(1, 1 << 46) for _ in range(300)} - set(ns))
    assert any(
        math.floor(math.sqrt(n) * 1e6) != math.isqrt(n * 10**12) for n in ns
    )
    counts = spark.createDataFrame([(n,) for n in ns], "__n long")
    got = {r["__n"]: int(r["__w"]) for r in _with_exact_sqrt_weight(counts).collect()}
    assert got == {n: math.isqrt(n * 10**12) for n in ns}


def test_mix_temperature_quotas_overflow_and_guard(spark):
    import math

    from platform_spark.llmdata.sampling import (
        _with_exact_sqrt_weight,
        mix_temperature,
        mix_temperature_quotas,
    )

    rows = [(i, "a" if i % 3 else "b") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # a total_rows large enough that total_rows * w overflows BIGINT with
    # 64-bit math (the old expression wrapped silently under non-ANSI Spark)
    big_total = 1 << 61
    quotas = {
        r.lang: (r.n, r.w, r.quota)
        for r in mix_temperature_quotas(df, big_total, group_col="lang").collect()
    }
    w_a, w_b = quotas["a"][1], quotas["b"][1]
    assert big_total * max(w_a, w_b) > 2**63  # the overflow regime is real
    assert quotas["a"][2] == big_total * w_a // (w_a + w_b)
    assert quotas["b"][2] == big_total * w_b // (w_a + w_b)
    assert quotas["a"][0] == 40 and quotas["b"][0] == 20
    assert w_a == math.isqrt(40 * 10**12)
    with pytest.raises(ValueError):
        mix_temperature(df, (1 << 62) + 1)
    # the 2^46 per-group seed-bound guard fails loud, not wrong
    over = spark.createDataFrame([((1 << 46) + 1,)], "__n long")
    with pytest.raises(Exception, match="isqrt seed bound"):
        _with_exact_sqrt_weight(over).collect()


# product-quantized ANN -------------------------------------------------------


def test_pq_codebook_refit_reproduces_pinned():
    """The per-subspace ml k-means fit path must reproduce the pinned
    codebook the gate oracle carries (same check recipe as the IVF pin)."""
    import os

    import pytest as _pytest

    if not os.path.exists("/root/testdata/sf0.01/embeddings.parquet"):
        _pytest.skip("sf0.01 fixtures absent")
    from platform_spark.llmdata.pq_pinned import PQ_CODEBOOK_SF001
    from platform_spark.llmdata.similarity import fit_pq_codebook
    from platform_spark.session import get_spark

    spark = get_spark("tests", master="local[4]", shuffle_partitions=8)
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb = [
        [[round(x, 6) for x in c] for c in sub]
        for sub in fit_pq_codebook(emb, m=8, ksub=16, dim=64, deterministic=True)
    ]
    assert cb == PQ_CODEBOOK_SF001


def test_pq_topk_structure_and_exhaustive_rerank(spark):
    from platform_spark.llmdata.similarity import (
        brute_force_topk,
        fit_pq_codebook,
        pq_codes_expr,
        pq_topk,
    )

    import hashlib

    def vec(i):
        return [
            (int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
             / 0xFFFFFFFF) * 2 - 1
            for d in range(16)
        ]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(30)], "vec_id long, embedding array<double>"
    )
    cb = fit_pq_codebook(emb, m=4, ksub=4, dim=16, deterministic=True)
    q = emb.filter(F.col("vec_id") < 3)

    # codes are 1-based and within ksub; reconstruction has full dim
    codes = emb.select(
        pq_codes_expr(F.col("embedding"), cb).alias("codes")
    ).collect()
    for r in codes:
        assert len(r.codes) == 4 and all(1 <= c <= 4 for c in r.codes)

    # with survivors = whole corpus the screen cannot drop anything, so
    # PQ must equal the exact brute force bit-for-bit
    got = sorted(
        (r.query_id, r.rank, r.corpus_id, r.cosine)
        for r in pq_topk(emb, q, k=5, codebook=cb, rerank=30).collect()
    )
    expect = sorted(
        (r.query_id, r.rank, r.corpus_id, r.cosine)
        for r in brute_force_topk(emb, q, k=5).collect()
    )
    assert got == expect

    # with a tight screen the output is still k well-formed ranks/query
    tight = pq_topk(emb, q, k=5, codebook=cb, rerank=2).collect()
    per_q = {}
    for r in tight:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

    with pytest.raises(ValueError):
        fit_pq_codebook(emb, m=5, ksub=4, dim=16)


def test_expand_value_pairs_id_level(spark):
    from platform_spark.llmdata.er import edit_distance_rep_pairs, expand_value_pairs

    rows = [
        (1, "alpha bravo"), (2, "alpha bravo"), (3, "alpha brevo"),
        (4, "charlie delta"), (5, "charlie delta"),
    ]
    df = spark.createDataFrame(rows, "rid long, name string")
    reps = edit_distance_rep_pairs(df, "name", max_dist=2)
    out = expand_value_pairs(df, reps, "name", "rid")
    got = {(r.id_a, r.id_b): r.dist for r in out.collect()}
    # cross-value pairs (dist 1) expand to every id combination
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    # exact-copy pairs appear at distance 0
    assert got[(1, 2)] == 0 and got[(4, 5)] == 0
    # nothing links the two unrelated groups
    assert (1, 4) not in got and (3, 5) not in got
    # exclusion flag drops only the same-value pairs
    no_exact = {(r.id_a, r.id_b) for r in
                expand_value_pairs(df, reps, "name", "rid", include_exact=False).collect()}
    assert no_exact == {(1, 3), (2, 3)}


# unicode normalization -------------------------------------------------------


def test_normalize_text_forms_match_unicodedata(spark):
    import unicodedata

    from platform_spark.llmdata.cleaning import normalize_text

    cases = [
        "café",            # decomposed acute -> é
        "ﬁn",               # ﬁ ligature (NFKC folds, NFC keeps)
        "ｱｲｳ",    # halfwidth katakana
        "Ångström",  # combining ring/diaeresis
        "plain ascii",
        "",
        None,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "doc_id long, text string"
    )
    for form in ("NFC", "NFKC", "NFD", "NFKD"):
        out = {r.doc_id: (r.text_norm, r.changed)
               for r in normalize_text(df, "text", form=form).collect()}
        for i, c in enumerate(cases):
            if c is None:
                assert out[i] == (None, False)
            else:
                want = unicodedata.normalize(form, c)
                assert out[i] == (want, want != c), (form, c)
    with pytest.raises(ValueError):
        normalize_text(df, "text", form="NFX")


def test_calibrate_scores_median_mad(spark):
    from platform_spark.llmdata.cleaning import calibrate_scores

    rows = (
        [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 100])]
        + [(10 + i, "b", float(v)) for i, v in enumerate([11, 12, 13, 14, 110])]
        + [(20 + i, "c", 7.0) for i in range(3)]  # degenerate: MAD 0
        + [(30, None, 1.0), (31, "a", None)]      # dropped rows
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r.id: r for r in calibrate_scores(df, "score").collect()}
    # group a: median 3, MAD 1 -> z(100) = (100-3)/1.4826
    assert out[4].robust_z == round(97 / 1.4826, 6)
    assert out[0].robust_z == round(-2 / 1.4826, 6)
    # group b is group a shifted by 10: identical z for matching ranks —
    # the cross-source comparability the operator exists for
    for i in range(5):
        assert out[10 + i].robust_z == out[i].robust_z
    # robust: the outlier barely moves the center (median stays 3)
    assert abs(out[1].robust_z) < 1.0
    # degenerate group -> NULL z, not infinity
    assert out[20].robust_z is None
    # NULL group/score rows are excluded
    assert 30 not in out and 31 not in out


def test_heavy_hitters_by_group_equals_per_group_brute(spark):
    from platform_spark.llmdata.sketches import heavy_hitters_by_group

    rows = []
    # language-skewed corpora: each group has its own hot tokens
    for d in range(40):
        g = ["en", "de", "fr"][d % 3]
        toks = [f"{g}_hot"] * 8 + [f"{g}_w{d}_{i}" for i in range(20)]
        if d % 6 == 0:
            toks += ["shared_hot"] * 10
        rows.append((d, g, " ".join(toks)))
    rows.append((99, None, "dropped group"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    toks = df.filter(F.col("lang").isNotNull()).select(
        "lang", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t")
    ).filter(F.col("t") != "")
    totals = {r.lang: r.n for r in
              toks.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    counts = toks.groupBy("lang", "t").agg(F.count("*").alias("c")).collect()
    expect = {
        (r.lang, r.t, r.c)
        for r in counts
        if r.c * 40 >= totals[r.lang]
    }
    assert expect and len({g for g, _, _ in expect}) == 3
    for n_parts in (1, 11):
        got = {
            (r.lang, r.token, r.n_occurrences)
            for r in heavy_hitters_by_group(
                df.repartition(n_parts), "lang", phi_num=1, phi_den=40
            ).collect()
        }
        assert got == expect, f"partitioning {n_parts} changed the answer"
    # within-group share sanity: hot token share reflects ITS group total
    one = {(r.lang, r.token): r.share for r in heavy_hitters_by_group(
        df, "lang", phi_num=1, phi_den=40).collect()}
    for g in ("en", "de", "fr"):
        c = next(c for (gg, t, c) in expect if gg == g and t == f"{g}_hot")
        assert one[(g, f"{g}_hot")] == round(c / totals[g], 6)


def test_heavy_hitters_by_group_nonstring_group(spark):
    """An int group column must keep its type end to end: the old
    hard-coded `grp string` sketch schema made the exact-verify semi-join
    compare stringified keys against the int column, risking dropped
    candidates and a broken exact-recall guarantee."""
    from pyspark.sql.types import IntegerType

    from platform_spark.llmdata.sketches import heavy_hitters_by_group

    rows = [(g, "the the the cat") for g in (1, 2) for _ in range(3)] + [(1, "dog")]
    df = spark.createDataFrame(rows, "grp_id int, text string")
    out = heavy_hitters_by_group(df, "grp_id", phi_num=1, phi_den=4)
    assert isinstance(out.schema["grp_id"].dataType, IntegerType)
    got = {(r.grp_id, r.token): r.n_occurrences for r in out.collect()}
    # brute-force: g1 has the:9 cat:3 dog:1 of 13 (only `the` >= 13/4);
    # g2 has the:9 cat:3 of 12 (both meet 12/4)
    assert got == {(1, "the"): 9, (2, "the"): 9, (2, "cat"): 3}


def test_calibrate_scores_approx_mode_close_to_exact(spark):
    from platform_spark.llmdata.cleaning import calibrate_scores

    rows = [(i, "s" + str(i % 3), float((i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    exact = {r.id: r.robust_z for r in calibrate_scores(df, "score").collect()}
    approx = {r.id: r.robust_z
              for r in calibrate_scores(df, "score", exact=False).collect()}
    assert exact.keys() == approx.keys()
    for k in exact:
        if exact[k] is not None:
            assert abs(exact[k] - approx[k]) < 0.2, (k, exact[k], approx[k])


def test_ivfpq_topk_composition_degenerates_to_brute(spark):
    from platform_spark.llmdata.similarity import (
        brute_force_topk, fit_pq_codebook, ivfpq_topk)

    import hashlib

    def vec(i):
        return [
            (int(hashlib.md5(f"ivfpq{i}:{d}".encode()).hexdigest()[:8], 16)
             / 0xFFFFFFFF) * 2 - 1
            for d in range(16)
        ]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, embedding array<double>"
    )
    cb = fit_pq_codebook(emb, m=4, ksub=4, dim=16, deterministic=True)
    q = emb.filter(F.col("vec_id") < 3)
    # probe EVERY bucket and rerank past the corpus: both approximations
    # disabled -> must equal exact brute force bit-for-bit
    got = sorted(
        (r.query_id, r.rank, r.corpus_id, r.cosine)
        for r in ivfpq_topk(
            emb, q, k=5, n_centroids=8, n_probe=8, codebook=cb,
            rerank=40, dim=16,
        ).collect()
    )
    expect = sorted(
        (r.query_id, r.rank, r.corpus_id, r.cosine)
        for r in brute_force_topk(emb, q, k=5).collect()
    )
    assert got == expect
    # tight probe/rerank still yields k well-formed ranks per query
    tight = ivfpq_topk(emb, q, k=3, n_centroids=8, n_probe=2,
                       codebook=cb, rerank=2, dim=16).collect()
    per_q = {}
    for r in tight:
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert ranks and sorted(ranks) == list(range(1, len(ranks) + 1))


# -- r15 optimization internals: SQL-text builders must equal the DSL -------


def test_double_matrix_lit_equals_f_lit(spark):
    """The one-py4j-call literal renderer (r15) must produce the same
    values AND schema as pyspark's recursive F.lit, including
    round-trip-critical doubles (negatives, exponents, exact halves)."""
    vals = [
        [0.1, -0.5, 1e-07, 123456.789012345, 2.0, -1e16],
        [(1 / 3), -(2 / 7), 5e-324, 1.7976931348623157e308, 0.0, -0.0],
    ]
    row = spark.range(1).select(
        S.double_matrix_lit(vals).alias("a"),
        F.lit(vals).alias("b"),
    ).first()
    assert row["a"] == row["b"]
    # bit-exact, not just == (row equality on lists of floats is exact
    # for non-NaN values, but make the intent explicit)
    import struct

    for x, y in zip(sum(row["a"], []), sum(row["b"], [])):
        assert struct.pack("<d", x) == struct.pack("<d", y)


def test_pq_dequantize_sql_equals_dsl(spark):
    """_pq_dequantize_sql (r15) must reproduce pq_dequantize_expr
    bit-exactly: same argmin (first-occurrence ties), same fold order,
    same doubles."""
    import hashlib
    import struct as st

    def h(s, n):  # deterministic pseudo-random doubles
        u = st.unpack(">Q", hashlib.md5(f"{s}-{n}".encode()).digest()[:8])[0]
        return (u / float(1 << 64)) * 2.0 - 1.0

    m, ksub, dsub = 4, 3, 2
    codebook = [
        [[h(f"cb{j}-{k}", i) for i in range(dsub)] for k in range(ksub)]
        for j in range(m)
    ]
    vecs = [
        (i, [h("v", i * 8 + d) for d in range(m * dsub)]) for i in range(50)
    ]
    df = spark.createDataFrame(vecs, "vid int, cv array<double>")
    cb_df = F.broadcast(S.pq_codebook_frame(spark, codebook))
    out = df.crossJoin(cb_df).select(
        "vid",
        S.pq_dequantize_expr(F.col("cv"), codebook).alias("dsl"),
        F.expr(S._pq_dequantize_sql("cv", "__cb", m, dsub)).alias("sql"),
    )
    for r in out.collect():
        assert len(r["dsl"]) == len(r["sql"]) == m * dsub
        for x, y in zip(r["dsl"], r["sql"]):
            assert st.pack("<d", x) == st.pack("<d", y)


def test_sq_dequantize_sql_equals_dsl(spark):
    """_sq_dequantize_sql (r15) must reproduce the former zip_with
    Column chain bit-exactly — including the zero-range CASE branch —
    and fit_scalar_quantizer's array-aggregate form must return the
    same exact min/max doubles as per-dimension aggregates."""
    import struct as st

    dim = 6
    vecs = [
        (i, [((i * 13 + d * 29) % 101) / 50.5 - 1.0 for d in range(dim)])
        for i in range(40)
    ]
    # constant dimension 3 → range 0 → the CASE WHEN r = 0 branch
    vecs = [(i, v[:3] + [0.25] + v[4:]) for i, v in vecs]
    df = spark.createDataFrame(vecs, "vid int, cv array<double>")
    mins, maxs = S.fit_scalar_quantizer(df, "cv", dim=dim)
    ref = df.select(
        *[F.min(F.element_at(F.col("cv"), i + 1)) for i in range(dim)],
        *[F.max(F.element_at(F.col("cv"), i + 1)) for i in range(dim)],
    ).first()
    assert [st.pack("<d", x) for x in mins + maxs] == [
        st.pack("<d", x) for x in ref
    ]
    mins_lit, maxs_lit = S.double_matrix_lit(mins), S.double_matrix_lit(maxs)
    rng = F.zip_with(maxs_lit, mins_lit, lambda hi, lo: hi - lo)
    q = F.zip_with(
        F.zip_with(F.col("cv"), mins_lit, lambda x, lo: x - lo),
        rng,
        lambda d, r: F.when(r == 0.0, F.lit(0.0)).otherwise(
            F.floor(d / r * 255.0 + 0.5)
        ),
    )
    dsl = F.zip_with(
        F.zip_with(q, rng, lambda qq, r: qq * r / 255.0),
        mins_lit,
        lambda x, lo: x + lo,
    )
    out = df.select(
        dsl.alias("dsl"),
        F.expr(
            S._sq_dequantize_sql(
                "cv", S._double_matrix_sql(mins), S._double_matrix_sql(maxs)
            )
        ).alias("sql"),
    )
    for r in out.collect():
        assert len(r["dsl"]) == len(r["sql"]) == dim
        for x, y in zip(r["dsl"], r["sql"]):
            assert st.pack("<d", x) == st.pack("<d", y)


def test_widen_small_scan_gate_and_identity(spark, tmp_path):
    """widen_small_scan (r15, guide §2.5): widens a frame planned far
    below the session's parallelism, leaves an already-wide frame
    untouched (same object), and never changes the row set."""
    from platform_spark.llmdata.text import widen_small_scan

    p = str(tmp_path / "docs.parquet")
    spark.range(200).selectExpr(
        "id AS doc_id", "concat('text ', id) AS text"
    ).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    dp = spark.sparkContext.defaultParallelism
    wide = widen_small_scan(narrow)
    if narrow.rdd.getNumPartitions() * 4 <= dp:
        # the gate fires only on sessions wide enough to make the 1-split
        # scan "narrow" (ADVICE r15: on local[<4] the production gate is
        # correctly a no-op, so only check the widen shape where it fires)
        assert wide.rdd.getNumPartitions() == min(
            dp, narrow.rdd.getNumPartitions() * 32
        )
    assert sorted(r["doc_id"] for r in wide.collect()) == list(range(200))
    already = narrow.repartition(dp)
    assert widen_small_scan(already) is already
    # degenerate 0-partition input (empty LocalRelation): must not throw
    empty = spark.sql("SELECT CAST(1 AS LONG) AS doc_id, 'x' AS text").filter(
        "doc_id < 0"
    )
    assert widen_small_scan(empty).count() == 0


def test_widen_small_scan_runs_no_job_on_shuffled_input(spark, tmp_path):
    """A frame whose plan already holds a shuffle is returned as is,
    without counting its partitions: under adaptive execution `df.rdd`
    would run the upstream shuffle map stage as a hidden job."""
    from platform_spark.llmdata.text import widen_small_scan
    from tests.conftest import jobs_run

    p = str(tmp_path / "docs.parquet")
    spark.range(50).selectExpr("id AS doc_id", "concat('t ', id) AS text").coalesce(
        1
    ).write.parquet(p)
    shuffled = spark.read.parquet(p).repartition(2)
    n0 = jobs_run(spark)
    out = widen_small_scan(shuffled)
    assert jobs_run(spark) == n0
    assert out is shuffled


def test_simhash_sql_aggregates_match_reference_fold(spark):
    """The SQL-text majority vote (r15) must equal the per-row reference
    fold (dedup.simhash) on mixed inputs incl. empty and NULL text."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "one two three four five six"),
        (4, ""),
        (5, None),
        (6, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    table = {r["doc_id"]: r["sh"] for r in D.simhash_table(df).collect()}
    ref = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", D.simhash(F.col("text")).alias("sh")
        ).collect()
    }
    assert table == ref
    assert table[1] == table[2]
    assert table[4] == 0 and table[5] == 0


def test_nearest_centroids_sql_equals_dsl(spark):
    """_nearest_centroids_sql (r15) must reproduce nearest_centroids_expr
    exactly: same cosine tree, same DESC (sim, idx) tie-break, for every
    probe depth."""
    from platform_spark.llmdata.similarity import (
        _double_matrix_sql,
        _nearest_centroids_sql,
    )

    matrix = S.hash_centroid_matrix(8, 16)
    # duplicate one centroid so the (sim, idx) tie-break is exercised
    matrix[5] = list(matrix[2])
    vecs = [
        (i, [((i * 31 + d * 17) % 97) / 48.5 - 1.0 for d in range(16)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, "vid int, v array<double>")
    cm = S.double_matrix_lit(matrix)
    ms = _double_matrix_sql(matrix)
    for n in (1, 3, 8):
        out = df.select(
            S.nearest_centroids_expr(cm, 8, F.col("v"), n).alias("dsl"),
            F.expr(_nearest_centroids_sql(ms, 8, "v", n)).alias("sql"),
        ).collect()
        for r in out:
            assert r["dsl"] == r["sql"], (n, r)


def test_nearest_centroids_prenorm_equals_dsl(spark):
    """The prenorm form (r15: staged vector norm + literal centroid
    norms) must reproduce nearest_centroids_expr exactly — same
    similarity values, same DESC (sim, idx) tie-break — including on a
    duplicated centroid (tie) and a zero vector (NULL sims)."""
    from platform_spark.llmdata.similarity import (
        _double_matrix_sql,
        _nearest_centroids_prenorm_sql,
        _norm_sql,
        _norms_sql,
        norm_expr,
    )

    matrix = S.hash_centroid_matrix(8, 16)
    matrix[5] = list(matrix[2])  # exercise the (sim, idx) tie-break
    vecs = [
        (i, [((i * 31 + d * 17) % 97) / 48.5 - 1.0 for d in range(16)])
        for i in range(40)
    ]
    vecs.append((100, [0.0] * 16))  # zero norm -> NULL sims
    df = spark.createDataFrame(vecs, "vid int, v array<double>")
    cm = S.double_matrix_lit(matrix)
    ms = _double_matrix_sql(matrix)
    ns = _norms_sql(matrix)
    staged = df.select("vid", "v", norm_expr(F.col("v")).alias("nv"))
    for n in (1, 3, 8):
        out = staged.select(
            S.nearest_centroids_expr(cm, 8, F.col("v"), n).alias("dsl"),
            F.expr(
                _nearest_centroids_prenorm_sql(ms, ns, 8, "v", "nv", n)
            ).alias("pre"),
        ).collect()
        for r in out:
            assert r["dsl"] == r["pre"], (n, r)
    # the Python-side norm literals are bit-identical to the engine fold
    eng = (
        spark.range(1)
        .select(F.expr(f"transform({ms}, c -> {_norm_sql('c')})").alias("n"))
        .first()["n"]
    )
    lit = (
        spark.range(1).select(F.expr(ns).alias("n")).first()["n"]
    )
    assert eng == lit


def test_hashed_shingles_signature_path_matches_public(spark):
    """The combined (sh, h1, h2) single-pass table (r15) must yield the
    same signatures as minhash_signatures and the same verify hashes as
    the standalone shingle table."""
    from platform_spark.llmdata.dedup import (
        _hashed_shingles,
        _shingle_table,
        _sig_aggs,
        md5_int,
    )

    rows = [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u t"),
            (4, "ab"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    hashed = _hashed_shingles(df, "text", "doc_id", 3)
    sig_new = {
        r["doc_id"]: tuple(r[c] for c in r.asDict() if c != "doc_id")
        for r in hashed.groupBy("doc_id").agg(*_sig_aggs(8)).collect()
    }
    sig_old = {
        r["doc_id"]: tuple(r[c] for c in r.asDict() if c != "doc_id")
        for r in D.minhash_signatures(df, "text", "doc_id", 3, 8).collect()
    }
    assert sig_new == sig_old
    sh_new = {(r["doc_id"], r["sh"]) for r in hashed.select("doc_id", "sh").collect()}
    sh_old = {
        (r["doc_id"], r["sh"])
        for r in _shingle_table(df, "text", "doc_id", 3)
        .select("doc_id", md5_int(F.col("shingle")).alias("sh"))
        .collect()
    }
    assert sh_new == sh_old


def test_vectorized_raster_codecs_match_scalar_reference():
    """The r15 numpy codec paths (synth_pixels, PNG/BMP encode, PNG/BMP
    unfilter, dhash_bits, real_resize) must be BYTE-identical to the
    per-byte spec loops they replaced — pinned here against scalar
    reference implementations written out longhand, over sizes that
    exercise every PNG filter row (h > 5 → the writer cycles all five)
    and both BMP row parities (stride padding)."""
    from platform_spark.llmdata.multimodal import (
        _decode_raster,
        _paeth,
        dhash_bits,
        encode_bmp,
        encode_png,
        encode_ppm,
        real_resize,
        synth_pixels,
    )

    def ref_synth(mid, w, h):
        return bytes(
            (x * 7 + y * 11 + c * 13 + mid) % 256
            for y in range(h) for x in range(w) for c in range(3)
        )

    def ref_dhash(w, h, nch, px, hw=8, hh=7):
        val = 0
        for y in range(hh):
            sy = y * h // hh
            row = []
            for x in range(hw + 1):
                sx = x * w // (hw + 1)
                base = (sy * w + sx) * nch
                row.append(sum(px[base : base + nch]) // nch)
            for x in range(hw):
                if row[x + 1] > row[x]:
                    val |= 1 << (y * hw + x)
        return val

    def ref_png_filter_rows(w, h, px):
        # the filtered scanline bytes the spec loops produced (f = y % 5)
        nch, stride = 3, w * 3
        raw, prev = bytearray(), bytes(stride)
        for y in range(h):
            row = px[y * stride : (y + 1) * stride]
            f = y % 5
            raw.append(f)
            for i in range(stride):
                left = row[i - nch] if i >= nch else 0
                ul = prev[i - nch] if i >= nch else 0
                if f == 0:
                    raw.append(row[i])
                elif f == 1:
                    raw.append((row[i] - left) & 0xFF)
                elif f == 2:
                    raw.append((row[i] - prev[i]) & 0xFF)
                elif f == 3:
                    raw.append((row[i] - ((left + prev[i]) >> 1)) & 0xFF)
                else:
                    raw.append((row[i] - _paeth(left, prev[i], ul)) & 0xFF)
            prev = row
        return bytes(raw)

    import zlib

    for mid, w, h in [(5, 13, 9), (17, 8, 16), (40, 1, 7), (3, 2, 2)]:
        px = synth_pixels(mid, w, h)
        assert px == ref_synth(mid, w, h)
        # PNG: filtered body matches the spec loops, decode round-trips
        png = encode_png(w, h, px)
        idat = b""
        pos = 8
        while pos + 8 <= len(png):
            ln = int.from_bytes(png[pos : pos + 4], "big")
            typ = png[pos + 4 : pos + 8]
            if typ == b"IDAT":
                idat += png[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        assert zlib.decompress(idat) == ref_png_filter_rows(w, h, px)
        for blob in (png, encode_ppm(w, h, px), encode_bmp(w, h, px)):
            dw, dh, nch, out = _decode_raster(blob)
            assert (dw, dh, nch, out) == (w, h, 3, px), blob[:2]
            assert dhash_bits(dw, dh, nch, out) == ref_dhash(dw, dh, nch, out)
            r = real_resize(blob, 5, 7)
            want = bytearray()
            for y in range(7):
                sy = y * h // 7
                for x in range(5):
                    sx = x * w // 5
                    base = (sy * w + sx) * 3
                    want += px[base : base + 3]
            assert r["content"] == encode_ppm(5, 7, bytes(want))


def test_sketch_norm_arrow_matches_expr(spark):
    """The r15 Arrow sketch/norm staging kernel must be bit-identical to
    the interpreted Column-fold reference (`_sketch_norm_expr`): same
    hyperplane sketch bits (dot >= 0 on the same left-folded dots) and
    the same float64 norm — including a zero vector (norm 0.0) and
    sign-boundary dots."""
    import struct as _st

    from platform_spark.llmdata.dedup import (
        _sketch_norm_arrow,
        _sketch_norm_expr,
    )

    dim = 16
    rows = [
        (i, [((i * 31 + d * 17) % 97) / 48.5 - 1.0 for d in range(dim)])
        for i in range(300)
    ]
    rows.append((1000, [0.0] * dim))
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    import hashlib

    def plane(p):
        vals = []
        for i in range(dim):
            h = hashlib.md5(f"plane-{p}-{i}".encode()).digest()
            (u,) = _st.unpack(">Q", h[:8])
            vals.append((u / float(1 << 64)) * 2.0 - 1.0)
        return vals

    planes = [plane(p) for p in range(12)]
    exp = {r["vid"]: (r["sk"], r["nrm"]) for r in _sketch_norm_expr(df, planes).collect()}
    arr = {r["vid"]: (r["sk"], r["nrm"]) for r in _sketch_norm_arrow(df, planes).collect()}
    assert exp.keys() == arr.keys()
    for k in exp:
        assert exp[k][0] == arr[k][0], k
        assert _st.pack(">d", exp[k][1]) == _st.pack(">d", arr[k][1]), k
