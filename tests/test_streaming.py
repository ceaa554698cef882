"""Streaming pipeline tests: ingestion offsets, continuous sink with
checkpoint replay protection, LFS resolution modes, IDoc explode."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from platform_spark.streaming.idoc import ExplodeConfig, explode_idoc, write_topic_records
from platform_spark.streaming.ingest import RECORD_SCHEMA, ConsumerGroupOffsets, TopicWriter
from platform_spark.streaming.lfs import is_lfs_envelope, make_local_fetcher, resolve_lfs
from platform_spark.streaming.pipeline import ContinuousTopicPipeline, validate_json_payloads


def _records(spark, n, start=0):
    from datetime import datetime, timedelta

    rows = [
        (
            f"k{i % 7}",
            json.dumps({"i": i}),
            "{}",
            datetime(2024, 1, 1) + timedelta(seconds=i),
            i % 4,
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, RECORD_SCHEMA)


def test_topic_writer_contiguous_offsets(spark, tmp_path):
    w = TopicWriter(spark, str(tmp_path), "t1")
    w.append(_records(spark, 40))
    w.append(_records(spark, 40, start=40))
    df = w.read()
    assert df.count() == 80
    # offsets are contiguous 0..n-1 per partition across both batches
    per = (
        df.groupBy("_partition")
        .agg(F.count("*").alias("n"), F.min("_offset").alias("lo"), F.max("_offset").alias("hi"))
        .collect()
    )
    for r in per:
        assert r["lo"] == 0
        assert r["hi"] == r["n"] - 1
    assert (
        df.select("_partition", "_offset").distinct().count() == 80
    )  # no duplicate offsets


def test_topic_writer_assigns_partition_by_key_hash(spark, tmp_path):
    rows = _records(spark, 20).drop("_partition")
    w = TopicWriter(spark, str(tmp_path), "t2")
    w.append(rows.withColumn("_partition", F.lit(None).cast("int")))
    df = w.read()
    # same key → same partition
    assert (
        df.select("_key", "_partition").distinct().groupBy("_key").count()
        .filter(F.col("count") > 1).count() == 0
    )


def test_consumer_group_offsets(spark, tmp_path):
    cg = ConsumerGroupOffsets(spark, str(tmp_path))
    cg.commit("g1", "t1", 0, 41)
    cg.commit("g1", "t1", 1, 7)
    assert cg.fetch("g1", "t1", 0) == 41
    df = cg.as_dataframe()
    assert df.count() == 2
    assert {r["offset"] for r in df.collect()} == {41, 7}


def test_continuous_pipeline_exactly_once(spark, tmp_path):
    src, dst, ckpt = (str(tmp_path / d) for d in ("src", "dst", "ckpt"))
    w = TopicWriter(spark, src, "t")
    w.append(_records(spark, 30))
    pipe = ContinuousTopicPipeline(
        spark,
        os.path.join(src, "topic=t"),
        dst,
        ckpt,
        transform=lambda df: df.withColumn("doubled", F.col("_offset") * 2),
    )
    pipe.run_available_now()
    assert spark.read.parquet(dst).count() == 30
    # re-run without new data: checkpoint must prevent re-processing
    pipe.run_available_now()
    assert spark.read.parquet(dst).count() == 30
    # new data: only the delta lands
    w.append(_records(spark, 10, start=30))
    pipe.run_available_now()
    out = spark.read.parquet(dst)
    assert out.count() == 40
    assert out.filter(F.col("doubled") != F.col("_offset") * 2).count() == 0


def test_validate_json_payloads(spark):
    df = spark.createDataFrame(
        [("1", '{"a": 1}'), ("2", "junk{"), ("3", '{"b": 2}')],
        "id: string, _value: string",
    )
    lenient = validate_json_payloads(df, required_paths=("$.a",), mode="lenient")
    flags = {r["id"]: r["_valid"] for r in lenient.collect()}
    assert flags == {"1": True, "2": False, "3": False}
    strict = validate_json_payloads(df, required_paths=("$.a",), mode="strict")
    assert [r["id"] for r in strict.collect()] == ["1"]


_PAYLOAD = b"the real payload"
#: reference-shape envelopes (field shape from pkg/lfs/envelope_test.go
#: test vectors — int `kfs_lfs` version, required bucket/key/sha256)
_SHA_OK = __import__("hashlib").sha256(_PAYLOAD).hexdigest()


@pytest.fixture()
def lfs_env(spark, tmp_path):
    blob_root = tmp_path / "blobs"
    (blob_root / "bkt").mkdir(parents=True)
    (blob_root / "bkt" / "blob1").write_bytes(_PAYLOAD)
    (blob_root / "bkt" / "blob2").write_bytes(b"tampered content!")
    env = json.dumps(
        {"kfs_lfs": 1, "bucket": "bkt", "key": "blob1", "size": 16, "sha256": _SHA_OK}
    )
    missing = json.dumps(
        {"kfs_lfs": 1, "bucket": "bkt", "key": "nope", "size": 1, "sha256": "ab" * 32}
    )
    tampered = json.dumps(
        {"kfs_lfs": 1, "bucket": "bkt", "key": "blob2", "size": 17, "sha256": _SHA_OK}
    )
    df = spark.createDataFrame(
        [(1, env), (2, '{"plain": true}'), (3, missing), (4, tampered)],
        "id: long, _value: string",
    )
    return df, make_local_fetcher(str(blob_root))


def test_lfs_detect_and_resolve(lfs_env):
    df, fetcher = lfs_env
    assert df.filter(is_lfs_envelope(F.col("_value"))).count() == 3
    resolved = {r["id"]: r["_value"] for r in resolve_lfs(df, "resolve", fetcher).collect()}
    assert resolved[1] == "the real payload"
    assert resolved[2] == '{"plain": true}'
    assert resolved[3] is None  # missing blob fails closed in resolve mode
    assert resolved[4] is None  # sha256 mismatch fails closed (resolver.go:75-81)


def test_lfs_rejects_invalid_envelopes(spark):
    # DecodeEnvelope invalid vectors (envelope_test.go:108-127): zero
    # version, missing bucket/key/sha256, non-JSON — none detect as LFS
    bad = [
        "not json",
        "{}",
        '{"kfs_lfs":0,"bucket":"b","key":"k","sha256":"s"}',
        '{"kfs_lfs":1,"key":"k","sha256":"s"}',
        '{"kfs_lfs":1,"bucket":"b","sha256":"s"}',
        '{"kfs_lfs":1,"bucket":"b","key":"k"}',
        '{"kafscale_lfs":true,"bucket":"b","key":"k","sha256":"s"}',  # wrong marker
        # string-typed version: Go json.Unmarshal into int rejects this
        '{"kfs_lfs":"1","bucket":"b","key":"k","sha256":"s"}',
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(bad)], "id: long, _value: string")
    assert df.filter(is_lfs_envelope(F.col("_value"))).count() == 0
    good = '{"kfs_lfs":1,"bucket":"b","key":"k","sha256":"abc"}'
    df2 = spark.createDataFrame([(0, good)], "id: long, _value: string")
    assert df2.filter(is_lfs_envelope(F.col("_value"))).count() == 1


def test_lfs_reference_skip_hybrid(lfs_env):
    df, fetcher = lfs_env
    ref = resolve_lfs(df, "reference").collect()
    by_id = {r["id"]: r for r in ref}
    assert by_id[1]["_lfs_key"] == "blob1" and by_id[1]["_lfs_size"] == 16
    assert by_id[1]["_lfs_sha256"] == _SHA_OK
    assert by_id[2]["_lfs_key"] is None
    assert resolve_lfs(df, "skip").count() == 1
    hybrid = {r["id"]: r["_value"] for r in resolve_lfs(df, "hybrid", fetcher).collect()}
    assert hybrid[1] == "the real payload"
    assert "kfs_lfs" in hybrid[3]  # unresolvable keeps the envelope
    assert "kfs_lfs" in hybrid[4]  # checksum-mismatch keeps the envelope too


_IDOC = """
<IDOC BEGIN="1">
  <EDI_DC40><DOCNUM>0000042</DOCNUM></EDI_DC40>
  <E1EDP01 SEGMENT="1">
    <POSEX>0010</POSEX>
    <MENGE>5</MENGE>
    <E1EDP19><QUALF>002</QUALF><IDTNR>MAT-1</IDTNR></E1EDP19>
  </E1EDP01>
  <E1EDP01 SEGMENT="1">
    <POSEX>0020</POSEX>
    <MENGE>7</MENGE>
  </E1EDP01>
  <E1EDKA1 SEGMENT="1"><PARVW>AG</PARVW><PARTN>CUST-9</PARTN></E1EDKA1>
  <E1EDK03 SEGMENT="1"><IDDAT>012</IDDAT><DATUM>20240131</DATUM></E1EDK03>
</IDOC>
""".strip()


def test_idoc_explode_routes(spark, tmp_path):
    df = spark.createDataFrame([(1, _IDOC)], "doc_id: long, xml: string")
    out = explode_idoc(df).cache()
    routes = {r["route"] for r in out.select("route").distinct().collect()}
    assert {"header", "segments", "items", "partners", "dates"} <= routes
    items = [json.loads(r["record"]) for r in out.filter(F.col("route") == "items").collect()]
    assert len(items) == 2
    first = next(i for i in items if i["fields"].get("POSEX") == "0010")
    # leaf values fold into the routed parent's fields
    assert first["fields"]["MENGE"] == "5"
    assert first["path"] == "IDOC/E1EDP01"
    partners = [json.loads(r["record"]) for r in out.filter(F.col("route") == "partners").collect()]
    assert partners[0]["fields"] == {"PARVW": "AG", "PARTN": "CUST-9"}
    header = json.loads(out.filter(F.col("route") == "header").first()["record"])
    assert header["root"] == "IDOC" and header["attributes"]["BEGIN"] == "1"
    # multi-topic write
    write_topic_records(out, str(tmp_path / "idoc"))
    items_dir = spark.read.parquet(str(tmp_path / "idoc")).filter(F.col("route") == "items")
    assert items_dir.count() == 2


def test_idoc_invalid_xml(spark):
    df = spark.createDataFrame([(1, "<broken")], "doc_id: long, xml: string")
    out = explode_idoc(df).collect()
    assert out[0]["route"] == "errors"


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """T7 extension: tumbling-window count over a topic stream with a
    watermark for late data — the Structured Streaming shape the reference
    delegates to external engines (README.md:105-107)."""
    src = str(tmp_path / "src")
    w = TopicWriter(spark, src, "t")
    w.append(_records(spark, 120))
    topic_dir = os.path.join(src, "topic=t")
    schema = spark.read.parquet(topic_dir).schema
    stream = spark.readStream.schema(schema).parquet(topic_dir)
    agg = (
        stream.withWatermark("_ts", "10 minutes")
        .groupBy(F.window("_ts", "1 minute"))
        .count()
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("winagg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT window.start AS s, count FROM winagg ORDER BY s").collect()
    assert sum(r["count"] for r in rows) == 120
    assert all(r["count"] == 60 for r in rows)  # 1 rec/sec → 60 per minute


def test_topic_writer_hwm_survives_nondeterministic_source(spark, tmp_path):
    # HWM deltas must come from the files actually written, not from a
    # re-evaluation of the input (which here changes per evaluation)
    from platform_spark.streaming.ingest import TopicWriter

    w = TopicWriter(spark, str(tmp_path), "flaky", n_partitions=2)
    records = (
        spark.range(500)
        .filter(F.rand(seed=None) < 0.5)  # non-deterministic row set
        .select(
            F.col("id").cast("string").alias("_key"),
            F.lit("v").alias("_value"),
            F.lit(None).cast("string").alias("_headers"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("_ts"),
            F.lit(None).cast("int").alias("_partition"),
        )
    )
    hwm = w.append(records)
    assert sum(hwm.values()) == w.read().count()
    # second append stays consistent too
    hwm2 = w.append(records)
    assert sum(hwm2.values()) == w.read().count()


def test_iceberg_evolution_predicate():
    from pyspark.sql import types as T

    from platform_spark.streaming.iceberg import evolution_violations, is_widening

    assert is_widening(T.IntegerType(), T.LongType())
    assert is_widening(T.FloatType(), T.DoubleType())
    assert is_widening(T.DecimalType(10, 2), T.DecimalType(18, 2))
    assert not is_widening(T.LongType(), T.IntegerType())  # narrowing
    assert not is_widening(T.DecimalType(10, 2), T.DecimalType(18, 4))  # scale change
    assert not is_widening(T.StringType(), T.LongType())

    old = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    widened = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),  # added column: fine
        ]
    )
    assert evolution_violations(old, widened) == []
    narrowed = T.StructType([T.StructField("b", T.IntegerType())])
    bad = evolution_violations(old, narrowed)
    assert len(bad) == 1 and "'b'" in bad[0]


def test_iceberg_branch_selection(spark, tmp_path):
    from platform_spark.streaming.pipeline import ContinuousTopicPipeline

    pipe = ContinuousTopicPipeline(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "ckpt"),
        iceberg_table="ice.db.topics",
    )
    # no catalog configured → parquet fallback
    assert pipe._use_iceberg() is False
    spark.conf.set(
        "spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog"
    )
    try:
        assert pipe._use_iceberg() is True
    finally:
        spark.conf.unset("spark.sql.catalog.ice")
    # no table at all → always parquet
    pipe.iceberg_table = None
    assert pipe._use_iceberg() is False


def test_consumer_group_registry(spark, tmp_path):
    from platform_spark.streaming.ingest import ConsumerGroupRegistry

    reg = ConsumerGroupRegistry(spark, str(tmp_path))
    j1 = reg.join("g1", "m-b", ["events"], now=0.0)
    j2 = reg.join("g1", "m-a", ["events", "orders"], now=1.0)
    parts = {"events": 4, "orders": 2}
    assign = reg.assignment("g1", parts)
    # every partition assigned exactly once per topic
    flat = [pq for m in assign.values() for pq in m]
    assert sorted(flat) == [
        ("events", 0), ("events", 1), ("events", 2), ("events", 3),
        ("orders", 0), ("orders", 1),
    ]
    # orders only to its one subscriber
    assert all(t != "orders" for t, _ in assign["m-b"])
    # first joiner leads; the group awaits its sync
    assert j1["leader"] == "m-b" and j2["state"] == "CompletingRebalance"
    code, _ = reg.sync("g1", "m-a", j2["generation"], parts)
    assert code == "rebalance_in_progress"  # follower can't sync first
    code, pairs = reg.sync("g1", "m-b", j2["generation"], parts)
    assert code == "ok" and all(t == "events" for t, _ in pairs)
    desc = reg.describe("g1", parts)
    rows = {r["member_id"]: r for r in desc.collect()}
    assert rows["m-a"]["leader"] == "m-b" and rows["m-a"]["state"] == "Stable"
    assert rows["m-a"]["generation"] == j2["generation"]
    # leave rebalances deterministically
    reg.leave("g1", "m-a")
    assign2 = reg.assignment("g1", parts)
    assert sorted(assign2["m-b"]) == [("events", p) for p in range(4)]
    # persistence across instances
    reg2 = ConsumerGroupRegistry(spark, str(tmp_path))
    assert reg2.describe("g1", parts).count() == 1


def test_consumer_group_heartbeat_and_expiry(spark, tmp_path):
    from platform_spark.streaming.ingest import ConsumerGroupRegistry

    reg = ConsumerGroupRegistry(spark, str(tmp_path))
    parts = {"events": 4}
    j = reg.join("g", "m1", ["events"], now=0.0, session_timeout_s=30.0)
    assert j["ready"] and j["state"] == "CompletingRebalance"
    code, pairs = reg.sync("g", "m1", j["generation"], parts)
    assert code == "ok" and pairs == [("events", p) for p in range(4)]
    # heartbeat fencing mirrors the coordinator's error codes
    assert reg.heartbeat("g", "ghost", j["generation"], now=1.0) == "unknown_member_id"
    assert reg.heartbeat("g", "m1", j["generation"] + 1, now=1.0) == "illegal_generation"
    assert reg.heartbeat("g", "m1", j["generation"], now=1.0) == "ok"
    # a new member joining a Stable group forces a rebalance; the old
    # generation is fenced until every member rejoins and the leader syncs
    j2 = reg.join("g", "m2", ["events"], now=2.0, session_timeout_s=30.0)
    assert j2["state"] == "PreparingRebalance"
    assert reg.heartbeat("g", "m1", j["generation"], now=3.0) == "illegal_generation"
    j1b = reg.join("g", "m1", ["events"], now=3.0)
    assert j1b["state"] == "CompletingRebalance" and j1b["leader"] == "m1"
    code, pairs = reg.sync("g", "m1", j1b["generation"], parts)
    assert code == "ok" and len(pairs) == 2  # range split across 2 members
    # m2 stops heartbeating: the sweep expires it (40 - 3 > 30s) and the
    # survivor rebalances; m1 keeps heartbeating so it survives
    assert reg.heartbeat("g", "m1", j1b["generation"], now=20.0) == "ok"
    assert reg.sweep("g", now=40.0) is True
    j1c = reg.join("g", "m1", ["events"], now=41.0)
    code, pairs = reg.sync("g", "m1", j1c["generation"], parts)
    assert code == "ok" and pairs == [("events", p) for p in range(4)]


def test_consumer_group_rebalance_laggers(spark, tmp_path):
    from platform_spark.streaming.ingest import ConsumerGroupRegistry

    reg = ConsumerGroupRegistry(spark, str(tmp_path))
    parts = {"events": 2}
    reg.join("g", "m1", ["events"], now=0.0)
    g1 = reg.join("g", "m2", ["events"], now=0.0)["generation"]
    reg.sync("g", "m1", g1, parts)
    # m3 joins → new rebalance; m2 never rejoins the new generation
    j = reg.join("g", "m3", ["events"], now=1.0, rebalance_timeout_s=10.0)
    assert j["state"] == "PreparingRebalance"
    reg.join("g", "m1", ["events"], now=2.0, rebalance_timeout_s=10.0)
    # before the rebalance deadline nothing is dropped
    assert reg.sweep("g", now=5.0) is False
    # past the deadline the lagger is evicted and the survivors rebalance
    assert reg.sweep("g", now=13.0) is True
    members = reg._groups["g"]["members"]
    assert "m2" not in members and set(members) == {"m1", "m3"}


def test_sessionize_stream_stateful(spark, tmp_path):
    # applyInPandasWithState sessionizer: closed sessions emit, the open
    # session survives in state across micro-batches of one run
    from datetime import datetime

    from platform_spark.operators.sessionize import sessionize_stream

    src = str(tmp_path / "sess_src")
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0, 0)),
        ("u1", datetime(2024, 1, 1, 0, 10, 0)),
        ("u1", datetime(2024, 1, 1, 4, 0, 0)),   # closes session 1 (gap 230m)
        ("u1", datetime(2024, 1, 1, 9, 0, 0)),   # closes session 2 (gap 300m)
        ("u2", datetime(2024, 1, 1, 1, 0, 0)),   # stays open (never closed)
    ]
    spark.createDataFrame(rows, "user_id: string, _ts: timestamp").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["session_key"], r["n_events"], r["duration_sec"])
        for r in spark.table("sessions_out").collect()
    }
    assert got == {("u1", 2, 600), ("u1", 1, 0)}  # u2 + last u1 still open


def test_sessionize_stream_watermark_flush(spark, tmp_path):
    # EventTimeTimeout mode: a session idle past the gap flushes once the
    # watermark (driven by later events on OTHER keys) passes its deadline
    from datetime import datetime

    from platform_spark.operators.sessionize import sessionize_stream

    src = str(tmp_path / "sess_wm_src")
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0, 0)),
        ("u1", datetime(2024, 1, 1, 0, 10, 0)),
        ("u2", datetime(2024, 1, 1, 5, 0, 0)),   # advances the watermark
    ]
    spark.createDataFrame(rows, "user_id: string, _ts: timestamp").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = sessionize_stream(stream, gap_seconds=1800, watermark_delay="0 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_wm_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["session_key"], r["n_events"], r["duration_sec"])
        for r in spark.table("sessions_wm_out").collect()
    }
    # u1's session (deadline 00:40) flushed by the 05:00 watermark;
    # u2's (deadline 05:30, past the watermark) stays open
    assert ("u1", 2, 600) in got
    assert all(k != "u2" for k, _, _ in got)


def test_topic_writer_append_builds_one_projection(spark, tmp_path, monkeypatch):
    """An append builds its write plan from one projection: a 100-record
    append makes at most 100 py4j round trips in all (the column-by-column
    build made 560+ before the write was even called), the plan holds one
    exchange, and a topic name and path that need SQL escaping land as
    written, in the offsets' and the out-of-range error's text alike."""
    import threading

    import py4j.clientserver
    import pyspark.sql.readwriter as rw

    from platform_spark.streaming.ingest import _sql_str

    for s in ("it's", "a\\b", "\\'", "{}"):
        assert spark.range(1).selectExpr(f"{_sql_str(s)} AS v").first().v == s
    topic = "it's q"
    w = TopicWriter(spark, str(tmp_path / "r'oot"), topic)
    recs = _records(spark, 100)
    written = []
    real_parquet = rw.DataFrameWriter.parquet

    def capture(self, path, *a, **k):
        written.append(self._df)
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", capture)
    calls = []
    real_send = py4j.clientserver.ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        # this thread only: py4j's finalizer thread releases garbage
        # JVM references concurrently
        if threading.get_ident() == me:
            calls.append(1)
        return real_send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    hwm = w.append(recs)
    n_calls = len(calls)
    monkeypatch.undo()
    assert n_calls <= 100, n_calls
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert sum(hwm.values()) == 100
    df = w.read()
    assert {r["_topic"] for r in df.select("_topic").collect()} == {topic}
    seg = {r["_segment"] for r in df.filter("_partition = 1").select("_segment").collect()}
    assert seg == {f"{w.path}/_partition=1"}
    w2 = TopicWriter(spark, str(tmp_path / "r2"), topic, n_partitions=2)
    with pytest.raises(Exception, match="out of range for topic \"it's"):
        w2.append(_records(spark, 10))


def test_topic_writer_round_trip_with_glob_characters(spark, tmp_path):
    """Topic names holding the reader's glob characters append, read and
    compact their own rows only: `c*?` must not pick up its sibling
    `cab`, and `a[1]`, `b{x,y}` and a backslash must resolve at all."""
    root = str(tmp_path)
    TopicWriter(spark, root, "cab").append(_records(spark, 5, start=100))
    for n, topic in enumerate(("it's \\ q", "a[1]", "b{x,y}", "c*?"), start=3):
        w = TopicWriter(spark, root, topic)
        w.append(_records(spark, n))
        w.append(_records(spark, 2, start=n))
        want = sorted((topic, i) for i in range(n + 2))
        got = sorted(
            (r["_topic"], json.loads(r["_value"])["i"])
            for r in w.read().select("_topic", "_value").collect()
        )
        assert got == want, topic
        w.compact()
        got = sorted(
            (r["_topic"], json.loads(r["_value"])["i"])
            for r in w.read().select("_topic", "_value").collect()
        )
        assert got == want, topic
    assert TopicWriter(spark, root, "cab").read().count() == 5


def test_topic_writer_rejects_out_of_range_partition(spark, tmp_path):
    # records carry _partition 0..3; a 2-partition topic must refuse them
    # loudly, never write NULL offsets
    w = TopicWriter(spark, str(tmp_path), "t_oor", n_partitions=2)
    with pytest.raises(Exception, match="partition out of range"):
        w.append(_records(spark, 10))


def test_topic_writer_compaction(spark, tmp_path):
    w = TopicWriter(spark, str(tmp_path), "tc", n_partitions=4)
    for b in range(6):  # many tiny batches -> many small files
        w.append(_records(spark, 10, start=b * 10))
    before_files = len(w._data_files())
    before_rows = w.read().count()
    hwm_before = w.high_water_marks()
    after_files = w.compact(target_file_bytes=512 * 1024 * 1024)
    assert after_files < before_files
    df = w.read()
    assert df.count() == before_rows
    # offsets still contiguous per partition; HWM preserved
    per = df.groupBy("_partition").agg(
        F.count("*").alias("n"), F.min("_offset").alias("lo"), F.max("_offset").alias("hi")
    ).collect()
    for r in per:
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1
    assert w.high_water_marks() == hwm_before
    # appends keep working after the swap
    w.append(_records(spark, 10, start=60))
    assert w.read().count() == before_rows + 10


def test_topic_writer_compaction_sizing_splits_files(spark, tmp_path):
    # a tiny byte target must yield MULTIPLE files per partition — the salt
    # in repartition, not the _partition hash alone, controls file count
    w = TopicWriter(spark, str(tmp_path), "tc2", n_partitions=4)
    for b in range(4):
        w.append(_records(spark, 40, start=b * 40))
    w.compact(target_file_bytes=2048)  # small target → multiple files/part
    import collections, os as _os

    per_part = collections.Counter()
    for f in w._data_files():
        part = next(p for p in f.split(_os.sep) if p.startswith("_partition="))
        per_part[part] += 1
    assert all(n > 1 for n in per_part.values()), per_part
    # the swapped-in dir carries its own consistent hwm sidecar
    assert _os.path.exists(_os.path.join(w.path, "_hwm.json"))
    assert w.read().count() == 160


# -- JSON-Schema → StructType inference (iceberg.go:714-828) ----------------

_SCHEMA_DOC = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "properties": {
        "order_id": {"type": "string"},
        "qty": {"type": "integer"},
        "price": {"type": "number"},
        "express": {"type": "boolean"},
        "placed_at": {"type": "string", "format": "date-time"},
        "ship_date": {"type": "string", "format": "date"},
        "note": {"type": ["null", "string"]},
        "blob": {"type": "object"},  # unmappable → skipped
        "tags": {"type": "array"},   # unmappable → skipped
        "untyped": {},               # no type → skipped
    },
    "required": ["order_id", "qty"],
}


def test_json_schema_struct_inference():
    from pyspark.sql import types as T

    from platform_spark.streaming.jsonschema import struct_from_json_schema

    st = struct_from_json_schema(_SCHEMA_DOC)
    fields = {f.name: (f.dataType, f.nullable) for f in st.fields}
    assert fields == {
        "order_id": (T.StringType(), False),
        "qty": (T.LongType(), False),
        "price": (T.DoubleType(), True),
        "express": (T.BooleanType(), True),
        "placed_at": (T.TimestampType(), True),
        "ship_date": (T.DateType(), True),
        "note": (T.StringType(), True),
    }
    # sorted by name (columnsFromSchemaBytes sorts)
    assert [f.name for f in st.fields] == sorted(fields)


def test_json_schema_evolution_widening_only():
    from platform_spark.streaming.iceberg import evolution_violations
    from platform_spark.streaming.jsonschema import struct_from_json_schema

    v1 = struct_from_json_schema(
        {"properties": {"a": {"type": "integer"}, "b": {"type": "string"}}}
    )
    # added column + unchanged column: OK
    v2 = struct_from_json_schema(
        {"properties": {"a": {"type": "integer"}, "b": {"type": "string"},
                        "c": {"type": "number"}}}
    )
    assert evolution_violations(v1, v2) == []
    # narrowing long→double? no — type CHANGE long→string must be rejected
    bad = struct_from_json_schema(
        {"properties": {"a": {"type": "string"}, "b": {"type": "string"}}}
    )
    assert evolution_violations(v1, bad)


def test_pipeline_schema_doc_extracts_columns(spark, tmp_path):
    src, dst, ckpt = (str(tmp_path / d) for d in ("src", "dst", "ckpt"))
    w = TopicWriter(spark, src, "t")
    w.append(_records(spark, 20))
    doc = {"properties": {"i": {"type": "integer"}}, "required": ["i"]}
    pipe = ContinuousTopicPipeline(
        spark, os.path.join(src, "topic=t"), dst, ckpt, schema_doc=doc
    )
    pipe.run_available_now()
    out = spark.read.parquet(dst)
    assert dict(out.dtypes)["i"] == "bigint"  # integer → long
    assert out.filter(F.col("i").isNull()).count() == 0
    assert out.agg(F.max("i")).first()[0] == 19


def test_registry_schema_file_loader(tmp_path):
    import json as _json

    import pytest as _pytest

    from platform_spark.streaming.jsonschema import load_registry_schema

    (tmp_path / "orders.json").write_text(_json.dumps(_SCHEMA_DOC))
    doc = load_registry_schema(str(tmp_path), "orders")
    assert "properties" in doc
    (tmp_path / "empty.json").write_text('{"properties": {"x": {"type": "array"}}}')
    with _pytest.raises(ValueError, match="no columns resolved"):
        load_registry_schema(str(tmp_path), "empty")
    with _pytest.raises(FileNotFoundError):
        load_registry_schema(str(tmp_path), "missing")


def test_topic_config_from_json_schema_describe(spark, tmp_path):
    # a registry-derived TopicConfig flows through DESCRIBE like a YAML one
    from platform_spark.sql.engine import KafSqlEngine
    from platform_spark.streaming.jsonschema import topic_config_from_json_schema
    from platform_spark.topics import DEFAULT_TOPIC_CONFIGS, TopicCatalog

    cfgs = dict(DEFAULT_TOPIC_CONFIGS)
    cfgs["events"] = topic_config_from_json_schema(
        "events", {"properties": {"event_type": {"type": "string"},
                                  "amount": {"type": "number"}}}
    )
    cat = TopicCatalog(
        spark, "/root/testdata/sf0.001", configs=cfgs,
        cache_root=str(tmp_path / "c"),
    )
    from datetime import datetime

    eng = KafSqlEngine(cat, now=datetime(2024, 1, 31))
    rows = eng.sql("DESCRIBE events").collect()
    derived = {r["column"]: r["type"] for r in rows if r["source"] != "implicit"}
    assert derived == {"event_type": "string", "amount": "double"}


def test_lfs_envelope_writer_roundtrip(spark, tmp_path):
    # write side: oversized payloads become envelopes whose blobs resolve
    # back to the original bytes (claim-check round trip)
    from platform_spark.streaming.lfs import make_envelope, make_local_store

    blob_root = str(tmp_path / "blobs")
    big = "x" * 500 + "END"
    small = "tiny"
    df = spark.createDataFrame(
        [(1, big), (2, small), (3, None)], "id: long, _value: string"
    )
    enveloped = make_envelope(
        df, make_local_store(blob_root), bucket="bkt", threshold_bytes=100
    )
    vals = {r["id"]: r["_value"] for r in enveloped.collect()}
    assert vals[2] == small and vals[3] is None
    assert json.loads(vals[1])["kfs_lfs"] == 1
    assert json.loads(vals[1])["size"] == len(big.encode())
    # already-enveloped rows pass through idempotently
    twice = make_envelope(
        enveloped, make_local_store(blob_root), bucket="bkt", threshold_bytes=100
    )
    assert {r["id"]: r["_value"] for r in twice.collect()} == vals
    # resolve restores the original payload, sha verified
    resolved = resolve_lfs(enveloped, "resolve", make_local_fetcher(blob_root))
    back = {r["id"]: r["_value"] for r in resolved.collect()}
    assert back[1] == big and back[2] == small


def test_log_compact_latest_per_key(spark, tmp_path):
    from platform_spark.streaming.ingest import log_compact

    w = TopicWriter(spark, str(tmp_path), "lc", n_partitions=4)
    w.append(_records(spark, 40))          # keys k0..k6 repeat
    w.append(_records(spark, 40, start=40))
    compacted = log_compact(w.read())
    # exactly one survivor per (partition, key)
    assert (
        compacted.groupBy("_partition", "_key").count()
        .filter(F.col("count") > 1).count() == 0
    )
    # the survivor is the max offset for its (partition, key)
    mx = w.read().groupBy("_partition", "_key").agg(F.max("_offset").alias("mo"))
    joined = compacted.join(mx, ["_partition", "_key"])
    assert joined.filter(F.col("_offset") != F.col("mo")).count() == 0
    # null-keyed records are dropped
    null_df = w.read().withColumn("_key", F.lit(None).cast("string"))
    assert log_compact(null_df).count() == 0


def test_dedup_stream_suppresses_redelivery(spark, tmp_path):
    # at-least-once redelivery: the same logical records land twice across
    # micro-batches; streaming dedup by content key must emit them once
    from platform_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch = _records(spark, 25)
    batch.write.mode("append").parquet(src)
    batch.write.mode("append").parquet(src)  # full redelivery
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    deduped = dedup_stream(
        stream, keys=["_key", "_value"], within_watermark="1 hour"
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.count() == 25
    assert got.select("_key", "_value").distinct().count() == 25
    # global (non-watermark) variant on a batch frame for the bounded case
    from pyspark.sql import functions as _F
    both = batch.unionByName(batch)
    assert dedup_stream(both, keys=["_key", "_value"]).count() == 25


def test_within_join_stream_matches_batch(spark, tmp_path):
    # stream-stream band join == the equivalent batch join; unmatched left
    # rows surface via left_outer once the watermark passes
    from datetime import datetime

    from platform_spark.streaming.join_stream import within_join_stream

    lsrc, rsrc = str(tmp_path / "jl"), str(tmp_path / "jr")
    lrows = [
        ("k1", datetime(2024, 1, 1, 0, 0, 0), 10.0),
        ("k1", datetime(2024, 1, 1, 1, 0, 0), 11.0),
        ("k2", datetime(2024, 1, 1, 0, 30, 0), 12.0),
        ("k3", datetime(2024, 1, 1, 0, 0, 0), 13.0),  # no right match
    ]
    rrows = [
        ("k1", datetime(2024, 1, 1, 0, 4, 0), "a"),   # within 10m of l1
        ("k1", datetime(2024, 1, 1, 0, 50, 0), "b"),  # within 10m of l2
        ("k1", datetime(2024, 1, 1, 2, 0, 0), "c"),   # matches nothing
        ("k2", datetime(2024, 1, 1, 0, 39, 0), "d"),  # within 10m of l3
    ]
    spark.createDataFrame(lrows, "k: string, _ts: timestamp, amt: double").write.parquet(lsrc)
    spark.createDataFrame(rrows, "k: string, _ts: timestamp, tag: string").write.parquet(rsrc)
    lschema = spark.read.parquet(lsrc).schema
    rschema = spark.read.parquet(rsrc).schema

    def run(how, name):
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        out = within_join_stream(ls, rs, "k", 600, watermark="5 minutes", how=how)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name)

    inner = {
        (r["k"], r["amt"], r["_right_tag"]) for r in run("inner", "wj_inner").collect()
    }
    assert inner == {("k1", 10.0, "a"), ("k1", 11.0, "b"), ("k2", 12.0, "d")}
    # batch parity for the inner join
    lb, rb = spark.read.parquet(lsrc).alias("l"), spark.read.parquet(rsrc).alias("r")
    from pyspark.sql import functions as F

    batch = lb.join(
        rb,
        (F.col("l.k") == F.col("r.k"))
        & (F.abs(F.unix_micros("l._ts") - F.unix_micros("r._ts")) <= 600_000_000),
    ).select("l.k", "l.amt", F.col("r.tag").alias("_right_tag"))
    assert inner == {(r["k"], r["amt"], r["_right_tag"]) for r in batch.collect()}
    # left_outer also emits the unmatched k3 row with NULL right columns
    louter = {
        (r["k"], r["amt"], r["_right_tag"])
        for r in run("left_outer", "wj_louter").collect()
    }
    assert louter == inner | {("k3", 13.0, None)}


def test_cleaning_ops_compose_on_streams(spark, tmp_path):
    """The zero-shuffle cleaning operators (boilerplate line filter + PII
    redaction) are pure row transforms, so the SAME functions run
    unmodified inside a Structured Streaming query — the shape a
    continuous curation pipeline needs."""
    import pandas as pd

    from platform_spark.llmdata.cleaning import (
        filter_boilerplate_lines,
        redact_pii,
    )

    src = str(tmp_path / "docs")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "a perfectly ordinary content line\nplease subscribe now today",
                "reach me at bob@example.com for more details",
            ],
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    cleaned = redact_pii(
        filter_boilerplate_lines(stream).select(
            "doc_id", F.col("clean_text").alias("text")
        )
    )
    q = (
        cleaned.writeStream.format("memory")
        .queryName("cleandocs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM cleandocs").collect()}
    assert rows[1]["text_redacted"] == "a perfectly ordinary content line"
    assert "<EMAIL>" in rows[2]["text_redacted"] and rows[2]["n_email"] == 1


def test_curate_stream_decontam_filter_tokenizes_once(spark, tmp_path):
    """The micro-batch plan's decontamination filter holds the lowercase
    tokenizer ONCE: shingling references the token array k+3 times, and
    an inline tokenizer expression would be copied into each reference."""
    from datetime import datetime

    import pandas as pd

    from platform_spark.streaming.curate import curate_stream

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "_ts": [datetime(2024, 1, 1)],
                "text": ["alpha bravo charlie delta echo foxtrot golf hotel india"],
            }
        )
    ).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        curate_stream(stream, bench_hashes=[1, 2, 3], k=8)
        .writeStream.format("memory")
        .queryName("curate_plan_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def nodes(p):
        yield p
        kids = p.children()
        for i in range(kids.size()):
            yield from nodes(kids.apply(i))

    plan = q._jsq.streamingQuery().lastExecution().optimizedPlan()
    conds = [
        n.condition().toString()
        for n in nodes(plan)
        if n.getClass().getSimpleName() == "Filter"
        and "arrays_overlap" in n.condition().toString()
    ]
    assert len(conds) == 1
    assert conds[0].count("split(trim(lower(") == 1


def test_curate_stream_filter_binds_cleaned_text_once(spark, tmp_path):
    """The micro-batch filter holds the cleaned-text expression (line
    filter plus the PII rewrites) and the quality word array ONCE each:
    both are lambda-bound, so pushing the filter below the projection
    that defines `text` substitutes one copy, not one per reference."""
    from datetime import datetime

    import pandas as pd

    from platform_spark.llmdata.cleaning import PII_PATTERNS
    from platform_spark.streaming.curate import curate_stream

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "_ts": [datetime(2024, 1, 1)],
                "text": ["alpha bravo charlie delta echo foxtrot golf hotel india"],
            }
        )
    ).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (
        curate_stream(stream, bench_hashes=[1, 2, 3], k=8)
        .writeStream.format("memory")
        .queryName("curate_bind_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def nodes(p):
        yield p
        kids = p.children()
        for i in range(kids.size()):
            yield from nodes(kids.apply(i))

    plan = q._jsq.streamingQuery().lastExecution().optimizedPlan()
    conds = [
        n.condition().toString()
        for n in nodes(plan)
        if n.getClass().getSimpleName() == "Filter"
    ]
    assert len(conds) == 1
    cond = conds[0]
    assert cond.count("split(trim(coalesce(") == 1  # quality word array
    # one line split; one regexp_replace per PII pattern plus the line
    # rule's symbol count
    assert cond.count("split(text") == 1
    assert cond.count("regexp_replace(") == len(PII_PATTERNS) + 1


def test_curate_stream_end_to_end(spark, tmp_path):
    """Streaming curation: line filter + redaction + quality gate +
    inline decontamination + watermarked exact dedup, all in ONE
    append-legal plan. Plants one duplicate, one bench-contaminated doc,
    and one word-salad doc; only the clean originals survive."""
    from datetime import datetime

    import pandas as pd

    from platform_spark.streaming.curate import bench_shingle_hashes, curate_stream

    good = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu amber birch cedar dune "
        "ember fjord grove harbor inlet jasper knoll lagoon meadow nectar "
        "orchid prairie quartz ridge summit terrace upland vale willow zephyr"
    )
    good2 = (
        "anchor basil copper dahlia engine falcon garnet hollow iris "
        "jigsaw kernel lantern marble nimbus onyx pebble quiver raven "
        "saddle thimble umber violet walnut xylem yarrow zinc acorn "
        "breeze canyon drift ember2 frost gully horizon islet juniper "
        "kestrel loam mesa nook opal pine quarry reef slate tundra "
        "vortex wharf yonder zenith"
    )
    eval_text = (
        "question seven asks which planet has the largest ring system "
        "and the answer discusses its composition density and origin "
        "plus several moons that shepherd the narrow outer bands into "
        "stable arcs over millions of years of orbital resonance while "
        "astronomers measure their slow precession from ground arrays"
    )
    salad = "spam " * 60  # top-word ratio 1.0 -> quality-fails
    ts = datetime(2024, 1, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "_ts": [ts] * 5,
            "text": [good, good2, good, salad, eval_text + " with extra trailing words"],
        }
    )
    src = str(tmp_path / "stream_docs")
    spark.createDataFrame(pdf).write.parquet(src)

    bench = spark.createDataFrame(
        [(100, eval_text)], "bench_id: long, text: string"
    )
    hashes = bench_shingle_hashes(bench, k=8)
    assert hashes

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out = curate_stream(stream, bench_hashes=hashes, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("curated_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT doc_id, text FROM curated_stream").collect()
    ids = sorted(r["doc_id"] for r in rows)
    # 4 quality-fails, 5 collides with bench, and exactly ONE of the
    # duplicate pair {1,3} survives (dropDuplicatesWithinWatermark keeps
    # the first-arriving copy — arrival order within a batch is not
    # deterministic, so assert on content, not on which id won)
    assert sorted(r["text"] for r in rows) == sorted([good, good2])
    assert ids in ([1, 2], [2, 3])


def test_quality_rowwise_and_expr_match_batch(spark, tmp_path):
    """The shuffle-free quality twins agree with the batch operator on the
    full fixture corpus — metrics AND booleans bit-for-bit."""
    from platform_spark.llmdata.cleaning import (
        quality_passes_expr,
        quality_rules,
        quality_rules_rowwise,
    )
    from platform_spark.topics import TopicCatalog

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    docs = TopicCatalog(spark, sf_dir).table("documents")
    batch = {tuple(r) for r in quality_rules(docs).collect()}
    rowwise = {tuple(r) for r in quality_rules_rowwise(docs).collect()}
    assert batch == rowwise
    via_expr = {
        r["doc_id"]
        for r in docs.filter(quality_passes_expr(F.col("text")))
        .select("doc_id")
        .collect()
    }
    via_frame = {r[0] for r in quality_rules(docs).collect() if r["passes_all"]}
    assert via_expr == via_frame


def test_quality_twins_agree_on_null_text(spark):
    """NULL text must behave as '' in ALL THREE quality entry points: the
    batch explode+agg form must not drop the row at its inner join, the
    rowwise twin must not emit NULL metrics, and quality_passes_expr must
    yield false (not NULL — a NULL would silently pass a `NOT passes`
    filter). Streaming and batch curation diverge otherwise."""
    from platform_spark.llmdata.cleaning import (
        quality_passes_expr,
        quality_rules,
        quality_rules_rowwise,
    )

    rows = [(1, None), (2, ""), (3, "regular words appear here often enough")]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    batch = {r["doc_id"]: tuple(r) for r in quality_rules(docs).collect()}
    rowwise = {r["doc_id"]: tuple(r) for r in quality_rules_rowwise(docs).collect()}
    assert set(batch) == {1, 2, 3}          # null-text doc gets a row
    assert batch == rowwise                 # twins bit-identical
    assert batch[1][1:] == batch[2][1:]     # NULL == '' semantics
    assert batch[1][-1] is False            # passes_all false, not None
    flags = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", quality_passes_expr(F.col("text")).alias("p")
        ).collect()
    }
    assert flags == {i: batch[i][-1] for i in (1, 2, 3)}


def test_decode_media_runs_in_structured_streaming(spark, tmp_path):
    """The multimodal decode (Arrow mapInPandas) is append-legal: the same
    operator runs unmodified as a streaming transform."""
    import pandas as pd

    from platform_spark.llmdata.multimodal import (
        decode_audio,
        encode_wav,
        synth_samples,
    )

    src = str(tmp_path / "wav_src")
    rows = [(i, encode_wav(synth_samples(i, 100 + i))) for i in range(20)]
    spark.createDataFrame(rows, "media_id long, content binary").write.parquet(src)
    stream = spark.readStream.schema("media_id long, content binary").parquet(src)
    out = decode_audio(stream)
    assert out.isStreaming
    spark.sql("DROP TABLE IF EXISTS mm_stream_sink")
    q = (
        out.writeStream.format("memory")
        .queryName("mm_stream_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.media_id: r for r in spark.table("mm_stream_sink").collect()}
    assert len(got) == 20
    for i in range(20):
        s = synth_samples(i, 100 + i)
        assert got[i].n_frames == 100 + i
        assert got[i].amp_sum == sum(abs(v) for v in s)


def test_kfs_stream_feeds_curation_end_to_end(spark, tmp_path):
    """Full native-format path: .kfs segments → streaming decode →
    continuous curation (clean/quality/dedup) → curated rows. The curated
    survivors equal the batch twins applied to the decoded envelope."""
    from pyspark.sql import functions as F

    from platform_spark import kfs
    from platform_spark.llmdata.cleaning import _line_ok, quality_passes_expr, redact_pii
    from platform_spark.streaming.curate import curate_stream

    base_text = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "to find a better place with more words than any quality gate needs "
        "so it keeps going on and on with varied tokens like river mountain "
        "forest valley stream meadow cliff horizon sunset sunrise thunder"
    )
    rows = []
    for i in range(40):
        # 20 distinct contents, each duplicated once -> dedup halves them
        text = f"{base_text} variant {i % 20}"
        rows.append((i % 4, i // 4, "2024-01-05 00:00:00", f"k{i}", text, "{}"))
    df = spark.createDataFrame(
        rows, "_partition int, _offset long, _ts string, _key string, _value string, _headers string"
    ).withColumn("_ts", F.col("_ts").cast("timestamp"))
    root = str(tmp_path / "kfs")
    kfs.write_kfs(df, root, "docs", segment_rows=10).collect()

    stream = kfs.read_kfs(spark, root, "docs", streaming=True).select(
        F.concat_ws("-", F.col("_partition"), F.col("_offset")).alias("doc_id"),
        "_ts",
        F.col("_value").cast("string").alias("text"),
    )
    curated = curate_stream(stream, bench_hashes=[], watermark="10 minutes")
    spark.sql("DROP TABLE IF EXISTS kfs_curated_sink")
    q = (
        curated.writeStream.format("memory")
        .queryName("kfs_curated_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("kfs_curated_sink")
    # 20 distinct contents, all passing quality -> exactly 20 survivors
    assert got.count() == 20
    assert got.select("text").distinct().count() == 20
    # batch twin on the decoded envelope agrees on surviving CONTENT
    decoded = kfs.read_kfs(spark, root, "docs").select(
        F.col("_value").cast("string").alias("text")
    )
    cleaned = decoded.withColumn(
        "text",
        F.array_join(F.filter(F.split(F.col("text"), "\n"), lambda l: _line_ok(l, 4)), "\n"),
    )
    cleaned = redact_pii(cleaned).select(F.col("text_redacted").alias("text"))
    expected = cleaned.filter(quality_passes_expr(F.col("text"))).select("text").distinct()
    assert expected.subtract(got.select("text")).count() == 0
    assert got.select("text").subtract(expected).count() == 0


def test_dedup_against_corpus_stream_twins_batch(spark, tmp_path):
    """Streaming incremental dedup: the exact layer is a stream-static
    anti join (append-legal, zero state); the near layer runs the batch
    operator per micro-batch via foreachBatch. Together they must keep
    exactly the batch dedup_incremental survivor set."""
    from pyspark.sql import functions as F

    from platform_spark.llmdata.dedup import (
        build_dedup_index,
        CorpusDedupIndex,
        dedup_incremental,
    )
    from platform_spark.streaming.dedup_stream import (
        dedup_against_corpus_stream,
        dedup_incremental_batch_fn,
    )

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    w = F.split(F.trim(F.col("text")), r"\s+")
    shifted = (F.col("doc_id") + 500000).alias("doc_id")
    new = (
        corpus.filter(F.col("doc_id") % 10 == 1).select(shifted, "text")
        .unionByName(
            corpus.filter(F.col("doc_id") % 10 == 3).select(
                shifted, F.array_join(F.slice(w, F.lit(1), 20), " ").alias("text")
            )
        )
    )
    idx_path = str(tmp_path / "idx")
    build_dedup_index(corpus).save(idx_path)
    idx = CorpusDedupIndex.load(spark, idx_path)
    expect = {
        r["doc_id"]
        for r in dedup_incremental(new, corpus_index=idx, threshold=0.3).collect()
    }

    src = str(tmp_path / "src")
    new.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    # exact layer inline on the stream, near layer per micro-batch
    exact_filtered = dedup_against_corpus_stream(stream, idx)
    got: set[int] = set()

    def sink(batch_df, batch_id):
        got.update(r["doc_id"] for r in batch_df.collect())

    q = (
        exact_filtered.writeStream.foreachBatch(
            dedup_incremental_batch_fn(idx, sink, threshold=0.3)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert got == expect and len(expect) > 0
