"""The two workloads. Each returns a `Result`: its end-to-end metrics, its
per-layer metrics (traced runs only) and its operation counts.

kafsql_interactive: one closed-loop client sends a seeded KAFSQL statement
stream through `KafSqlEngine.sql(...).collect()`.

curate_corpus: a producer appends a fixed document corpus, in a seeded
order and batch split, to a topic with `TopicWriter.append`, exports the
topic to `.kfs` segments and reads them back; then one `curate_corpus`
pass runs over the topic, as a batch job does.

A traced run (`Context.trace`) runs the same work once with spans on; its
per-layer metrics come from the spans and from Spark's status store.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

import checks
import gen
import stats
from spans import JobCounter, Tracer, catalyst_phases, tree_cpu_s

#: interactive topics: sf0.01-sized `events` and `orders` (`payments` is
#: derived from `orders`). Statement latency hardly depends on volume, and
#: small topics keep three set-ups inside the run's time budget.
N_EVENTS = 10_000
N_ORDERS = 15_000
INTERACTIVE_TOPICS = ("events", "orders", "payments")
#: statements generated per run: more than the fastest loop can send
STREAM_LEN = 2_000
#: set-up is timed this many times per run; setup_s is the median
SETUPS = 3

#: the curation corpus: the same rows for every seed (the seed only orders
#: them), so the curated output is fixed. The pass is dominated by fixed
#: per-job and first-execution costs (5,000 documents took 51 s a pass,
#: 1,000 took 34 s), so the smaller corpus buys run time cheaply
N_DOCS = 1_000
CORPUS_SEED = 0
N_BATCHES = 10
#: records appended in each set-up, warming the write path
WARMUP_DOCS = 100
CURATE_OUTPUTS = ("cleaned", "quality", "clusters", "curated", "packed", "drop_report")
#: digest of the curated (doc_id, split) and packed rows, recorded from
#: the seed code; every seed must reproduce it
CURATE_DIGEST = "bcd9676da8313f3a2a2eed07725da5b4242ee1da24d27ef4fab2d037df0ab939"

#: end-to-end metrics: (unit, better), reported by every workload
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "throughput_per_s": ("1/s", "higher"),
}

#: per-layer metrics: (unit, better), reported by every traced run (0 where
#: the workload does not exercise the layer)
PER_LAYER = {
    "engine.sql_ms": ("ms", "lower"),
    "engine.sql_share": ("ratio", "lower"),
    "parser.parse_ms": ("ms", "lower"),
    "governance.estimate_scan_ms": ("ms", "lower"),
    "governance.footers_read": ("count", "lower"),
    "governance.cache_hit_ratio": ("ratio", "higher"),
    "compiler.compile_ms": ("ms", "lower"),
    "topics.topic_ms": ("ms", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "exec.collect_ms": ("ms", "lower"),
    "exec.jobs_per_query": ("count", "lower"),
    "exec.tasks_per_query": ("count", "lower"),
    "exec.executor_ms_per_query": ("ms", "lower"),
    "query_p50_ms": ("ms", "lower"),
    "query_tail_ms": ("ms", "lower"),
    "query_tail_pct": ("pct", "lower"),
    "query_count": ("count", "higher"),
    "queries_per_s": ("1/s", "higher"),
    "topics.materialize_ms": ("ms", "lower"),
    "ingest.append_ms": ("ms", "lower"),
    "append_p50_ms": ("ms", "lower"),
    "ingest_rows_per_s": ("1/s", "higher"),
    "kfs.write_ms": ("ms", "lower"),
    "kfs.read_ms": ("ms", "lower"),
    "storage.files_written": ("count", "lower"),
    "storage.bytes_per_row": ("bytes", "lower"),
    "storage.cached_rdds_after": ("count", "lower"),
    "pipeline.build_ms": ("ms", "lower"),
    "pipeline.build_jobs": ("count", "lower"),
    "pipeline.build_share": ("ratio", "lower"),
    **{f"pipeline.stage_ms.{name}": ("ms", "lower") for name in CURATE_OUTPUTS},
    "curate_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.stages_run": ("count", "lower"),
    "exec.stages_skipped": ("count", "lower"),
    "exec.single_task_stages": ("count", "lower"),
    "exec.executor_ms": ("ms", "lower"),
    "exec.core_util": ("ratio", "higher"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "cpu_ms_per_op": ("ms", "lower"),
    "session.start_ms": ("ms", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "host.sentinel_s": ("s", "lower"),
    "host.sentinel_mt_s": ("s", "lower"),
    "trace.overhead_ms": ("ms", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
    "failed_ratio": ("ratio", "lower"),
}


@dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: the traced run's spans
    tracer: Tracer | None = None
    #: further numbers for the human-readable detail line
    detail: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    work_dir: str
    seed: int
    seconds: float
    trace: bool
    jobs: JobCounter


def _new_dir(ctx: Context, name: str) -> str:
    path = os.path.join(ctx.work_dir, name)
    os.makedirs(path, exist_ok=True)
    return path


def _storage(root: str) -> dict[str, float]:
    """Parquet files under `root` and their bytes per row."""
    import pyarrow.parquet as pq

    paths = checks.data_files(root, ".parquet")
    rows = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    size = sum(os.path.getsize(p) for p in paths)
    return {"storage.files_written": len(paths), "storage.bytes_per_row": stats.ratio(size, rows)}


def _exec(ctx: Context, first: int, last: int, wall_s: float) -> dict[str, float]:
    """Spark execution counts of jobs [first, last) over `wall_s` seconds."""
    ctx.jobs.settle()
    s = ctx.jobs.jobs_stats(first, last)
    return {
        "exec.jobs": s["jobs"],
        "exec.stages_run": s["stages_run"],
        "exec.stages_skipped": s["stages_skipped"],
        "exec.single_task_stages": s["single_task_stages"],
        "exec.executor_ms": s["executor_ms"],
        "exec.core_util": stats.ratio(s["executor_ms"], wall_s * 1000.0 * ctx.jobs.cores),
        "exec.shuffle_write_bytes": s["shuffle_write_bytes"],
        "exec.spill_bytes": s["spill_bytes"],
        "exec.tasks": s["tasks"],
    }


def _cached_rdds(ctx: Context) -> int:
    return ctx.spark.sparkContext._jsc.getPersistentRDDs().size()


# -- kafsql_interactive ----------------------------------------------------


def _interactive_setup(ctx: Context, i: int, tracer: Tracer):
    """Raw tables from the seed, the three topics materialized into a fresh
    root, and an engine with its clock pinned to the data's `now`."""
    from platform_spark import KafSqlEngine, TopicCatalog

    sf_dir = _new_dir(ctx, f"setup{i}/raw")
    gen.write_table(gen.events_table(N_EVENTS, ctx.seed), sf_dir, "events")
    gen.write_table(gen.orders_table(N_ORDERS, ctx.seed), sf_dir, "orders")
    catalog = TopicCatalog(ctx.spark, sf_dir)
    root = _new_dir(ctx, f"setup{i}/topics")
    with tracer.span("setup.materialize"):
        for topic in INTERACTIVE_TOPICS:
            catalog.materialize(topic, root)
    return KafSqlEngine(catalog, now=gen.NOW), root


@dataclass
class Sent:
    statement: gen.Statement
    latency_s: float
    rows: list | None  # None: the statement raised
    phases: dict | None = None


def _send(
    engine, statements, tracer: Tracer, seconds: float | None = None
) -> tuple[list[Sent], float]:
    """Closed loop: each statement is sent when the previous one returned.
    With `seconds`, stops sending once that long has passed; otherwise sends
    every statement. Returns the sent statements and the loop's wall time."""
    sent: list[Sent] = []
    t_start = time.perf_counter()
    for st in statements:
        if seconds is not None and time.perf_counter() - t_start >= seconds:
            break
        rows = phases = None
        t0 = time.perf_counter()
        try:
            with tracer.span("statement"):
                df = engine.sql(st.sql)
                with tracer.span("exec.collect"):
                    rows = df.collect()
        except Exception as e:  # noqa: BLE001 - a failed statement is counted, not fatal
            print(f"statement failed: {st.sql}: {e!r}"[:500], file=sys.stderr, flush=True)
        latency = time.perf_counter() - t0
        if tracer.enabled and rows is not None:
            t_phases = time.perf_counter()
            phases = catalyst_phases(df)
            tracer.overhead_s += time.perf_counter() - t_phases
        sent.append(Sent(st, latency, rows, phases))
    return sent, time.perf_counter() - t_start


def _interactive_patches(tracer: Tracer) -> None:
    import pyarrow.parquet as pq

    from platform_spark.sql import engine as engine_mod
    from platform_spark.sql import parser
    from platform_spark.sql.compiler import Compiler
    from platform_spark.topics import TopicCatalog

    tracer.patch(engine_mod.KafSqlEngine, "sql", "engine.sql")
    tracer.patch(parser, "parse", "parser.parse")
    # engine.py imports estimate_scan by name: patch the engine's binding
    tracer.patch(engine_mod, "estimate_scan", "governance.estimate_scan")
    tracer.patch(pq, "ParquetFile", "parquet.footer")
    tracer.patch(Compiler, "compile", "compiler.compile")
    tracer.patch(TopicCatalog, "topic", "topics.topic")


def _interactive_layers(tracer: Tracer, sent: list[Sent], engine, ex: dict) -> dict[str, float]:
    n = len(sent)
    footer_parents = {s.id for s in tracer.named("governance.estimate_scan")}
    footers = sum(1 for s in tracer.named("parquet.footer") if s.parent in footer_parents)
    phases = [s.phases for s in sent if s.phases]
    cache = engine.cache
    out = {
        "engine.sql_ms": tracer.total_ms("engine.sql") / n,
        "engine.sql_share": stats.ratio(
            tracer.total_ms("engine.sql"), tracer.total_ms("statement")
        ),
        "parser.parse_ms": tracer.total_ms("parser.parse") / n,
        "governance.estimate_scan_ms": tracer.total_ms("governance.estimate_scan") / n,
        "governance.footers_read": footers / n,
        "governance.cache_hit_ratio": stats.ratio(cache.hits, cache.hits + cache.misses),
        "compiler.compile_ms": tracer.total_ms("compiler.compile") / n,
        "topics.topic_ms": tracer.total_ms("topics.topic") / n,
        "exec.collect_ms": tracer.total_ms("exec.collect") / n,
        "exec.jobs_per_query": ex["exec.jobs"] / n,
        "exec.tasks_per_query": ex["exec.tasks"] / n,
        "exec.executor_ms_per_query": ex["exec.executor_ms"] / n,
    }
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = sum(p[phase] for p in phases) / n
    return out


def kafsql_interactive(ctx: Context) -> Result:
    from platform_spark.topics import TopicCatalog

    tracer = Tracer(ctx.trace, ctx.jobs)
    tracer.patch(TopicCatalog, "materialize", "topics.materialize")
    setup_s = []
    try:
        for i in range(SETUPS):
            t0 = time.perf_counter()
            engine, topic_root = _interactive_setup(ctx, i, tracer)
            setup_s.append(time.perf_counter() - t0)
    finally:
        tracer.restore()
    _send(engine, gen.warmup_stream(ctx.seed + 7919, N_EVENTS), Tracer(False))

    stream = gen.statement_stream(ctx.seed, STREAM_LEN, N_EVENTS)
    _interactive_patches(tracer)
    first = ctx.jobs.next_id()
    cpu0 = tree_cpu_s()
    try:
        sent, wall = _send(engine, stream, tracer, ctx.seconds)
    finally:
        tracer.restore()
    cpu = tree_cpu_s() - cpu0
    last = ctx.jobs.next_id()

    lat_ms = [s.latency_s * 1000.0 for s in sent]
    by_kind: dict[str, list[float]] = {}
    for s in sent:
        by_kind.setdefault(s.statement.kind, []).append(s.latency_s * 1000.0)
    res = Result(
        end_to_end={
            "setup_s": stats.median(setup_s),
            "op_p50_ms": stats.median(lat_ms),
            "throughput_per_s": len(sent) / wall,
        },
        detail={
            "cpu_ms_per_op": cpu * 1000.0 / len(sent),
            "setups_s": setup_s,
            "statements": len(sent),
            "p50_ms_by_kind": {k: stats.median(v) for k, v in sorted(by_kind.items())},
            "latencies_ms": [round(x, 1) for x in lat_ms],
        },
    )
    if ctx.trace:
        ex = _exec(ctx, first, last, wall)
        tail = stats.tail_percentile(len(lat_ms))
        res.per_layer = {
            **_interactive_layers(tracer, sent, engine, ex),
            **ex,
            **_storage(topic_root),
            "query_p50_ms": stats.median(lat_ms),
            "query_tail_ms": stats.percentile(lat_ms, tail) if tail else 0.0,
            "query_tail_pct": tail or 0.0,
            "query_count": len(sent),
            "queries_per_s": len(sent) / wall,
            "topics.materialize_ms": stats.median(
                s.ms for s in tracer.named("setup.materialize")
            ),
            "storage.cached_rdds_after": _cached_rdds(ctx),
            "trace.overhead_ms": tracer.overhead_s * 1000.0 / len(sent),
            "trace.overhead_share": tracer.overhead_s / wall,
        }
        res.tracer = tracer

    twins = checks.Twins(
        {t: engine.catalog._materialized[t] for t in INTERACTIVE_TOPICS}
    )
    try:
        res.attempted = len(sent)
        res.failed = checks.count_failed(twins, ((s.statement, s.rows) for s in sent))
    finally:
        twins.close()
    return res


# -- curate_corpus -----------------------------------------------------------


def _corpus(ctx: Context, raw_dir: str):
    """The fixed corpus in seed order, with its arrival position `seq`, as
    producer records (`RECORD_SCHEMA` plus `seq`)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    table = gen.permuted(gen.documents_table(N_DOCS, CORPUS_SEED), ctx.seed)
    table = table.append_column("seq", pa.array(range(table.num_rows), pa.int64()))
    path = gen.write_table(table, raw_dir, "documents")
    docs = ctx.spark.read.parquet(path)
    return docs.select(
        F.col("doc_id").cast("string").alias("_key"),
        F.to_json(F.struct("doc_id", "text", "lang", "source")).alias("_value"),
        F.lit(None).cast("string").alias("_headers"),
        F.timestamp_seconds(F.lit(gen.micros(gen.EPOCH) // 1_000_000) + F.col("seq")).alias("_ts"),
        F.lit(None).cast("int").alias("_partition"),
        "seq",
    )


def _curate_setup(ctx: Context, i: int):
    from pyspark.sql import functions as F

    from platform_spark.streaming.ingest import TopicWriter

    records = _corpus(ctx, _new_dir(ctx, f"setup{i}/raw"))
    warm = TopicWriter(ctx.spark, _new_dir(ctx, f"setup{i}/warm"), "documents")
    warm.append(records.filter(F.col("seq") < WARMUP_DOCS).drop("seq"))
    return records


@dataclass
class Pass:
    wall_s: float
    append_s: list[float]
    kfs_s: float
    curate_s: float
    ok: dict[str, bool]
    cached_rdds: int
    topic_root: str


def _topic_rows(topic_dir: str) -> dict[int, list[tuple]]:
    """(offset, key, value) per partition, read straight from the committed
    parquet files."""
    import pyarrow.parquet as pq

    out: dict[int, list[tuple]] = {}
    for path in checks.data_files(topic_dir, ".parquet"):
        part = int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
        t = pq.read_table(path, columns=["_offset", "_key", "_value"]).to_pydict()
        out.setdefault(part, []).extend(zip(t["_offset"], t["_key"], t["_value"]))
    return out


def _curate_pass(ctx: Context, records, tracer: Tracer) -> Pass:
    from pyspark.sql import functions as F

    from platform_spark import kfs
    from platform_spark.llmdata import pipeline
    from platform_spark.streaming.ingest import TopicWriter

    root = _new_dir(ctx, "pass/topics")
    kfs_root = _new_dir(ctx, "pass/kfs")
    writer = TopicWriter(ctx.spark, root, "documents")
    t_pass = time.perf_counter()
    append_s = []
    for lo, hi in gen.batch_ranges(ctx.seed, N_DOCS, N_BATCHES):
        batch = records.filter((F.col("seq") >= lo) & (F.col("seq") < hi)).drop("seq")
        t0 = time.perf_counter()
        hwm = writer.append(batch)
        append_s.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    with tracer.span("kfs.write"):
        kfs.write_kfs(writer.read(), kfs_root, "documents").collect()
    with tracer.span("kfs.read"):
        back = (
            kfs.read_kfs(ctx.spark, kfs_root, "documents")
            .select("_partition", "_offset", "_key", "_value")
            .collect()
        )
    kfs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    schema = "doc_id BIGINT, text STRING"
    docs = writer.read().select(F.from_json("_value", schema).alias("d")).select("d.*")
    stages = pipeline.curate_corpus(docs)
    stages["drop_report"] = pipeline.drop_report(stages)
    got = {}
    for name in CURATE_OUTPUTS:
        with tracer.span(f"pipeline.stage.{name}"):
            if name == "curated":
                got[name] = stages[name].select("doc_id", "split").collect()
            elif name == "packed":
                got[name] = stages[name].collect()
            else:
                stages[name].write.format("noop").mode("overwrite").save()
    curate_s = time.perf_counter() - t0
    wall = time.perf_counter() - t_pass
    cached = _cached_rdds(ctx)

    # checks, outside the timed pass
    committed = _topic_rows(writer.path)
    offsets = {p: [r[0] for r in rows] for p, rows in committed.items()}
    written = [(p, *r) for p, rows in committed.items() for r in rows]
    read_back = [
        (r[0], r[1], bytes(r[2]).decode() if r[2] is not None else None, bytes(r[3]).decode())
        for r in back
    ]
    return Pass(
        wall_s=wall,
        append_s=append_s,
        kfs_s=kfs_s,
        curate_s=curate_s,
        ok={
            "append": checks.offsets_contiguous(offsets)
            and checks.hwm_ok(hwm, offsets, N_DOCS),
            "kfs": len(read_back) == len(written)
            and stats.digest(read_back) == stats.digest(written),
            "curate": curate_digest(got["curated"], got["packed"]) == CURATE_DIGEST,
        },
        cached_rdds=cached,
        topic_root=root,
    )


def curate_digest(curated_rows, packed_rows) -> str:
    """Order-independent digest of the curated (doc_id, split) rows and the
    packed rows."""
    return stats.digest([(stats.digest(curated_rows), stats.digest(packed_rows))])


def curate_corpus(ctx: Context) -> Result:
    from platform_spark.llmdata import pipeline
    from platform_spark.streaming.ingest import TopicWriter

    setup_s = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        records = _curate_setup(ctx, i)
        setup_s.append(time.perf_counter() - t0)

    tracer = Tracer(ctx.trace, ctx.jobs)
    tracer.patch(TopicWriter, "append", "ingest.append")
    tracer.patch(pipeline, "curate_corpus", "pipeline.build")
    first = ctx.jobs.next_id()
    cpu0 = tree_cpu_s()
    try:
        p = _curate_pass(ctx, records, tracer)
    finally:
        tracer.restore()
    cpu = tree_cpu_s() - cpu0
    last = ctx.jobs.next_id()

    attempted = N_BATCHES + 2  # the appends, the export with its read-back, the curation
    res = Result(
        end_to_end={
            "setup_s": stats.median(setup_s),
            "op_p50_ms": stats.median(p.append_s) * 1000.0,
            "throughput_per_s": N_DOCS / p.wall_s,
        },
        detail={
            "cpu_ms_per_op": cpu * 1000.0 / attempted,
            "setups_s": setup_s,
            "append_ms": [x * 1000.0 for x in p.append_s],
            "kfs_s": p.kfs_s,
            "curate_s": p.curate_s,
            "pass_s": p.wall_s,
        },
        attempted=attempted,
        failed=(0 if p.ok["append"] else N_BATCHES)
        + (0 if p.ok["kfs"] else 1)
        + (0 if p.ok["curate"] else 1),
    )
    if ctx.trace:
        build = tracer.named("pipeline.build")[0]
        res.per_layer = {
            **_exec(ctx, first, last, p.wall_s),
            **_storage(p.topic_root),
            "ingest.append_ms": tracer.total_ms("ingest.append") / N_BATCHES,
            "append_p50_ms": stats.median(p.append_s) * 1000.0,
            "ingest_rows_per_s": N_DOCS / (sum(p.append_s) + p.kfs_s),
            "kfs.write_ms": tracer.total_ms("kfs.write"),
            "kfs.read_ms": tracer.total_ms("kfs.read"),
            "pipeline.build_ms": build.ms,
            "pipeline.build_jobs": build.jobs[1] - build.jobs[0],
            "pipeline.build_share": stats.ratio(build.ms, p.curate_s * 1000.0),
            **{
                f"pipeline.stage_ms.{n}": tracer.total_ms(f"pipeline.stage.{n}")
                for n in CURATE_OUTPUTS
            },
            "curate_s": p.curate_s,
            "storage.cached_rdds_after": p.cached_rdds,
            "trace.overhead_ms": tracer.overhead_s * 1000.0 / attempted,
            "trace.overhead_share": tracer.overhead_s / p.wall_s,
        }
        res.tracer = tracer
    return res


WORKLOADS = {
    "kafsql_interactive": kafsql_interactive,
    "curate_corpus": curate_corpus,
}
