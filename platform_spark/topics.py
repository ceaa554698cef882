"""Topic tables: the engine's core data model.

A *topic* is a table carrying the reference's 8 implicit columns
(server.go:829-841) plus YAML-declared schema-on-read columns extracted
from the JSON `_value` (config.go:141-155). At rest a topic is Parquet
partitioned by `_partition` (replacing KFS segments; SURVEY.md §1.3) — the
Parquet footers give Catalyst the offset/time min-max pruning the reference
hand-rolls from `.kfst` sidecars and manifests (discovery/time_index.go:58-116).

For tests the driver's TPC-H-ish parquet is *presented* as topics via the
deterministic envelope in envelope.py.
"""

from __future__ import annotations

import os
import re
import threading
import uuid
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_spark import envelope as env
from platform_spark.session import apply_runtime_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: fixed dimension of array<float> vector columns, carried in catalog
#: config (TESTDATA.md: embeddings.embedding is 64-d at every SF). Parquet
#: list types don't encode element count, so without config the llmdata
#: defaults would run a 1-row probe job per query — pinning it here keeps
#: every engine/gate path probe-free (fixture agreement is pytest-checked).
VECTOR_DIMS: dict[str, dict[str, int]] = {"embeddings": {"embedding": 64}}


def vector_dim(table: str, column: str) -> int | None:
    """Configured dimension of a vector column, or None if unregistered."""
    return VECTOR_DIMS.get(table, {}).get(column)


_BYTE_SUFFIX = re.compile(r"^([0-9]+)([kmgtp]?)b?$")


def byte_string_as_bytes(value: str) -> int:
    """A byte-size conf string as bytes, with the suffixes Spark's
    `byteStringAs` accepts (`128`, `64k`, `128m`, `1g`, `2t`, `1p`, each
    optionally ending in `b`, any case). Raises ValueError on anything
    else, so a caller can tell a malformed conf from a tuned one."""
    m = _BYTE_SUFFIX.match(value.strip().lower())
    if not m:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) << (10 * " kmgtp".index(m.group(2) or " "))


#: deterministic partsupp derivation (dbgen's 4-suppliers-per-part recipe:
#: stride floor(S/4), provably distinct mod S for S >= 4; availqty and
#: supplycost are pure integer arithmetic on the two keys). The mod picks a
#: supplier SLOT in 0..S-1, mapped to an actual key by rank over supplier —
#: never assuming keys are a contiguous 0-based range, so a fixture
#: regeneration to dbgen's 1-based keys cannot silently orphan rows (the
#: rank map is a bijection, preserving the 4-distinct-slots proof).
#: Dialect-common SQL — the same text runs on Spark AND DuckDB, so the
#: TPC-H partsupp gates (q2/q9/q11/q16/q20) prefix it as a CTE while users
#: query the registered `partsupp` view directly.
PARTSUPP_DERIVATION_SQL = """
  SELECT ps_partkey, ps_suppkey,
    CAST(1 + MOD(ps_partkey * 7 + ps_suppkey * 13, 9999) AS INT) AS ps_availqty,
    CAST(1.0 AS DOUBLE) + MOD(ps_partkey * 131 + ps_suppkey * 17, 99900) / CAST(100.0 AS DOUBLE) AS ps_supplycost
  FROM (
    SELECT p_partkey AS ps_partkey, sk.s_suppkey AS ps_suppkey
    FROM part
    CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS s FROM supplier) sc
    CROSS JOIN (SELECT i FROM (VALUES (0), (1), (2), (3)) AS w(i)) v
    JOIN (
      SELECT s_suppkey,
        ROW_NUMBER() OVER (ORDER BY s_suppkey) - 1 AS __slot
      FROM supplier
    ) sk
    ON sk.__slot = MOD(p_partkey + v.i * CAST(FLOOR(sc.s / 4) AS BIGINT), sc.s)
  ) base
""".strip("\n")

#: implicit columns, in reference order (server.go:1504-1511)
IMPLICIT_COLUMNS = (
    "_topic",
    "_partition",
    "_offset",
    "_ts",
    "_key",
    "_value",
    "_headers",
    "_segment",
)

#: DESCRIBE type of each implicit column, in IMPLICIT_COLUMNS order
_IMPLICIT_TYPES = (
    "text", "integer", "bigint", "timestamp", "bytea", "bytea", "jsonb", "text",
)


def _describe_rows(configs: dict, name: str) -> list[tuple[str, str, str]]:
    """DESCRIBE rows (column, type, source) of topic `name`: the implicit
    columns, then its configured schema columns (server.go:813-861). Every
    catalog flavour answers DESCRIBE through this one builder."""
    rows = [(c, t, "implicit") for c, t in zip(IMPLICIT_COLUMNS, _IMPLICIT_TYPES)]
    cfg = configs.get(name)
    if cfg:
        rows += [(c.name, c.type, c.path) for c in cfg.columns]
    return rows


#: per-topic rank key for the scalable offset assignment: (numeric chunk
#: key, full ORDER BY of the envelope's ROW_NUMBER). Topics not listed
#: order by their numeric `_key` (the passthrough envelopes' pk).
_OFFSET_ORDER: dict[str, tuple[str, tuple[str, ...]]] = {
    "events": ("event_id", ("event_id",)),
    "orders": ("o_orderkey", ("o_orderkey",)),
    # the dup-row tiebreak column (dup.off) is not in the output; its
    # +300 s shift makes (_ts) an equivalent second key
    "payments": ("o_orderkey", ("o_orderkey", "_ts")),
}


def assign_partition_offsets(
    df, chunk_key, order_cols, n_chunks: int, sizing_df=None
):
    """Bit-identical replacement for
    ``ROW_NUMBER() OVER (PARTITION BY _partition ORDER BY ...) - 1`` that
    never sorts a whole topic partition in one task: rows chunk into
    deterministic key-interval buckets on the leading (numeric, per-
    partition-unique) order key, per-(chunk, partition) counts roll up to
    cumulative bases on the driver (n_chunks x partitions tiny rows), and
    each task then ranks only its own chunk slice — sorts are rows/K, not
    rows/partitions. Interval chunking (not repartitionByRange) keeps the
    bucket of every row REPRODUCIBLE across the count job and the rank
    job; a sampled range partitioner could draw different boundaries per
    execution and mis-base the ranks."""
    from pyspark.sql import Window

    spark = df.sparkSession
    # sizing jobs (key bounds + per-group counts) run over ``sizing_df``
    # when given (r15): the caller may stage ``df`` behind an extra
    # exchange for the RANK job's parallelism (see _rr_source_rel), and
    # the sizing jobs — which column-prune down to the key columns and
    # never benefit from that staging — must not pay the exchange 2x
    # more. Both frames hold the same rows, so bounds and counts are
    # identical either way; the rank below composes them with the same
    # driver-computed constants.
    s = sizing_df if sizing_df is not None else df
    key = F.expr(chunk_key).cast("long")
    mn, mx, n, n_key = s.agg(
        F.min(key), F.max(key), F.count(F.lit(1)), F.count(key)
    ).first()
    if n == 0:
        return df.withColumn("_offset", F.lit(None).cast("bigint"))
    if n_key != n:
        # a NULL chunk key (e.g. a non-numeric _key under the default
        # CAST(_key AS BIGINT)) would get a NULL __chunk and the inner
        # join below would silently DROP those rows from the topic
        raise ValueError(
            f"assign_partition_offsets: chunk key {chunk_key!r} is NULL for "
            f"{n - n_key} of {n} rows; pick a numeric, never-NULL order key "
            "for this topic (see _OFFSET_ORDER)"
        )
    span = max(1, (int(mx) - int(mn) + 1) // max(1, n_chunks))

    def with_chunk(frame):
        # key values are ints well under 2**53, so the double division
        # is exact — and the expression is identical on both frames
        return frame.withColumn(
            "__chunk",
            F.floor((F.expr(chunk_key).cast("long") - F.lit(int(mn))) / F.lit(span)).cast("int"),
        )

    chunked = with_chunk(df)
    counts = with_chunk(s).groupBy("__chunk", "_partition").count().collect()
    bases, cum = [], {}
    for r in sorted(counts, key=lambda r: (r["_partition"], r["__chunk"])):
        bases.append((r["__chunk"], r["_partition"], cum.get(r["_partition"], 0)))
        cum[r["_partition"]] = cum.get(r["_partition"], 0) + r["count"]
    # inline VALUES → LocalRelation: `createDataFrame(list)` parallelizes
    # the driver rows into defaultParallelism Python-runner tasks (~0.3 s
    # of worker round trips for a dozen rows, measured r15); the VALUES
    # form resolves driver-side and broadcasts with zero tasks. Bounded:
    # n_chunks <= 256 keeps this under ~1k rows of SQL text.
    for c, p, b in bases:
        # a NULL _partition (or chunk) would render as the token 'None'
        # and die in an opaque SQL parse error; fail with the real cause
        # (ADVICE r15 — unreachable for current envelopes, whose
        # _partition derives from a non-NULL pk, but this is a general
        # helper). Exact type, not isinstance: bool is an int subclass,
        # and a boolean _partition would render as the literal `True`.
        if type(c) is not int or type(p) is not int or type(b) is not int:
            raise ValueError(
                f"assign_partition_offsets: non-int chunk/partition/base "
                f"({c!r}, {p!r}, {b!r}) — NULL _partition in the input?"
            )
    values = ",".join(f"({c},{p},{b})" for c, p, b in bases)
    base_df = F.broadcast(
        spark.sql(
            "SELECT CAST(col1 AS INT) AS __chunk, CAST(col2 AS INT) AS _partition, "
            f"CAST(col3 AS BIGINT) AS __base FROM (VALUES {values})"
        )
    )
    w = Window.partitionBy("__chunk", "_partition").orderBy(
        *[F.expr(c) for c in order_cols]
    )
    # the rank's exchange is an EXPLICIT repartition-by-num instead of
    # the implicit window shuffle (r15): AQE coalesces implicit shuffle
    # reads by BYTES, and rendered-envelope bytes per group sit well
    # under the advisory size at small inputs — coalescing the groups
    # back onto a few tasks re-creates exactly the one-big-sort-task
    # shape this path exists to avoid. REPARTITION_BY_NUM is exempt from
    # AQE coalescing; the window's ClusteredDistribution is satisfied by
    # this partitioning, so no second exchange appears. r16: one slot
    # per (chunk, partition) group (was 4x over-provisioned) — hash
    # collisions merge a few groups into one task, which the window
    # handles, while the downstream write emits at most one file per
    # non-empty slot per partition value, bounding the per-partition
    # file count the topic scans pay for (guide §6 small-files rule).
    n_slots = max(1, min(len(bases), 4096))
    return (
        chunked.join(base_df, ["__chunk", "_partition"])
        .repartition(n_slots, "__chunk", "_partition")
        .withColumn(
            "_offset",
            (F.row_number().over(w) - 1 + F.col("__base")).cast("bigint"),
        )
        .drop("__chunk", "__base")
    )


def materialize_envelope(
    name: str,
    df,
    rows_per_chunk: int = 2_000_000,
    approx_rows: int | None = None,
    sizing_df=None,
):
    """Envelope DataFrame with `_offset`/`_segment` recomputed through the
    chunked rank when a topic is big enough that the window's one-sort-
    task-per-partition would spill (scaled so sorts stay at most
    ~rows_per_chunk rows per task). Small topics return the original
    window plan UNCHANGED — the chunked path's extra jobs (min/max,
    counts) only pay for themselves at scale. ``approx_rows`` (e.g. from
    parquet footers) avoids even the sizing count; chunk-count selection
    only needs the order of magnitude."""
    n_rows = approx_rows
    if n_rows is None:
        n_rows = df.drop("_offset", "_segment").count()  # column-pruned scan
    # chunk count = max(spill bound, data floor): the spill bound
    # (rows/chunk <= rows_per_chunk) is what matters at scale; the floor
    # matters when a topic is big enough to be the ingest critical path
    # yet small enough that rows/rows_per_chunk rounds to 1 chunk — the
    # rank+encode+write stage then runs one task per `_partition` VALUE
    # (4 in the fixtures) regardless of cluster width. r16 (r15 verdict
    # #1): the floor is sized by DATA only — one chunk per ~150k rows,
    # i.e. rank/write tasks of ~40k rows per (chunk, partition) group —
    # never by defaultParallelism. The r15 `dp//4` term over-parallelized
    # the canonical local[32] run (8 chunks x 4 partitions x 4-slot
    # over-provision = a 128-task write emitting ~8 small files per
    # partition, taxing every downstream topic scan); the data floor
    # yields 4 chunks for the same topic and is width-independent, so an
    # 8-core and a 32-core run execute the identical plan.
    floor = n_rows // 150_000
    n_chunks = max(1, min(256, max(n_rows // rows_per_chunk + 1, floor)))
    if n_chunks <= 1:
        return df
    # passthrough default mirrors the envelope window's total order
    # (pk, rendered payload) — see passthrough_envelope_sql: the `_value`
    # tiebreak keeps tied synthetic pks deterministic at any split count
    chunk_key, order_cols = _OFFSET_ORDER.get(
        name, ("CAST(_key AS BIGINT)", ("CAST(_key AS BIGINT)", "_value"))
    )
    base = df.drop("_offset", "_segment")
    ranked = assign_partition_offsets(
        base,
        chunk_key,
        order_cols,
        n_chunks,
        sizing_df=(
            sizing_df.drop("_offset", "_segment")
            if sizing_df is not None
            else None
        ),
    )
    if name == "events":  # one synthetic segment per 1000 offsets
        seg = F.concat(
            F.lit("s3://topics/events/"),
            F.col("_partition").cast("string"),
            F.lit("/segment-"),
            (F.floor(F.col("_offset") / 1000) * 1000).cast("long").cast("string"),
            F.lit(".kfs"),
        )
    else:
        seg = F.concat(
            F.lit(f"s3://topics/{name}/"),
            F.col("_partition").cast("string"),
            F.lit("/segment-0.kfs"),
        )
    return ranked.withColumn("_segment", seg)


#: schema-on-read types (config.go:346-353)
SCHEMA_TYPES = {
    "string": "string",
    "int": "int",
    "long": "bigint",
    "double": "double",
    "boolean": "boolean",
    "timestamp": "timestamp",
}

#: dot-path subset of JSONPath: `$.a.b` — no array indexing, no wildcards
#: (server.go:2766-2792 jsonPathValue)
_DOT_PATH = re.compile(r"^\$(\.[A-Za-z0-9_]+)+$")


@dataclass(frozen=True)
class SchemaColumn:
    name: str
    type: str
    path: str

    def __post_init__(self) -> None:
        if self.type not in SCHEMA_TYPES:
            raise ValueError(f"unsupported schema type {self.type!r}")
        if not _DOT_PATH.match(self.path):
            raise ValueError(
                f"unsupported JSON path {self.path!r}: only dot paths ($.a.b)"
            )

    def spark_expr(self) -> F.Column:
        """Extraction per schemaValue (server.go:2721-2756): JSON dot-path
        lookup then typed cast; missing path or uncastable value → NULL
        (requires non-ANSI cast semantics, set in session.py)."""
        raw = F.get_json_object(F.col("_value").cast("string"), self.path)
        return raw.cast(SCHEMA_TYPES[self.type]).alias(self.name)


@dataclass(frozen=True)
class TopicConfig:
    name: str
    columns: tuple[SchemaColumn, ...] = field(default_factory=tuple)


def _sc(name: str, typ: str, path: str) -> SchemaColumn:
    return SchemaColumn(name=name, type=typ, path=path)


#: FIXTURES.md §2 topic configs (mirrors the reference YAML shape)
DEFAULT_TOPIC_CONFIGS: dict[str, TopicConfig] = {
    "events": TopicConfig(
        "events",
        (
            _sc("event_type", "string", "$.event_type"),
            _sc("user_id", "string", "$.user_id"),
            _sc("amount", "double", "$.amount"),
            _sc("depth", "int", "$.props.depth"),
            _sc("page", "string", "$.props.page"),
            _sc("flag", "boolean", "$.flag"),
        ),
    ),
    "orders": TopicConfig(
        "orders",
        (
            _sc("order_id", "string", "$.order_id"),
            _sc("cust_id", "string", "$.cust_id"),
            _sc("status", "string", "$.status"),
            _sc("amount", "double", "$.amount"),
            _sc("priority", "string", "$.priority"),
            _sc("clerk", "string", "$.nested.clerk"),
            _sc("missing_col", "long", "$.does_not_exist"),
        ),
    ),
    "payments": TopicConfig(
        "payments",
        (
            _sc("order_id", "string", "$.order_id"),
            _sc("amount", "double", "$.amount"),
            _sc("method", "string", "$.method"),
        ),
    ),
}

#: passthrough topics (FIXTURES.md §2.4): schema-on-read column per table
#: column, typed int→long / double / string / date→timestamp
_KIND_TO_SCHEMA = {"int": "long", "double": "double", "string": "string", "date": "timestamp"}
for _t, (_pk, _cols) in env.PASSTHROUGH_TABLES.items():
    DEFAULT_TOPIC_CONFIGS[_t] = TopicConfig(
        _t,
        tuple(
            _sc(_name, _KIND_TO_SCHEMA[_kind], f"$.{_name}") for _name, _kind in _cols
        ),
    )


#: the `_partition=N` directory of a materialized topic's data file
_PARTITION_DIR = re.compile(r"/_partition=(\d+)/")


def _drop_frame_views(spark: SparkSession, frames: dict) -> None:
    try:
        for _frame, view in list(frames.values()):
            spark.catalog.dropTempView(view)
    except Exception:  # noqa: BLE001 - a stopped session holds no views
        pass


class TopicCatalog:
    """Resolves topic names to DataFrames with the implicit + schema columns.

    Replaces the reference's etcd topic-metadata resolver
    (sql-processor internal/metadata/metadata.go:134-180). Raw driver tables
    are registered as temp views so analytics extensions can use them
    directly; topic views are built from the envelope SQL.
    """

    #: stale topic-cache versions younger than this survive pruning — a
    #: concurrent process may still be reading them (see materialize())
    PRUNE_GRACE_SECONDS = 600.0

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        configs: dict[str, TopicConfig] | None = None,
        materialized_root: str | None = None,
        cache_root: str | None = None,
    ) -> None:
        # the engine owns its session semantics: the driver may hand us a
        # bare session (no get_spark), so apply the runtime-settable
        # correctness confs (nanos-as-long, ANSI off, UTC, micros) here
        self.spark = apply_runtime_confs(spark)
        self.sf_dir = sf_dir
        self.configs = dict(configs or DEFAULT_TOPIC_CONFIGS)
        self._materialized: dict[str, str] = {}
        #: finished topic frames over materialized version dirs and the
        #: session temp view naming each, keyed on (name, path,
        #: with_schema_columns, TopicConfig) — see topic()
        self._frames: dict[tuple, tuple[DataFrame, str]] = {}
        self._frames_lock = threading.Lock()
        # a catalog that is let go without clear_frames() must not leave
        # its views (and the plans they pin) in a long-lived session
        release = weakref.finalize(self, _drop_frame_views, self.spark, self._frames)
        release.atexit = False
        #: lazy materialization root: on first access each topic is written
        #: as `_partition`-partitioned parquet (version-keyed by envelope
        #: SQL), so every later query scans real files with partition
        #: pruning + `_ts`/`_offset` footer stats instead of re-running the
        #: envelope's global row_number window per query
        self.cache_root = cache_root
        self._register_raw_views()
        if materialized_root:
            self.materialize_all(materialized_root)

    # -- raw driver tables ------------------------------------------------
    def _register_raw_views(self) -> None:
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                df = self.spark.read.parquet(path)
                if t == "events" and dict(df.dtypes).get("ts") == "bigint":
                    # legacy fixture generation: TIMESTAMP(NANOS) parquet read
                    # as long nanos (nanosAsLong conf) — normalize to the
                    # micros timestamp the current fixtures carry natively,
                    # truncating ns→us exactly like DuckDB's TIMESTAMP read
                    # does, so the envelope (and its oracle twin) see ONE
                    # shape regardless of fixture vintage
                    df = df.withColumn(
                        "ts", F.expr("TIMESTAMP_MICROS(CAST(ts DIV 1000 AS BIGINT))")
                    )
                df.createOrReplaceTempView(t)
        # derived partsupp view: the fixtures ship no partsupp table, so a
        # user's q2/q9/q11/q16/q20-style queries get the same deterministic
        # derivation the correctness gates verify against DuckDB
        if os.path.exists(os.path.join(self.sf_dir, "part.parquet")) and os.path.exists(
            os.path.join(self.sf_dir, "supplier.parquet")
        ):
            self.spark.sql(
                f"CREATE OR REPLACE TEMP VIEW partsupp AS {PARTSUPP_DERIVATION_SQL}"
            )

    def table(self, name: str) -> DataFrame:
        """A raw driver table (no envelope)."""
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}")
        return self.spark.table(name)

    def raw_source_path(self, topic: str) -> str | None:
        """The raw parquet file a topic envelope derives from (payments is
        derived from orders) — for metadata-only scan estimates."""
        src = topic if topic in TABLES else "orders"
        p = os.path.join(self.sf_dir, f"{src}.parquet")
        return p if os.path.exists(p) else None

    # -- topic views ------------------------------------------------------
    def topic_names(self) -> list[str]:
        return sorted(self.configs)

    def topic(
        self, name: str, with_schema_columns: bool = True, materialize: bool = True
    ) -> DataFrame:
        """Topic DataFrame: 8 implicit columns (+ declared schema columns).

        A materialized topic's frame is memoized: its `v=<hash>` version
        dir is immutable, and `spark.read.parquet` runs a schema-inference
        job on every call (~90 ms on a 4-vCPU host, most of a KAFSQL
        compile). Each memoized frame is also registered as a session
        temp view with a unique name (frame_view), so compiled SQL can
        name it. The memo and its views are dropped per topic by
        materialize() and wholesale by clear_frames() — the engine calls
        it on a dotted SET/RESET, since confs such as the session time
        zone and ANSI mode are captured when the frame is analyzed.
        Envelope views are rebuilt per call. ``materialize=False`` never
        writes a topic that is not materialized yet (EXPLAIN): such a
        topic is served from its envelope view."""
        if name not in env.ENVELOPE_BUILDERS:
            raise KeyError(f"unknown topic {name!r}")
        if name not in self._materialized and self.cache_root and materialize:
            self.materialize(name, self.cache_root)
        path = self._materialized.get(name)
        if path is None:
            df = self.spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK))
            return self._shape(name, df, with_schema_columns)
        # refresh the version dir's mtime on every call, memo hit or not:
        # the prune grace period keys on LAST USE, and parquet reads never
        # update mtime — without this touch a long-lived engine's pinned
        # version would age out while still being queried
        try:
            os.utime(path)
        except OSError:
            pass
        key = (name, path, with_schema_columns, self.configs.get(name))
        with self._frames_lock:
            entry = self._frames.get(key)
        if entry is None:
            # built outside the lock: concurrent misses may both read, and
            # the first frame stored wins
            df = self._shape(name, self.spark.read.parquet(path), with_schema_columns)
            with self._frames_lock:
                entry = self._frames.get(key)
                if entry is None:
                    view = f"__kafsql_topic_{name}_{uuid.uuid4().hex[:12]}"
                    df.createOrReplaceTempView(view)
                    entry = self._frames[key] = (df, view)
        return entry[0]

    def frame_view(self, df: DataFrame) -> str | None:
        """The session view naming `df` if it is a memoized topic frame."""
        with self._frames_lock:
            for frame, view in self._frames.values():
                if frame is df:
                    return view
        return None

    def listed_partitions(self, df: DataFrame) -> list[int] | None:
        """The sorted `_partition` values of `df` if it is a memoized
        materialized topic frame, read from the `_partition=N` directories
        of the file index the frame already holds (no Spark job); None
        for any other frame. The partitioned write makes a directory only
        for a partition that has rows, so this is the DISTINCT list."""
        if self.frame_view(df) is None:
            return None
        parts = set()
        for path in df.inputFiles():
            m = _PARTITION_DIR.search(path)
            if m is None:
                return None
            parts.add(int(m.group(1)))
        return sorted(parts)

    def clear_frames(self, name: str | None = None) -> None:
        """Forget memoized topic frames, one topic's or all of them, and
        drop their views. The views are dropped under the memo lock, so a
        frame that frame_view() no longer names has no view left."""
        with self._frames_lock:
            for key in [k for k in self._frames if name is None or k[0] == name]:
                _frame, view = self._frames.pop(key)
                self.spark.catalog.dropTempView(view)

    def _shape(self, name: str, df: DataFrame, with_schema_columns: bool) -> DataFrame:
        df = df.select(*IMPLICIT_COLUMNS)
        # normalize `_ts` to TimestampType (session tz = UTC, so NTZ inputs
        # convert identically) — one timestamp semantics across all topics
        df = df.withColumn("_ts", F.col("_ts").cast("timestamp"))
        if with_schema_columns:
            cfg = self.configs.get(name)
            if cfg:
                df = df.select("*", *[c.spark_expr() for c in cfg.columns])
        return df

    def describe(self, name: str) -> list[tuple[str, str, str]]:
        """DESCRIBE rows: (column, type, source) — server.go:813-861."""
        return _describe_rows(self.configs, name)

    # -- materialization: the real at-rest layout -------------------------
    def materialize_all(self, root: str) -> None:
        """Materialize every topic. Jobs are submitted from a small thread
        pool: each envelope write is bottlenecked by its 4-way partition
        window, so overlapping topics keeps the executor cores busy (Spark's
        scheduler interleaves concurrent jobs safely)."""
        from concurrent.futures import ThreadPoolExecutor

        # one worker per topic (9 today, bounded at 8): each envelope job
        # uses only ~4 shuffle tasks (one per topic partition), so wide
        # overlap is what fills a 32-core executor; Spark's scheduler
        # interleaves concurrent jobs safely
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(
                pool.map(
                    lambda name: self.materialize(name, root),
                    env.ENVELOPE_BUILDERS,
                )
            )

    def _approx_source_rows(self, name: str) -> int:
        """Row count of a topic's source table straight from the parquet
        footers (no Spark job) — sizes the chunked rank. `payments`
        derives from `orders`; exactness is irrelevant, only the order of
        magnitude picks the chunk count."""
        import pyarrow.parquet as pq

        table = "orders" if name == "payments" else name
        path = os.path.join(self.sf_dir, f"{table}.parquet")
        try:
            if os.path.isdir(path):
                return sum(
                    pq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
                    for dp, _dirs, files in os.walk(path)
                    for f in files
                    if f.endswith(".parquet") and not f.startswith(".")
                )
            return pq.ParquetFile(path).metadata.num_rows
        except OSError:
            return 0  # unknown -> single chunk (the safe small-scale plan)

    def _rr_source_rel(
        self, name: str, min_rows_per_task: int = 20_000
    ) -> str | None:
        """Round-robin-repartitioned staging view of a topic's raw source,
        or None when the scan parallelizes on its own (guide §2.5's
        input-skew rule: one small/unsplittable file → repartition right
        after the read). The envelope's `_value` JSON render is CPU-dense
        per row and Catalyst evaluates it below the rank's exchange, i.e.
        at SCAN parallelism — a small source file scans as 1-3 splits no
        matter how many cores the cluster has, single-threading the
        render. Repartitioning the RAW columns first costs one exchange
        of the small source's bytes (cheap exactly when the gate fires)
        and lifts the render to full width; the rank result is unchanged
        (deterministic total order per group). At any real scale the
        split-count estimate exceeds the row-derived target and this
        returns None — no extra shuffle of a 100 TB corpus, ever."""
        path = self.raw_source_path(name)
        if path is None:
            return None
        n_rows = self._approx_source_rows(name)
        dp = self.spark.sparkContext.defaultParallelism
        # >=min_rows_per_task rows per render task (default 20k): below
        # that, task overhead dominates the render itself
        n_rr = min(dp, n_rows // max(1, min_rows_per_task))
        if n_rr < 2:
            return None
        try:
            if os.path.isdir(path):
                n_bytes = sum(
                    os.path.getsize(os.path.join(d, f))
                    for d, _dirs, files in os.walk(path)
                    for f in files
                    if f.endswith(".parquet")
                )
            else:
                n_bytes = os.path.getsize(path)
        except OSError:
            return None

        def _conf_bytes(key: str, default: int) -> int:
            try:
                return byte_string_as_bytes(self.spark.conf.get(key))
            except Exception:
                return default

        max_pb = _conf_bytes("spark.sql.files.maxPartitionBytes", 128 << 20)
        open_cost = _conf_bytes("spark.sql.files.openCostInBytes", 4 << 20)
        # Spark's own split sizing: files pack into splits of this size
        split = min(max_pb, max(open_cost, n_bytes // max(1, dp)))
        est_scan_tasks = -(-n_bytes // max(1, split))
        if n_rr <= est_scan_tasks:
            return None
        src = "orders" if name == "payments" else name
        view = f"__mat_src_{name}"
        self.spark.table(src).repartition(n_rr).createOrReplaceTempView(view)
        return view

    def materialize(self, name: str, root: str) -> str:
        """Write the topic as Parquet partitioned by `_partition` — the
        engine's real storage layout (segment files → parquet files within a
        partition dir, SURVEY.md §1.3). Bench reads this layout so partition
        pruning and `_offset`/`_ts` min-max stats are exercised for real.

        The output path is version-keyed by the envelope SQL AND a
        fingerprint (size+mtime) of the raw source parquet, so neither an
        envelope change nor a regenerated fixture can ever serve stale
        cached parquet across processes."""
        import hashlib

        h = hashlib.sha256(env.ENVELOPE_BUILDERS[name](env.SPARK).encode())
        for t in TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                st = os.stat(p)
                h.update(f"{t}:{st.st_size}:{int(st.st_mtime)};".encode())
        ver = h.hexdigest()[:10]
        topic_dir = os.path.join(root, f"topic={name}")
        out = os.path.join(topic_dir, f"v={ver}")
        # prune stale versions (older envelope SQL / regenerated fixtures) —
        # dead weight that would otherwise accumulate forever. Pruning is
        # opportunistic with a grace period: another process may still hold
        # an engine pinned to (or be mid-query on) an older version, so only
        # versions untouched for PRUNE_GRACE_SECONDS are removed; recently
        # active ones get collected on a later materialize() call.
        if os.path.isdir(topic_dir):
            import shutil
            import time

            now = time.time()
            for d in os.listdir(topic_dir):
                if not d.startswith("v=") or d == f"v={ver}":
                    continue
                stale = os.path.join(topic_dir, d)
                try:
                    age = now - os.stat(stale).st_mtime
                except OSError:
                    continue
                if age >= self.PRUNE_GRACE_SECONDS:
                    shutil.rmtree(stale, ignore_errors=True)
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            # build from the repartitioned staging view when the raw
            # source is too small to scan in parallel (the version hash
            # above stays keyed on the CANONICAL envelope SQL — the
            # staging relation changes the plan, never the output)
            rr_rel = self._rr_source_rel(name)
            canonical = self.spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK))
            df = (
                self.spark.sql(env.ENVELOPE_BUILDERS[name](env.SPARK, rr_rel))
                if rr_rel
                else canonical
            )
            # recompute `_offset`/`_segment` through the chunked two-phase
            # rank instead of the envelope's ROW_NUMBER window: the window
            # is one sort task per `_partition` VALUE (4 in the fixtures),
            # which externally spills once a partition outgrows one task's
            # memory — the r8 sf10 rehearsal measured 17.9x wall at 10x
            # rows on exactly this leg (394.6 s -> 114.9 s chunked).
            # Output is bit-identical (tests/test_topics.py equality sweep
            # + every topic gate hash); small topics keep the window plan.
            df = materialize_envelope(
                name,
                df,
                approx_rows=self._approx_source_rows(name),
                sizing_df=canonical if rr_rel else None,
            )
            (
                df.select(*IMPLICIT_COLUMNS)
                .sortWithinPartitions("_partition", "_offset")
                .write.mode("overwrite")
                .partitionBy("_partition")
                .parquet(out)
            )
        else:
            try:
                os.utime(out)  # mark last use for cross-process prune grace
            except OSError:
                pass
        self._materialized[name] = out
        self.clear_frames(name)
        return out
