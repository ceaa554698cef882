"""KafSqlEngine: the KAFSQL front door.

parse → validate → govern (admission, scan budget, cache) → compile →
DataFrame. The introspection statements (SHOW TOPICS / DESCRIBE /
EXPLAIN — server.go:758-962) and the SET/RESET status row return JVM
LocalRelations, whose collect runs no Spark job, and so does SHOW
PARTITIONS on a materialized topic; SHOW PARTITIONS on any other topic
and SHOW SNAPSHOTS are real queries.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timedelta

from pyspark.sql import DataFrame

from platform_spark.errors import GovernanceError, ValidationError
from platform_spark.governance import (
    QueryLimiter,
    ResultCache,
    ScanBudget,
    estimate_scan,
)
from platform_spark.sql import parser
from platform_spark.sql.ast import Query, QueryType
from platform_spark.sql.compiler import (
    Compiler,
    CompilerOptions,
    scan_capabilities,
)
from platform_spark.sql.statement import SqlStatement, local_rows
from platform_spark.topics import TopicCatalog


@dataclass
class EngineOptions:
    compiler: CompilerOptions = field(default_factory=CompilerOptions)
    budget: ScanBudget = field(default_factory=ScanBudget)
    max_concurrent: int = 20
    queue_size: int = 50
    queue_timeout: float = 10.0
    cache_ttl: float = 30.0
    cache_entries: int = 100
    cache_max_rows: int = 10_000
    enable_cache: bool = True
    #: query timeout (config.go timeout_seconds, default 30); None = off
    timeout_seconds: float | None = 30.0


class KafSqlEngine:
    def __init__(
        self,
        catalog: TopicCatalog,
        options: EngineOptions | None = None,
        now: datetime | None = None,
    ) -> None:
        self.catalog = catalog
        self.spark = catalog.spark
        self.opt = options or EngineOptions()
        self.compiler = Compiler(catalog, self.opt.compiler, now=now)
        self.limiter = QueryLimiter(
            self.opt.max_concurrent, self.opt.queue_size, self.opt.queue_timeout
        )
        self.cache = ResultCache(
            self.opt.cache_ttl, self.opt.cache_entries, self.opt.cache_max_rows
        )
        self._now = now

    # ------------------------------------------------------------------
    def collect_with_timeout(
        self,
        df: DataFrame,
        timeout: float | None = None,
        action=None,
    ):
        """Run an action under the engine's query timeout (the analogue of
        the reference's per-query context deadline, server.go:472-478):
        the job group is cancelled when the deadline passes. ``action``
        (default: ``df.collect()``) is called with ``df``; the result
        cache passes a JVM-side collect so rows never cross into Python.

        The canceller is a REAPER LOOP, not a one-shot timer:
        ``cancelJobGroup`` only cancels jobs that are ACTIVE when it is
        called, and a complex plan can spend more than the whole timeout
        in analysis/codegen BEFORE its first job submits — a one-shot
        cancel fired during planning is a silent no-op and the query
        then runs to completion unbounded (found r13 when a slower host
        stretched planning past a 1 s test deadline). After the deadline
        the reaper re-cancels every 250 ms until the action returns, so
        a job submitted at ANY point after the deadline is caught."""
        import threading
        import uuid

        action = action or (lambda d: d.collect())
        timeout = timeout if timeout is not None else self.opt.timeout_seconds
        if timeout is None:
            return action(df)
        sc = self.spark.sparkContext
        group = f"kafsql-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "kafsql query", interruptOnCancel=True)
        fired = threading.Event()
        done = threading.Event()

        def _reaper() -> None:
            if done.wait(timeout):
                return  # action finished inside the deadline
            fired.set()
            while not done.is_set():
                sc.cancelJobGroup(group)
                done.wait(0.25)

        reaper = threading.Thread(
            target=_reaper, name=f"{group}-reaper", daemon=True
        )
        reaper.start()
        try:
            return action(df)
        except Exception as e:  # noqa: BLE001
            # only report a timeout if OUR reaper actually cancelled the
            # job; genuine failures (analysis errors, OOM, source errors)
            # re-raise unmasked so callers/logs see the real cause
            if fired.is_set():
                raise GovernanceError(
                    f"query cancelled (timeout {timeout}s)"
                ) from e
            raise
        finally:
            done.set()
            sc.setJobGroup("", "")

    #: session-var surface (C6, server SET/RESET): engine knobs by name
    _SETTABLE = {
        "default_limit": ("compiler", "default_limit", int),
        "max_rows": ("compiler", "max_rows", int),
        "timeout_seconds": (None, "timeout_seconds", float),
        "enable_cache": (None, "enable_cache", lambda v: v.lower() in ("true", "on", "1")),
    }

    def _set_reset(self, statement: str) -> DataFrame | None:
        """`SET name = value` / `RESET name`: engine knobs by bare name,
        anything dotted goes to `spark.conf` (the Spark-world session-var
        space). Returns a 1-row status DataFrame, or None if the statement
        is not SET/RESET."""
        import re

        m = re.match(r"(?is)^\s*SET\s+([A-Za-z_][\w.]*)\s*=\s*'?([^';]*?)'?\s*;?\s*$", statement)
        r = re.match(r"(?is)^\s*RESET\s+([A-Za-z_][\w.]*)\s*;?\s*$", statement)
        if not m and not r:
            return None
        name = (m or r).group(1)
        if name in self._SETTABLE:
            scope, attr, conv = self._SETTABLE[name]
            target = self.opt.compiler if scope == "compiler" else self.opt
            if m:
                setattr(target, attr, conv(m.group(2)))
            else:
                setattr(target, attr, getattr(type(target)(), attr))
            value = str(getattr(target, attr))
        elif "." in name:
            if m:
                self.spark.conf.set(name, m.group(2))
                value = m.group(2)
            else:
                self.spark.conf.unset(name)
                value = "<unset>"
            # memoized topic frames were analyzed under the old confs
            # (session time zone, ANSI casts)
            clear_frames = getattr(self.catalog, "clear_frames", None)
            if clear_frames is not None:
                clear_frames()
        else:
            raise GovernanceError(f"unknown setting {name!r}")
        # settings affect compiled results — cached rows are now stale
        self.cache.clear()
        return local_rows(self.spark, ("name", "value"), [(name, value)])

    def sql(self, statement: str) -> DataFrame:
        """Execute a KAFSQL statement, returning a DataFrame."""
        handled = self._set_reset(statement)
        if handled is not None:
            return handled
        q = parser.parse(statement)
        if q.type == QueryType.SHOW_TOPICS:
            return self._show_topics()
        if q.type == QueryType.SHOW_PARTITIONS:
            return self._show_partitions(q.topic)
        if q.type == QueryType.SHOW_SNAPSHOTS:
            return self._show_snapshots(q.topic)
        if q.type == QueryType.DESCRIBE:
            return self._describe(q.topic)
        if q.type == QueryType.EXPLAIN:
            return self._explain(q.explain)
        return self._select(statement, q)

    def _select(self, statement: str, q: Query) -> DataFrame:
        with self.limiter:
            self._check_budget(q)
            cacheable = (
                self.opt.enable_cache
                and q.tail is None
                and not q.scan_full
                and q.has_time_bound()
                # size-gate up front: statements that could never be cached
                # must not churn the warm tracker or skew hit/miss stats
                and self.compiler.effective_limit(q) <= self.opt.cache_max_rows
            )
            state = "cold"
            if cacheable:
                state, hit = self.cache.lookup(statement, self._now)
                if state == "rows":
                    # the cached frame is a JVM LocalRelation: collecting
                    # it runs no Spark job (result_cache.go:26-110)
                    return hit
            df = self.compiler.compile(q)
            if cacheable and state == "warm":
                # collect-on-repeat: the statement recurred within a TTL
                # window, so materialize ROWS now (the reference caches rows,
                # not plans — result_cache.go); one-shot queries stay lazy
                # and never pay a driver round-trip. The rows stay in the
                # JVM: collectAsList + createDataFrame(List<Row>, schema)
                # builds a LocalRelation without a Python round trip or
                # the parallelize job a Python createDataFrame runs
                jrows = self.collect_with_timeout(
                    df, action=lambda d: d._jdf.collectAsList()
                )
                local = DataFrame(
                    self.spark._jsparkSession.createDataFrame(
                        jrows, df._jdf.schema()
                    ),
                    self.spark,
                )
                self.cache.put(
                    self.cache.key(statement, self._now),
                    local,
                    n_rows=jrows.size(),
                )
                return local
            return df

    # -- governance -----------------------------------------------------
    def _scan_frames(
        self, q: Query
    ) -> list[tuple[str, int | None, object, object, int | None, int | None]]:
        """One (topic, partition, ts_min, ts_max, offset_min, offset_max)
        frame per scanned topic, mirroring what the compiled plan
        actually reads: the left topic gets the query's partition filter,
        window, and offset bounds; a WITHIN join's right topic is scanned
        with NO partition/offset filter and the window widened by ±within
        (Compiler._compile_join pushes exactly that derived bound) —
        pricing the right side with the left frame would systematically
        under-estimate and admit scans the budget should reject."""
        ts_min, ts_max = self.compiler.time_bounds(q)
        frames = [
            (
                q.topic, q.partition, ts_min, ts_max,
                q.offset_min, q.offset_max,
                (
                    q.key_eq if q.key_eq is not None else q.key_in,
                    q.as_of, q.version_of, q.version_ref,
                ),
            )
        ]
        if q.join_topic:
            w = timedelta(seconds=q.within_seconds or 0)
            frames.append(
                (
                    q.join_topic,
                    None,
                    ts_min - w if ts_min is not None else None,
                    ts_max + w if ts_max is not None else None,
                    None,
                    None,
                    (None, q.join_as_of, q.join_version_of, q.join_version_ref),
                )
            )
        return frames

    def _est_kwargs(self, est_fn, ext: tuple) -> dict:
        """Extension kwargs (bucket point-lookup, time travel by
        instant or snapshot id) for an estimate hook, included only
        when the catalog's declared capabilities (or, failing that, the
        hook's wrapper-following signature) include them — the same
        capability resolution the compiler applies."""
        key_eq, as_of, version_of, version_ref = ext
        supported = scan_capabilities(self.catalog, est_fn)
        extra = {}
        if key_eq is not None and "key_eq" in supported:
            extra["key_eq"] = key_eq
        if as_of is not None and "as_of" in supported:
            extra["as_of"] = as_of
        if version_of is not None and "snapshot_id" in supported:
            extra["snapshot_id"] = version_of
        if version_ref is not None and "ref" in supported:
            extra["ref"] = version_ref
        return extra

    def _check_budget(self, q: Query) -> None:
        for (
            topic, partition, ts_min, ts_max, off_min, off_max, ext,
        ) in self._scan_frames(q):
            est_fn = getattr(self.catalog, "estimate_topic_scan", None)
            if est_fn is not None:
                # metadata-layer catalogs price the budget check from
                # their manifests — same pre-flight guarantee, no footers
                self.opt.budget.check(
                    est_fn(
                        topic,
                        partition,
                        ts_min,
                        ts_max,
                        offset_min=off_min,
                        offset_max=off_max,
                        **self._est_kwargs(est_fn, ext),
                    )
                )
                continue
            path = self.catalog._materialized.get(topic)
            if not path:
                continue  # envelope view: no files to budget
            est = estimate_scan(path, partition, ts_min, ts_max)
            self.opt.budget.check(est)

    # -- introspection (C1-C4) ------------------------------------------
    def _show_topics(self) -> DataFrame:
        rows = [(t,) for t in self.catalog.topic_names()]
        return local_rows(self.spark, ("topic",), rows)

    def _show_partitions(self, topic: str) -> DataFrame:
        df = self.catalog.topic(topic, with_schema_columns=False)
        # a materialized topic lists its partitions from the file index
        # its frame already holds; envelope, Iceberg and .kfs frames run
        # the DISTINCT query
        listed = getattr(self.catalog, "listed_partitions", None)
        parts = listed(df) if listed is not None else None
        if parts:
            return local_rows(self.spark, ("_partition",), [(p,) for p in parts])
        with SqlStatement(
            self.spark, getattr(self.catalog, "frame_view", None)
        ) as st:
            return st.sql(
                f"SELECT DISTINCT `_partition` FROM {st.relation(df)} "
                "ORDER BY `_partition`"
            )

    def _show_snapshots(self, topic: str) -> DataFrame:
        """SHOW SNAPSHOTS FROM t — the discovery half of time travel:
        lists (made_current_at, snapshot_id, parent_id,
        is_current_ancestor) for Iceberg-backed topics so the user can
        pick the FOR SYSTEM_TIME / SYSTEM_VERSION target. Catalogs
        without snapshot history reject it (there is nothing to list)."""
        fn = getattr(self.catalog, "topic_history", None)
        if fn is None:
            raise ValidationError(
                "SHOW SNAPSHOTS requires an Iceberg-backed topic "
                "(snapshot history); this catalog serves only the "
                "current state"
            )
        from pyspark.sql import functions as F

        from platform_spark.functions import render

        # made_current_at renders with F4's `YYYY-MM-DD HH:MM:SS.mmm`
        # convention like every other dialect timestamp (the raw frame
        # carries epoch millis); the fixed-width text keeps the
        # chronological sort order, and quoted back into
        # FOR SYSTEM_TIME AS OF it parses as the same instant
        return (
            fn(topic)
            .orderBy("made_current_at")
            .select(
                render.ts_text(
                    F.timestamp_millis(F.col("made_current_at"))
                ).alias("made_current_at"),
                "snapshot_id",
                "parent_id",
                "is_current_ancestor",
            )
        )

    def _describe(self, topic: str) -> DataFrame:
        rows = self.catalog.describe(topic)
        return local_rows(self.spark, ("column", "type", "source"), rows)

    def _explain(self, q: Query) -> DataFrame:
        """Plan summary: candidate files + byte/row estimates from parquet
        footers — our analogue of segment-count/byte estimates
        (server.go:929-962) — plus Catalyst's physical plan."""
        self.compiler._validate(q)
        lines = [f"scan topic={q.topic}"]
        for (
            topic, partition, ts_min, ts_max, off_min, off_max, ext,
        ) in self._scan_frames(q):
            est_fn = getattr(self.catalog, "estimate_topic_scan", None)
            if est_fn is not None:
                # catalogs with their own metadata layer (Iceberg: manifest
                # record counts/sizes/bounds) price the scan without any
                # parquet footer access
                est = est_fn(
                    topic,
                    partition,
                    ts_min,
                    ts_max,
                    offset_min=off_min,
                    offset_max=off_max,
                    **self._est_kwargs(est_fn, ext),
                )
                key_sel, as_of, version_of, version_ref = ext
                notes = ""
                if key_sel is not None:
                    n_keys = len(key_sel) if isinstance(key_sel, tuple) else 1
                    plans = getattr(self.catalog, "plans_key_lookup", None)
                    how = (
                        "bucket-planned"
                        if plans is not None and plans(topic)
                        else "row-filter"
                    )
                    notes += f" key_lookup={n_keys}keys-{how}"
                    if how == "bucket-planned" and not q.has_time_bound():
                        # the ADMITTED unbounded path (r14 verdict #5):
                        # surface the ScanBudget verdict the engine will
                        # apply pre-execution — the admission is by
                        # MEASURED cost, so EXPLAIN shows the measure
                        b = self.opt.budget
                        fits = (
                            est.bytes <= b.max_scan_bytes
                            and est.files <= b.max_scan_segments
                        )
                        notes += (
                            f" budget={est.bytes}B/cap={b.max_scan_bytes}B"
                            f"-{'admitted' if fits else 'REJECTED'}"
                        )
                if as_of is not None:
                    notes += " pinned=system_time"
                elif version_of is not None or version_ref is not None:
                    notes += " pinned=system_version"
                lines.append(
                    f"topic={topic} candidate_files={est.files} "
                    f"est_bytes={est.bytes} est_rows={est.rows} "
                    f"source=iceberg-manifest-estimate{notes}"
                )
                continue
            path = self.catalog._materialized.get(topic)
            src = "materialized"
            if not path:
                # metadata-only estimate from the raw source parquet footers
                # (server.go:929-962 always reports segment counts). EXPLAIN
                # must NEVER trigger materialization — that is a heavy write
                # job outside the limiter/budget/timeout.
                path = self.catalog.raw_source_path(topic)
                src = "raw-parquet-estimate"
            if path:
                est = estimate_scan(path, partition, ts_min, ts_max)
                lines.append(
                    f"topic={topic} candidate_files={est.files} "
                    f"est_bytes={est.bytes} est_rows={est.rows} source={src}"
                )
            else:
                lines.append(f"topic={topic} source=envelope-view")
        ts_min, ts_max = self.compiler.time_bounds(q)
        if ts_min or ts_max:
            lines.append(f"time_bounds=[{ts_min}, {ts_max}]")
        if q.partition is not None:
            lines.append(f"partition={q.partition}")
        lines.append(f"limit={self.compiler.effective_limit(q)}")
        # compile WITHOUT lazy materialization: EXPLAIN is introspection and
        # must never run a write job (an unmaterialized topic explains over
        # its envelope view — same logical plan, no side effects)
        df = self.compiler.compile(q, materialize=False)
        physical = df._jdf.queryExecution().simpleString()
        lines.extend(physical.splitlines()[:8])
        return local_rows(self.spark, ("plan",), [(l,) for l in lines])
