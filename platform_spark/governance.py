"""Query governance: scan budgets, admission control, result cache.

Engine-level replicas of the reference's guardrails:
- pre-flight scan estimate + budgets (server.go:984-992, 2847-2862; C9)
- concurrency limiter with bounded queue + queue timeout
  (server/query_limiter.go:44-114; C7)
- TTL+LRU result cache for time-bounded SELECTs, skipped for TAIL /
  SCAN FULL, LAST keyed by duration bucket (server/result_cache.go:26-110,
  server.go:557-598; C8)

The scan estimate reads parquet footers (pyarrow) — the Spark-world
analogue of the reference's manifest/.kfst min-max metadata: cheap,
metadata-only, no data scan.
"""

from __future__ import annotations

import glob
import os
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from datetime import datetime

from platform_spark.errors import GovernanceError


@dataclass
class ScanEstimate:
    files: int
    bytes: int
    rows: int


def estimate_scan(
    topic_path: str,
    partition: int | None = None,
    ts_min: datetime | None = None,
    ts_max: datetime | None = None,
) -> ScanEstimate:
    """Estimate a topic scan from parquet footers with partition-dir and
    row-group `_ts` min/max pruning — mirrors EXPLAIN's candidate-segment
    count + byte estimate (server.go:929-962)."""
    import pyarrow.parquet as pq

    if os.path.isfile(topic_path):
        paths = [topic_path]
    else:
        pattern = (
            os.path.join(topic_path, f"_partition={partition}", "*.parquet")
            if partition is not None
            else os.path.join(topic_path, "**", "*.parquet")
        )
        paths = glob.glob(pattern, recursive=True)
    files = 0
    total_bytes = 0
    total_rows = 0
    for p in paths:
        try:
            md = pq.ParquetFile(p).metadata
        except Exception:  # noqa: BLE001
            continue
        keep_rows = 0
        keep_bytes = 0
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            keep = True
            if ts_min is not None or ts_max is not None:
                for j in range(rg.num_columns):
                    col = rg.column(j)
                    if col.path_in_schema == "_ts" and col.statistics is not None:
                        st = col.statistics
                        if st.has_min_max:
                            if ts_max is not None and st.min is not None and _dt(st.min) > ts_max:
                                keep = False
                            if ts_min is not None and st.max is not None and _dt(st.max) < ts_min:
                                keep = False
                        break
            if keep:
                keep_rows += rg.num_rows
                keep_bytes += rg.total_byte_size
        if keep_rows:
            files += 1
            total_rows += keep_rows
            total_bytes += keep_bytes
    return ScanEstimate(files=files, bytes=total_bytes, rows=total_rows)


def _dt(v) -> datetime:
    if isinstance(v, datetime):
        return v.replace(tzinfo=None)
    return datetime.utcfromtimestamp(v / 1000.0)


@dataclass
class ScanBudget:
    max_scan_bytes: int = 10 * 1024**3  # config.go:197-223 defaults
    max_scan_segments: int = 10_000

    def check(self, est: ScanEstimate) -> None:
        if est.files > self.max_scan_segments:
            raise GovernanceError(
                f"scan exceeds max_scan_segments: {est.files} > {self.max_scan_segments}"
            )
        if est.bytes > self.max_scan_bytes:
            raise GovernanceError(
                f"scan exceeds max_scan_bytes: {est.bytes} > {self.max_scan_bytes}"
            )


class QueryLimiter:
    """Semaphore + bounded wait queue (query_limiter.go:44-114)."""

    def __init__(
        self, max_concurrent: int = 20, queue_size: int = 50, queue_timeout: float = 10.0
    ) -> None:
        self._sem = threading.Semaphore(max_concurrent)
        self._queue_slots = threading.Semaphore(max_concurrent + queue_size)
        self._timeout = queue_timeout

    def __enter__(self):
        if not self._queue_slots.acquire(blocking=False):
            raise GovernanceError("query queue full")
        if not self._sem.acquire(timeout=self._timeout):
            self._queue_slots.release()
            raise GovernanceError("query queue timeout")
        return self

    def __exit__(self, *exc):
        self._sem.release()
        self._queue_slots.release()
        return False


class ResultCache:
    """TTL + LRU cache of collected result rows, keyed by normalized SQL
    (LAST windows bucket by TTL so `LAST 5m` reuses entries within a TTL
    period — server.go:586-598).

    Materialization is collect-on-repeat: a statement's first execution only
    marks the fingerprint *warm* and stays a lazy plan (no driver collect on
    the cold path); rows are collected and cached when the same statement
    repeats inside a TTL window. One-shot queries never pay a driver
    round-trip; repeated dashboards still serve rows with zero Spark jobs."""

    def __init__(self, ttl_seconds: float = 30.0, max_entries: int = 100, max_rows: int = 10_000):
        self.ttl = ttl_seconds
        self.max_entries = max_entries
        self.max_rows = max_rows
        self._lock = threading.Lock()
        self._data: OrderedDict[str, tuple[float, object]] = OrderedDict()
        self._warm: OrderedDict[str, float] = OrderedDict()
        self.hits = 0
        self.misses = 0

    @staticmethod
    def _norm(sql: str) -> str:
        return " ".join(sql.strip().lower().split())

    def key(self, sql: str, now: datetime | None) -> str:
        bucket = int(time.time() / self.ttl) if now is None else 0
        return f"{self._norm(sql)}|{bucket}"

    def get(self, key: str):
        with self._lock:
            item = self._data.get(key)
            if item is None:
                self.misses += 1
                return None
            ts, value = item
            if time.time() - ts > self.ttl:
                del self._data[key]
                self.misses += 1
                return None
            self._data.move_to_end(key)
            self.hits += 1
            return value

    def lookup(self, sql: str, now: datetime | None) -> tuple[str, object]:
        """Three-state probe: ('rows', value) when materialized (the
        engine stores a LocalRelation DataFrame of the collected rows),
        ('warm', None) when this statement repeated within the TTL (caller
        should collect + put), ('cold', None) on first sight (caller returns
        the lazy plan untouched).

        Materialized rows key on the TTL-bucketed key (reference
        semantics: a LAST window's cached result is only valid within its
        TTL period), but warm-tracking keys on the BARE normalized
        statement — a repeat that happens to cross a bucket boundary still
        counts as a repeat, so periodic re-issuers (dashboards) promote to
        materialization instead of reading as forever-cold. Stats: one
        hit per rows-serve or warm-promotion, one miss per cold sight."""
        key = self.key(sql, now)
        norm = self._norm(sql)
        t = time.time()
        with self._lock:
            item = self._data.get(key)
            if item is not None:
                ts, value = item
                if t - ts <= self.ttl:
                    self._data.move_to_end(key)
                    self.hits += 1
                    return "rows", value
                del self._data[key]
            warm_ts = self._warm.pop(norm, None)
            if warm_ts is not None and t - warm_ts <= self.ttl:
                self.hits += 1
                return "warm", None
            self._warm[norm] = t
            while len(self._warm) > self.max_entries:
                self._warm.popitem(last=False)
            self.misses += 1
            return "cold", None

    def put(self, key: str, value, n_rows: int) -> None:
        if n_rows > self.max_rows:
            return
        with self._lock:
            self._data[key] = (time.time(), value)
            self._data.move_to_end(key)
            while len(self._data) > self.max_entries:
                self._data.popitem(last=False)

    def clear(self) -> None:
        """Drop all entries (session settings changed — cached results may
        no longer reflect current limits/confs)."""
        with self._lock:
            self._data.clear()
            self._warm.clear()
