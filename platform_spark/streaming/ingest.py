"""Ingestion: the produce-path analogue (SURVEY.md §3.2).

The reference's broker appends record batches to a partition log, assigns
contiguous offsets under a single-writer partition lease, and flushes
segments to S3 (cmd/broker/main.go:982-1122; pkg/storage/log.go:237-269).

Spark-first equivalent: a `TopicWriter` that appends micro-batches of
records to a topic's partitioned Parquet directory, assigning per-partition
contiguous `_offset` values. Single-writer-per-partition is guaranteed by
construction: offsets are assigned with a per-partition row_number on top
of the previous high-water mark, inside one writing job (Spark's driver
owns the commit, replacing the etcd partition lease T3). Commit of the
parquet files IS visibility — the analogue of the completed-segment
invariant (only footer-sealed segments are queryable, T1/T6).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical record schema accepted by the writer (pre-envelope)
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("_key", T.StringType()),
        T.StructField("_value", T.StringType()),
        T.StructField("_headers", T.StringType()),
        T.StructField("_ts", T.TimestampType()),
        T.StructField("_partition", T.IntegerType()),
    ]
)


def _sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class TopicWriter:
    """Append-only writer for one topic directory.

    High-water marks are tracked in a small JSON sidecar (`_hwm.json`) —
    the analogue of etcd's NextOffset (pkg/metadata) — written only after
    the parquet commit succeeds, so replays after a failed batch reassign
    the same offsets (at-least-once, like acks-before-flush in the
    reference; exactly-once needs the streaming checkpoint, see
    pipeline.py).
    """

    def __init__(
        self, spark: SparkSession, root: str, topic: str, n_partitions: int = 4
    ) -> None:
        self.spark = spark
        self.topic = topic
        self.n_partitions = n_partitions
        self.path = os.path.join(root, f"topic={topic}")
        os.makedirs(self.path, exist_ok=True)

    # -- offset bookkeeping --------------------------------------------
    @property
    def _hwm_path(self) -> str:
        return os.path.join(self.path, "_hwm.json")

    def high_water_marks(self) -> dict[int, int]:
        """next offset per partition (0 for fresh partitions)."""
        if os.path.exists(self._hwm_path):
            with open(self._hwm_path) as f:
                return {int(k): v for k, v in json.load(f).items()}
        return {}

    def _save_hwm(self, hwm: dict[int, int]) -> None:
        with open(self._hwm_path, "w") as f:
            json.dump({str(k): v for k, v in hwm.items()}, f)

    # -- produce --------------------------------------------------------
    def append(self, records: DataFrame) -> dict[int, int]:
        """Append records (RECORD_SCHEMA, `_partition` optional — assigned
        by key hash like the reference's default partitioner when absent)
        with contiguous per-partition offsets. Returns new high-water marks.
        """
        n = self.n_partitions
        if "_partition" not in records.columns:
            raw = f"CAST(pmod(xxhash64(_key), {n}) AS INT)"
        elif records.schema["_partition"].nullable:
            raw = f"coalesce(_partition, CAST(pmod(xxhash64(_key), {n}) AS INT))"
        else:
            raw = "_partition"
        # a partition id outside [0, n_partitions) has no entry in the HWM
        # base map and would silently produce NULL offsets — reject it the
        # way the broker rejects a produce to a nonexistent partition
        oor = _sql_str(
            f"partition out of range for topic {self.topic!r} (n_partitions={n}): "
        )
        part = (
            f"CASE WHEN {raw} >= 0 AND {raw} < {n} THEN {raw} "
            f"ELSE CAST(raise_error(concat({oor}, CAST({raw} AS STRING))) AS INT) END"
        )
        hwm = self.high_water_marks()
        base = ", ".join(f"{p}, {hwm.get(p, 0)}L" for p in range(n))
        # ONE projection, so the plan is built and analyzed once. The
        # window's exchange hash-partitions the rows by partition id, which
        # is the layout the partitioned write needs: no repartition on top
        df = records.selectExpr(
            f"{_sql_str(self.topic)} AS _topic",
            f"{part} AS _partition",
            f"row_number() OVER (PARTITION BY {part} ORDER BY _ts, _key) - 1"
            f" + map({base})[{part}] AS _offset",
            "_ts",
            "_key",
            "_value",
            "coalesce(_headers, '{}') AS _headers",
            f"concat({_sql_str(self.path + '/_partition=')}, CAST({part} AS STRING))"
            " AS _segment",
        )
        before = self._data_files()
        (
            df.sortWithinPartitions("_partition", "_offset")
            .write.mode("append")
            .partitionBy("_partition")
            .parquet(self.path)
        )
        # commit offsets only after the parquet commit (visibility = commit).
        # HWM deltas come from the FILES JUST WRITTEN (parquet footers,
        # metadata-only) — never from re-evaluating `records`, which a
        # non-deterministic source could change between the write and a
        # second action, desyncing _hwm.json from the committed data.
        counts = self._count_new_rows(before)
        for p, n in counts.items():
            hwm[p] = hwm.get(p, 0) + n
        self._save_hwm(hwm)
        return hwm

    def _data_files(self) -> set[str]:
        out = set()
        for dirpath, _dirs, files in os.walk(self.path):
            for fn in files:
                if fn.endswith(".parquet"):
                    out.add(os.path.join(dirpath, fn))
        return out

    def _count_new_rows(self, before: set[str]) -> dict[int, int]:
        """Rows per partition in files added since `before`, from parquet
        footers (no data scan)."""
        import pyarrow.parquet as pq

        counts: dict[int, int] = {}
        for path in self._data_files() - before:
            part_dir = os.path.basename(os.path.dirname(path))
            if not part_dir.startswith("_partition="):
                continue
            p = int(part_dir.split("=", 1)[1])
            counts[p] = counts.get(p, 0) + pq.ParquetFile(path).metadata.num_rows
        return counts

    def read(self) -> DataFrame:
        # the reader takes its path as a Hadoop glob: escape the pattern
        # characters, or a topic named `c*?` also reads its sibling `cab`
        # and one named `a[1]` reads nothing
        return self.spark.read.parquet(re.sub(r"([\\\[\]{}*?])", r"\\\1", self.path))

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Segment compaction: rewrite each partition's accumulation of
        small files into ~target-sized files (the S3 small-files problem
        every micro-batch ingest creates; the reference compacts segments
        broker-side). Offsets, rows, and high-water marks are preserved
        exactly. Returns the number of data files after compaction.

        Crash-safety: the `_hwm.json` sidecar is written into the tmp dir
        BEFORE the swap, so data + marks always travel together in one
        rename — a crash at any point leaves at least one complete dir
        (old or tmp/new), each carrying its own consistent sidecar, and the
        next append can never restart offsets at 0. The old dir is removed
        only after the new one is fully in place. (POSIX has no atomic
        dir-exchange, so there is a microscopic window where the canonical
        path is absent; recovery = rename whichever complete dir remains.)
        """
        import math
        import shutil

        df = self.read()
        total = sum(
            os.path.getsize(p) for p in self._data_files()
        )
        n_files_per_part = min(
            4096,  # guard: a pathological byte target must not explode the shuffle
            max(1, math.ceil(total / max(1, self.n_partitions) / target_file_bytes)),
        )
        hwm = self.high_water_marks()
        tmp = self.path + "__compact"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            # split each topic-partition across ~n_files_per_part writer
            # tasks: hashing on _partition alone would put every row of a
            # partition in ONE task → one file, ignoring target_file_bytes
            df.repartition(
                n_files_per_part * self.n_partitions,
                "_partition",
                F.pmod(F.col("_offset"), F.lit(n_files_per_part)),
            )
            .sortWithinPartitions("_partition", "_offset")
            .write.mode("overwrite")
            .partitionBy("_partition")
            .parquet(tmp)
        )
        with open(os.path.join(tmp, "_hwm.json"), "w") as f:
            json.dump({str(k): v for k, v in hwm.items()}, f)
        old = self.path + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old, ignore_errors=True)
        return len(self._data_files())


class ConsumerGroupRegistry:
    """Group lifecycle state machine + metadata surface (T4) — the
    queryable analogue of the reference coordinator
    (pkg/broker/coordinator.go:58-96 groupState/memberState; 126-265
    JoinGroup/SyncGroup; 267-305 Heartbeat; 1044-1138
    startRebalance/completeIfReady/removeExpiredMembers/
    dropRebalanceLaggers). The rebalance *transport* maps to Spark's task
    scheduling (SURVEY §4 stance); what this keeps is the observable
    protocol state: Empty → PreparingRebalance → CompletingRebalance →
    Stable, generation fencing, heartbeat liveness with per-member session
    timeouts, and deterministic range assignment.

    Time is always an explicit `now` float (seconds) — no wall-clock reads,
    so every transition is replayable in tests.

    Assignment is range-style per topic (the reference default): partitions
    split contiguously across members sorted by member id.
    """

    SESSION_TIMEOUT_S = 30.0  # defaultSessionTimeout (coordinator.go:36)
    REBALANCE_TIMEOUT_S = 60.0

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.path = os.path.join(root, "_consumer_groups.json")
        self._groups: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._groups = json.load(f)

    def _save(self) -> None:
        with open(self.path, "w") as f:
            json.dump(self._groups, f)

    # -- state helpers (groupState methods in the reference) ---------------

    def _start_rebalance(self, g: dict, now: float, timeout_s: float) -> None:
        """coordinator.go:1044-1065: gen bump, deadline, join_generation
        reset — every member must rejoin at the new generation."""
        if not g["members"]:
            g.update(state="Empty", leader="", rebalance_deadline=0.0)
            g["assignments"] = {}
            return
        g["generation"] += 1
        g["state"] = "PreparingRebalance"
        g["assignments"] = {}
        g["rebalance_deadline"] = now + timeout_s
        if not g["leader"] or g["leader"] not in g["members"]:
            g["leader"] = sorted(g["members"])[0]
        for m in g["members"].values():
            m["join_generation"] = 0

    def _complete_if_ready(self, g: dict) -> bool:
        """coordinator.go:1077-1089: all members rejoined at the current
        generation → CompletingRebalance (awaiting leader sync)."""
        if not g["members"]:
            return False
        if any(
            m["join_generation"] != g["generation"] for m in g["members"].values()
        ):
            return False
        g["state"] = "CompletingRebalance"
        g["rebalance_deadline"] = 0.0
        return True

    def join(
        self,
        group: str,
        member_id: str,
        topics: list[str],
        now: float = 0.0,
        session_timeout_s: float | None = None,
        rebalance_timeout_s: float | None = None,
    ) -> dict:
        """JoinGroup analogue (coordinator.go:126-205). Returns the join
        response surface: generation, leader, state, and whether the group
        is ready (Stable/CompletingRebalance) for the member to sync."""
        g = self._groups.setdefault(
            group,
            {
                "generation": 0,
                "leader": "",
                "state": "Empty",
                "members": {},
                "assignments": {},
                "rebalance_deadline": 0.0,
            },
        )
        existed = member_id in g["members"]
        m = g["members"].setdefault(member_id, {"join_generation": 0})
        m["topics"] = sorted(topics)
        m["session_timeout_s"] = (
            session_timeout_s
            if session_timeout_s is not None
            else m.get("session_timeout_s", self.SESSION_TIMEOUT_S)
        )
        m["last_heartbeat"] = now
        timeout = (
            rebalance_timeout_s
            if rebalance_timeout_s is not None
            else self.REBALANCE_TIMEOUT_S
        )
        state = g["state"]
        if state == "Empty" or (state == "Stable" and not existed):
            self._start_rebalance(g, now, timeout)
        elif state in ("PreparingRebalance", "CompletingRebalance"):
            g["rebalance_deadline"] = now + timeout
        m["join_generation"] = g["generation"]
        if not g["leader"]:
            g["leader"] = sorted(g["members"])[0]
        ready = g["state"] in ("Stable", "CompletingRebalance")
        if not ready:
            ready = self._complete_if_ready(g)
        self._save()
        return {
            "member_id": member_id,
            "generation": g["generation"],
            "leader": g["leader"],
            "state": g["state"],
            "ready": ready,
        }

    def sync(
        self,
        group: str,
        member_id: str,
        generation: int,
        n_partitions: dict[str, int],
    ) -> tuple[str, list[tuple[str, int]]]:
        """SyncGroup analogue (coordinator.go:205-265): the leader's sync
        computes assignments and marks the group Stable; followers get
        `rebalance_in_progress` until then. Returns (code, assignment)."""
        g = self._groups.get(group)
        if g is None or member_id not in g["members"]:
            return ("unknown_member_id", [])
        if generation != g["generation"]:
            return ("illegal_generation", [])
        if g["state"] == "PreparingRebalance":
            return ("rebalance_in_progress", [])
        if g["state"] == "CompletingRebalance" and not g["assignments"]:
            if member_id != g["leader"]:
                return ("rebalance_in_progress", [])
            g["assignments"] = {
                m: [[t, p] for t, p in pairs]
                for m, pairs in self.assignment(group, n_partitions).items()
            }
            g["state"] = "Stable"
            g["rebalance_deadline"] = 0.0
            self._save()
        pairs = g["assignments"].get(member_id)
        if pairs is None and g["state"] != "Stable":
            return ("rebalance_in_progress", [])
        return ("ok", [(t, p) for t, p in (pairs or [])])

    def heartbeat(
        self, group: str, member_id: str, generation: int, now: float
    ) -> str:
        """Heartbeat analogue (coordinator.go:267-305): fences on member id
        and generation, signals an in-flight rebalance, else refreshes the
        liveness clock."""
        g = self._groups.get(group)
        if g is None or member_id not in g["members"]:
            return "unknown_member_id"
        if generation != g["generation"]:
            return "illegal_generation"
        if g["state"] != "Stable":
            return "rebalance_in_progress"
        g["members"][member_id]["last_heartbeat"] = now
        self._save()
        return "ok"

    def sweep(self, group: str, now: float) -> bool:
        """Expiry sweep (coordinator.go:1098-1138): drop members whose
        session timed out and — past the rebalance deadline — members that
        never rejoined the current generation. Survivors rebalance."""
        g = self._groups.get(group)
        if g is None:
            return False
        expired = [
            mid
            for mid, m in g["members"].items()
            if now - m.get("last_heartbeat", 0.0)
            > m.get("session_timeout_s", self.SESSION_TIMEOUT_S)
        ]
        laggers = []
        if g["rebalance_deadline"] and now >= g["rebalance_deadline"]:
            laggers = [
                mid
                for mid, m in g["members"].items()
                if m["join_generation"] != g["generation"]
            ]
        changed = False
        for mid in set(expired + laggers):
            del g["members"][mid]
            g["assignments"].pop(mid, None)
            if g["leader"] == mid:
                g["leader"] = ""
            changed = True
        if changed:
            self._start_rebalance(g, now, self.REBALANCE_TIMEOUT_S)
            self._complete_if_ready(g)
            self._save()
        return changed

    def leave(self, group: str, member_id: str, now: float = 0.0) -> None:
        """LeaveGroup analogue (coordinator.go:307-350): removal triggers a
        rebalance among the survivors."""
        g = self._groups.get(group)
        if not g or member_id not in g["members"]:
            return
        del g["members"][member_id]
        g.get("assignments", {}).pop(member_id, None)
        if g["leader"] == member_id:
            g["leader"] = ""
        self._start_rebalance(g, now, self.REBALANCE_TIMEOUT_S)
        self._complete_if_ready(g)
        self._save()

    def assignment(
        self, group: str, n_partitions: dict[str, int]
    ) -> dict[str, list[tuple[str, int]]]:
        """Range assignment: per topic, contiguous partition spans across
        the subscribed members sorted by id (coordinator default)."""
        g = self._groups.get(group, {"members": {}})
        out: dict[str, list[tuple[str, int]]] = {m: [] for m in g["members"]}
        topics = sorted({t for m in g["members"].values() for t in m["topics"]})
        for topic in topics:
            subs = sorted(
                m for m, st in g["members"].items() if topic in st["topics"]
            )
            if not subs:
                continue
            total = n_partitions.get(topic, 0)
            per, extra = divmod(total, len(subs))
            p = 0
            for i, m in enumerate(subs):
                take = per + (1 if i < extra else 0)
                out[m].extend((topic, q) for q in range(p, p + take))
                p += take
        return out

    def describe(self, group: str, n_partitions: dict[str, int]) -> DataFrame:
        """DESCRIBE GROUP rows: one per member with subscription,
        assignment, and liveness; empty group → stable-empty row set.
        Mirrors the reference's DescribeGroups encoding
        (coordinator.go:588-600: session timeout + heartbeat per member)."""
        g = self._groups.get(group, {"generation": 0, "leader": "", "members": {}})
        assign = self.assignment(group, n_partitions)
        state = g.get("state", "Stable" if g["members"] else "Empty")
        rows = [
            (
                group,
                state,
                g["generation"],
                g["leader"],
                m,
                st["topics"],
                [f"{t}:{p}" for t, p in assign.get(m, [])],
                float(st.get("last_heartbeat", 0.0)),
                float(st.get("session_timeout_s", self.SESSION_TIMEOUT_S)),
            )
            for m, st in sorted(g["members"].items())
        ]
        return self.spark.createDataFrame(
            rows,
            "group: string, state: string, generation: int, leader: string, "
            "member_id: string, subscribed: array<string>, assigned: array<string>, "
            "last_heartbeat: double, session_timeout_s: double",
        )


class ConsumerGroupOffsets:
    """Committed-offset surface (T2/T4): a tiny managed table of
    (group, topic, partition) → offset, the queryable analogue of the
    reference's etcd consumer-group state (pkg/broker/coordinator.go:353-423).
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.path = os.path.join(root, "_consumer_offsets.json")
        self._state: dict[str, int] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self._state = json.load(f)

    def commit(self, group: str, topic: str, partition: int, offset: int) -> None:
        self._state[f"{group}/{topic}/{partition}"] = offset
        with open(self.path, "w") as f:
            json.dump(self._state, f)

    def fetch(self, group: str, topic: str, partition: int) -> int | None:
        return self._state.get(f"{group}/{topic}/{partition}")

    def as_dataframe(self) -> DataFrame:
        rows = [
            tuple(k.split("/")) + (v,) for k, v in sorted(self._state.items())
        ]
        return self.spark.createDataFrame(
            [(g, t, int(p), o) for g, t, p, o in rows],
            "group: string, topic: string, partition: int, offset: bigint",
        )


def log_compact(topic_df: DataFrame, key_col: str = "_key") -> DataFrame:
    """Kafka log-compaction view: the LATEST record per key within each
    topic partition (compacted-topic read semantics — the retained record
    is the one with the highest offset; earlier values for the key are
    superseded). Null-keyed records are dropped, as in Kafka, where they
    cannot be compacted (a null key has no identity to supersede).

    One shuffle on (_partition, key) and a per-group max — at 100 TB the
    group state is one row per live key, and Spark's partial aggregation
    pre-compacts map-side. To persist, feed the result to
    `TopicWriter.append`-style rewrite or a downstream sink; as a VIEW it
    composes with any query (the reference compacts segments broker-side,
    here compaction is a first-class relational operator).
    """
    w = Window.partitionBy("_partition", key_col).orderBy(F.desc("_offset"))
    return (
        topic_df.filter(F.col(key_col).isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
