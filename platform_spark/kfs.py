"""Native KafScale segment (``.kfs``) codec + Spark source/sink.

The reference stores every topic as immutable S3 segment files holding
Kafka v2 record batches (kafscale-spec.md:84-178).  Until now this engine
treated the segment layer as "by design Parquet" (SURVEY.md §1.3, S4); this
module closes the format-parity gap: it reads and writes the *actual*
``.kfs`` wire format, so a user of the reference can point this engine at
their existing S3 segment objects (or export Spark data back into them).

Layout, from the public spec and the reference implementations:

* Segment header, 32 bytes (pkg/storage/segment.go:87-97)::

    magic "KAFS" | version u16=1 | flags u16=0 | base_offset i64
    | message_count i32 | created_ms i64 | reserved u32

* Body: Kafka v2 record batches, each framed by ``base_offset i64 +
  batch_len u32`` followed by the 49-byte batch header (total 61 bytes,
  decoder.go:169-222).  Compressed batches are rejected on read, exactly
  like decoder.go:198-201.

* Segment footer, 16 bytes (segment.go:99-105)::

    crc32c(body) u32 | last_offset i64 | magic "END!"

  A segment is *completed* iff its last 4 bytes are ``END!``
  (discovery.go hasFooterMagic); incomplete segments are skipped.

* Records are varint/zigzag encoded (decoder.go:335-356):
  ``length attrs(1B) ts_delta offset_delta key_len key value_len value
  header_count (hkey_len hkey hval_len hval)*`` with ``-1`` lengths for
  NULL.  Deltas are i32 (varint readers cap at 5 bytes), so the writer
  splits any batch whose timestamp span would overflow.

* Sparse offset index ``.index`` (pkg/storage/index.go:25-116)::

    magic "IDX\\x00" | version u16=1 | entry_count u32 | interval i32
    | reserved u16 | (offset i64, position u32)*

All integers are big-endian.  CRC is CRC32-Castagnoli (segment.go:33).

Spark integration is deliberately thin and scale-shaped:

* ``read_kfs`` = ``binaryFile`` datasource (one task per segment object —
  distributed listing + read, same unit of parallelism as the reference's
  one-GET-per-segment scan) → Arrow-batched ``mapInPandas`` decode.  The
  decode is IO/bit-twiddling work Spark's JVM operators cannot express;
  everything downstream is ordinary columnar DataFrame.
* Offset predicates prune at *batch* granularity before record decode,
  mirroring the reference's sparse-index range-GETs (log.go:653-682): a
  frame whose ``[base_offset, base_offset+last_delta]`` window misses the
  requested range is skipped without touching its records.
* ``write_kfs`` = ``applyInPandas`` per partition — each Spark task owns
  one topic-partition (the reference's partition-lease invariant) and
  emits ``segment-{base:020d}.kfs`` + ``.index`` pairs.
"""

from __future__ import annotations

import io
import json
import os
import struct
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from platform_spark.topics import _describe_rows

SEGMENT_MAGIC = b"KAFS"
FOOTER_MAGIC = b"END!"
INDEX_MAGIC = b"IDX\x00"
SEGMENT_HEADER_LEN = 32
SEGMENT_FOOTER_LEN = 16
BATCH_HEADER_LEN = 61  # 12-byte frame + 49-byte Kafka v2 header
_I32_MAX = (1 << 31) - 1

# ---------------------------------------------------------------------------
# CRC32-Castagnoli (pure python, table-driven; stdlib zlib is the wrong poly)
# ---------------------------------------------------------------------------

_CRC32C_POLY = 0x82F63B78
_CRC32C_TABLE: list[int] = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# varint / zigzag (decoder.go:335-356)
# ---------------------------------------------------------------------------


def _zigzag_encode(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _write_varint(buf: bytearray, v: int) -> None:
    u = _zigzag_encode(v) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    value = 0
    while True:
        b = data[pos]
        pos += 1
        value |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift > 28:
            raise ValueError("varint too long")
    return (value >> 1) ^ -(value & 1), pos


# ---------------------------------------------------------------------------
# record / batch / segment encode
# ---------------------------------------------------------------------------


def encode_record(
    offset_delta: int,
    ts_delta: int,
    key: bytes | None,
    value: bytes | None,
    headers: list[tuple[str, bytes | None]],
) -> bytes:
    body = bytearray()
    body.append(0)  # attributes
    _write_varint(body, ts_delta)
    _write_varint(body, offset_delta)
    if key is None:
        _write_varint(body, -1)
    else:
        _write_varint(body, len(key))
        body += key
    if value is None:
        _write_varint(body, -1)
    else:
        _write_varint(body, len(value))
        body += value
    _write_varint(body, len(headers))
    for hk, hv in headers:
        hkb = hk.encode("utf-8")
        _write_varint(body, len(hkb))
        body += hkb
        if hv is None:
            _write_varint(body, -1)
        else:
            _write_varint(body, len(hv))
            body += hv
    out = bytearray()
    _write_varint(out, len(body))
    out += body
    return bytes(out)


def encode_batch(records: list[dict], base_offset: int) -> bytes:
    """One framed Kafka v2 batch. ``records`` rows carry ``offset``,
    ``ts_ms``, ``key``, ``value``, ``headers`` and MUST be offset-sorted;
    splits are the caller's job (see :func:`_batch_slices`)."""
    first_ts = min(r["ts_ms"] for r in records)
    max_ts = max(r["ts_ms"] for r in records)
    last_delta = records[-1]["offset"] - base_offset
    payload = bytearray()
    for r in records:
        payload += encode_record(
            r["offset"] - base_offset,
            r["ts_ms"] - first_ts,
            r["key"],
            r["value"],
            r.get("headers") or [],
        )
    # header fields after the CRC (Kafka v2: crc covers attributes..end)
    after_crc = bytearray()
    after_crc += struct.pack(">hiqqqhi", 0, last_delta, first_ts, max_ts, -1, -1, -1)
    after_crc += struct.pack(">i", len(records))
    after_crc += payload
    crc = crc32c(bytes(after_crc))
    rest = struct.pack(">ibI", 0, 2, crc) + after_crc  # leaderEpoch, magic=2, crc
    return struct.pack(">qI", base_offset, len(rest)) + rest


def _batch_slices(rows: list[dict], batch_records: int) -> Iterator[list[dict]]:
    """Offset-contiguous slices whose ts span fits the i32 delta; halve on
    overflow (terminates: a single record has span 0)."""
    for i in range(0, len(rows), batch_records):
        stack = [rows[i : i + batch_records]]
        while stack:
            part = stack.pop()
            ts = [r["ts_ms"] for r in part]
            if len(part) > 1 and max(ts) - min(ts) > _I32_MAX:
                mid = len(part) // 2
                stack.append(part[mid:])
                stack.append(part[:mid])
            else:
                yield part


def encode_segment(
    rows: list[dict],
    created_ms: int = 0,
    batch_records: int = 500,
    index_interval: int = 1000,
) -> tuple[bytes, bytes]:
    """Encode offset-sorted rows into a completed segment; returns
    ``(segment_bytes, index_bytes)`` (segment.go:37-112)."""
    if not rows:
        raise ValueError("empty segment")
    base = rows[0]["offset"]
    last = rows[-1]["offset"]
    body = bytearray()
    entries: list[tuple[int, int]] = []
    since_last = index_interval  # first batch always indexed (index.go:45-52)
    for part in _batch_slices(rows, batch_records):
        if since_last >= index_interval:
            entries.append((part[0]["offset"], SEGMENT_HEADER_LEN + len(body)))
            since_last = 0
        since_last += len(part)
        body += encode_batch(part, part[0]["offset"])
    header = (
        SEGMENT_MAGIC
        + struct.pack(">HHqiqI", 1, 0, base, len(rows), created_ms, 0)
    )
    footer = struct.pack(">Iq", crc32c(bytes(body)), last) + FOOTER_MAGIC
    index = INDEX_MAGIC + struct.pack(">HIiH", 1, len(entries), index_interval, 0)
    for off, pos in entries:
        index += struct.pack(">qI", off, pos)
    return header + bytes(body) + footer, index


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------


def is_completed(data: bytes) -> bool:
    """Completed-segment invariant: footer magic present (discovery.go)."""
    return len(data) >= SEGMENT_FOOTER_LEN and data[-4:] == FOOTER_MAGIC


def parse_index(data: bytes) -> list[tuple[int, int]]:
    if len(data) < 16 or data[:4] != INDEX_MAGIC:
        raise ValueError("invalid index magic")
    (count,) = struct.unpack(">I", data[6:10])
    out = []
    pos = 16
    for _ in range(count):
        off, p = struct.unpack(">qI", data[pos : pos + 12])
        out.append((off, p))
        pos += 12
    return out


def decode_segment(
    data: bytes,
    min_offset: int | None = None,
    max_offset: int | None = None,
    verify_crc: bool = False,
) -> Iterator[dict]:
    """Yield record dicts. Offset bounds prune whole batches from the frame
    header alone (the decode-side twin of the reference's sparse-index
    range-GET, log.go:653-682). CRC verification is opt-in, matching
    decoder.go which trusts completed segments."""
    if len(data) < SEGMENT_HEADER_LEN + SEGMENT_FOOTER_LEN:
        raise ValueError("segment too small")
    if data[:4] != SEGMENT_MAGIC:
        raise ValueError("invalid segment magic")
    if not is_completed(data):
        raise ValueError("incomplete segment (no END! footer)")
    body = data[SEGMENT_HEADER_LEN : len(data) - SEGMENT_FOOTER_LEN]
    if verify_crc:
        (want,) = struct.unpack(">I", data[-16:-12])
        got = crc32c(bytes(body))
        if got != want:
            raise ValueError(f"segment crc mismatch: {got:#x} != {want:#x}")
    pos = 0
    n = len(body)
    while pos + 12 <= n:
        base_offset, batch_len = struct.unpack(">qI", body[pos : pos + 12])
        if batch_len <= 0 or pos + 12 + batch_len > n:
            break
        frame_end = pos + 12 + batch_len
        (last_delta,) = struct.unpack(">i", body[pos + 23 : pos + 27])
        if (min_offset is not None and base_offset + last_delta < min_offset) or (
            max_offset is not None and base_offset > max_offset
        ):
            pos = frame_end  # batch-granularity skip, records never touched
            continue
        (attributes,) = struct.unpack(">h", body[pos + 21 : pos + 23])
        if attributes & 0x07:
            raise ValueError("compressed batches are not supported")
        (first_ts,) = struct.unpack(">q", body[pos + 27 : pos + 35])
        (record_count,) = struct.unpack(">i", body[pos + 57 : pos + 61])
        rpos = pos + BATCH_HEADER_LEN
        for _ in range(max(record_count, 0)):
            length, rpos = _read_varint(body, rpos)
            rec_end = rpos + length
            p = rpos + 1  # skip attributes byte
            ts_delta, p = _read_varint(body, p)
            off_delta, p = _read_varint(body, p)
            klen, p = _read_varint(body, p)
            key = None if klen < 0 else bytes(body[p : p + klen])
            p += max(klen, 0)
            vlen, p = _read_varint(body, p)
            value = None if vlen < 0 else bytes(body[p : p + vlen])
            p += max(vlen, 0)
            hcount, p = _read_varint(body, p)
            headers = []
            for _h in range(hcount):
                hklen, p = _read_varint(body, p)
                hkey = bytes(body[p : p + max(hklen, 0)]).decode("utf-8")
                p += max(hklen, 0)
                hvlen, p = _read_varint(body, p)
                hval = None if hvlen < 0 else bytes(body[p : p + hvlen])
                p += max(hvlen, 0)
                headers.append((hkey, hval))
            offset = base_offset + off_delta
            if (min_offset is None or offset >= min_offset) and (
                max_offset is None or offset <= max_offset
            ):
                yield {
                    "offset": offset,
                    "ts_ms": first_ts + ts_delta,
                    "key": key,
                    "value": value,
                    "headers": headers,
                }
            rpos = rec_end
        pos = frame_end


# ---------------------------------------------------------------------------
# Spark source / sink
# ---------------------------------------------------------------------------

#: envelope schema of the decoded scan (SURVEY.md §1.2's 8 implicit columns)
KFS_SCHEMA = StructType(
    [
        StructField("_topic", StringType()),
        StructField("_partition", IntegerType()),
        StructField("_offset", LongType()),
        StructField("_ts", TimestampType()),
        StructField("_key", BinaryType()),
        StructField("_value", BinaryType()),
        StructField("_headers", StringType()),
        StructField("_segment", StringType()),
    ]
)


def _segment_identity(path: str) -> tuple[str, int, str]:
    """(topic, partition, suffix) from the spec key layout
    ``.../{topic}/{partition}/segment-{base}.kfs`` (kafscale-spec.md:71-82)."""
    parts = path.rstrip("/").split("/")
    topic, partition, fname = parts[-3], int(parts[-2]), parts[-1]
    return topic, partition, f"{topic}/{partition}/{fname}"


def _decode_partition(iterator, min_offset, max_offset, skip_corrupt=False):
    import pandas as pd

    for pdf in iterator:
        # _ts is carried separately as int64 ms (ts_ms) for one vectorized
        # datetime64 cast at the end — it must NOT get a list here, or an
        # append to it would be silently ignored by the frame construction.
        out: dict[str, list] = {
            k: [] for k in KFS_SCHEMA.fieldNames() if k != "_ts"
        }
        ts_ms: list[int] = []
        for path, content in zip(pdf["path"], pdf["content"]):
            topic, partition, suffix = _segment_identity(str(path))
            data = bytes(content)
            if not is_completed(data):
                continue  # only completed segments are visible (T1)
            try:
                records = list(decode_segment(data, min_offset, max_offset))
            except (ValueError, IndexError, struct.error) as e:
                if skip_corrupt:
                    # visible skip: executor-side log line, not silence
                    print(f"kfs: skipping corrupt segment {suffix}: {e}")
                    continue
                raise ValueError(f"corrupt segment {suffix}: {e}") from e
            for rec in records:
                out["_topic"].append(topic)
                out["_partition"].append(partition)
                out["_offset"].append(rec["offset"])
                ts_ms.append(rec["ts_ms"])
                out["_key"].append(rec["key"])
                out["_value"].append(rec["value"])
                headers = rec["headers"]
                # "{}" shortcut: headerless records (the common case) skip
                # a per-record json.dumps in the 10M-row hot loop
                out["_headers"].append(
                    "{}"
                    if not headers
                    else json.dumps(
                        {
                            k: (v.decode("utf-8", "replace") if v is not None else None)
                            for k, v in headers
                        },
                        separators=(",", ":"),
                    )
                )
                out["_segment"].append(suffix)
        # explicit dtypes: an all-pruned batch yields empty lists, which
        # would otherwise infer float64 and break the Arrow timestamp cast.
        # _ts converts in ONE vectorized int64->datetime64 cast instead of
        # two python datetime objects per record (the old per-row
        # fromtimestamp/replace pair dominated the decode profile).
        yield pd.DataFrame(
            {
                "_topic": pd.Series(out["_topic"], dtype="object"),
                "_partition": pd.Series(out["_partition"], dtype="int32"),
                "_offset": pd.Series(out["_offset"], dtype="int64"),
                "_ts": pd.Series(ts_ms, dtype="int64")
                .astype("datetime64[ms]")
                .astype("datetime64[us]"),
                "_key": pd.Series(out["_key"], dtype="object"),
                "_value": pd.Series(out["_value"], dtype="object"),
                "_headers": pd.Series(out["_headers"], dtype="object"),
                "_segment": pd.Series(out["_segment"], dtype="object"),
            }
        )


def read_kfs(
    spark: SparkSession,
    root: str,
    topic: str = "*",
    min_offset: int | None = None,
    max_offset: int | None = None,
    streaming: bool = False,
    partition: int | None = None,
    skip_corrupt: bool = False,
) -> DataFrame:
    """Scan ``.kfs`` segments under ``root/{topic}/{partition}/`` into the
    8-column envelope. One binaryFile split per segment object = the
    reference's one-GET-per-segment parallelism; ``min/max_offset`` prune
    batches before record decode. With ``streaming=True`` the same decode
    runs as a Structured Streaming file source (new completed segments are
    picked up per micro-batch — the 5 s poll loop analogue,
    processor.go:61-164)."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("binaryFile").option("pathGlobFilter", "*.kfs")
    if streaming:
        # the binaryFile source's fixed schema, required explicitly on the
        # streaming path
        reader = reader.schema(
            "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
        )
    part = "*" if partition is None else str(partition)
    binary = reader.load(f"{root}/{topic}/{part}")
    return binary.select("path", "content").mapInPandas(
        lambda it: _decode_partition(it, min_offset, max_offset, skip_corrupt),
        KFS_SCHEMA,
    )


def write_kfs(
    df: DataFrame,
    root: str,
    topic: str,
    segment_rows: int = 1000,
    batch_records: int = 500,
    created_ms: int = 0,
    write_index: bool = True,
    index_interval: int = 1000,
) -> DataFrame:
    """Export an envelope DataFrame (``_partition``, ``_offset``, ``_ts``,
    ``_key``, ``_value``, optional ``_headers`` JSON text) as completed
    ``.kfs`` segments of ``segment_rows`` records. Returns the manifest
    (partition, base_offset, records, bytes, path) — an action on it
    performs the write. ``root`` must be storage every executor can reach
    (object store / shared fs), exactly like the reference's S3 bucket.

    Parallelism: one task per SEGMENT, not per partition — the group key
    is ``(_partition, _offset // segment_rows)``, exactly a segment's row
    range (offsets are contiguous per partition), so a topic with few
    partitions still encodes on every core and the output bytes are
    identical to a per-partition pass. Per-partition exclusivity (the T3
    lease) still holds per segment FILE, which is the write unit."""
    manifest_schema = StructType(
        [
            StructField("partition", IntegerType()),
            StructField("base_offset", LongType()),
            StructField("records", LongType()),
            StructField("bytes", LongType()),
            StructField("path", StringType()),
        ]
    )

    def _write_group(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_offset")
        partition = int(pdf["_partition"].iloc[0])
        pdf = pdf.drop(columns=["__seg"])
        seg_dir = os.path.join(root, topic, str(partition))
        os.makedirs(seg_dir, exist_ok=True)
        rows_out: list[tuple] = []
        ts_ms = (pdf["_ts"].astype("int64") // 1_000_000).tolist()
        keys = pdf["_key"].tolist()
        vals = pdf["_value"].tolist()
        offs = pdf["_offset"].tolist()
        heads = pdf["_headers"].tolist() if "_headers" in pdf else [None] * len(pdf)
        records = []
        for off, ts, k, v, h in zip(offs, ts_ms, keys, vals, heads):
            headers = []
            if h is not None and not (isinstance(h, float) and pd.isna(h)):
                obj = json.loads(h)
                headers = [
                    (hk, hv.encode("utf-8") if hv is not None else None)
                    for hk, hv in obj.items()
                ]
            records.append(
                {
                    "offset": int(off),
                    "ts_ms": int(ts),
                    "key": _as_bytes(k),
                    "value": _as_bytes(v),
                    "headers": headers,
                }
            )
        for i in range(0, len(records), segment_rows):
            chunk = records[i : i + segment_rows]
            base = chunk[0]["offset"]
            seg, idx = encode_segment(chunk, created_ms, batch_records, index_interval)
            path = os.path.join(seg_dir, f"segment-{base:020d}.kfs")
            tmp = path + ".tmp"
            with open(tmp, "wb") as f:
                f.write(seg)
            os.replace(tmp, path)  # atomic: readers only ever see END!-complete files
            if write_index:
                with open(path[:-4] + ".index", "wb") as f:
                    f.write(idx)
            rows_out.append((partition, base, len(chunk), len(seg), path))
        return pd.DataFrame(
            rows_out, columns=["partition", "base_offset", "records", "bytes", "path"]
        )

    staged = df.withColumn(
        "__seg", (F.col("_offset") / F.lit(segment_rows)).cast("bigint")
    )
    return staged.groupBy("_partition", "__seg").applyInPandas(
        _write_group, manifest_schema
    )


def _as_bytes(v) -> bytes | None:
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, float):  # NaN from pandas null
        return None
    return str(v).encode("utf-8")


def read_kfs_from(
    spark: SparkSession,
    root: str,
    topic: str,
    next_offsets: dict[int, int],
) -> DataFrame:
    """Consumer-style resume over native segments: scan each partition from
    its next uncommitted offset (``ConsumerGroupOffsets.fetch(group, topic,
    p) + 1`` — the OffsetFetch → Fetch flow, kafscale-spec.md:235-328).
    Each partition's ``min_offset`` bound prunes whole record batches
    before decode; partitions absent from the map read from 0. The
    partition listing is a driver-side directory LIST, exactly the
    reference's S3 LIST-per-partition."""
    # driver-side directory LIST (local/NFS roots; for object stores run
    # the same loop over the store's LIST API — read_kfs itself is
    # storage-agnostic through the binaryFile source)
    part_dirs = sorted(
        int(p)
        for p in os.listdir(os.path.join(root, topic))
        if p.isdigit()
    )
    dfs = [
        read_kfs(
            spark,
            root,
            topic,
            min_offset=next_offsets.get(p, 0) or None,
            partition=p,
        )
        for p in part_dirs
    ]
    if not dfs:
        return spark.createDataFrame([], KFS_SCHEMA)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def estimate_kfs_scan(
    root: str,
    topic: str,
    partition: int | None = None,
    min_offset: int | None = None,
    max_offset: int | None = None,
) -> dict:
    """Pre-flight scan estimate over native segments using ONLY segment
    headers and sparse ``.index`` files — the planning use of the index the
    reference makes for S3 range-GETs (log.go:653-682), and the kfs twin
    of governance.estimate_scan's parquet-footer estimate (C9 scan
    budgets). Returns candidate segment count, estimated records and the
    byte window that must actually be read per segment (bytes after the
    first index entry at-or-before ``min_offset``, through the entry just
    past ``max_offset``)."""
    pattern = os.path.join(root, topic, "*" if partition is None else str(partition))
    segments = 0
    est_records = 0
    est_bytes = 0
    total_bytes = 0
    import glob as _glob

    for seg_dir in sorted(_glob.glob(pattern)):
        for name in sorted(os.listdir(seg_dir)):
            if not name.endswith(".kfs"):
                continue
            path = os.path.join(seg_dir, name)
            size = os.path.getsize(path)
            total_bytes += size
            with open(path, "rb") as f:
                header = f.read(SEGMENT_HEADER_LEN)
            if header[:4] != SEGMENT_MAGIC:
                continue
            base, count = struct.unpack(">q", header[8:16])[0], struct.unpack(
                ">i", header[16:20]
            )[0]
            last = base + count - 1
            if (min_offset is not None and last < min_offset) or (
                max_offset is not None and base > max_offset
            ):
                continue  # whole segment pruned from its header alone
            lo_pos, hi_pos = SEGMENT_HEADER_LEN, size
            idx_path = path[:-4] + ".index"
            if os.path.exists(idx_path):
                with open(idx_path, "rb") as f:
                    entries = parse_index(f.read())
                if min_offset is not None:
                    at_or_before = [p for off, p in entries if off <= min_offset]
                    if at_or_before:
                        lo_pos = at_or_before[-1]
                if max_offset is not None:
                    past = [p for off, p in entries if off > max_offset]
                    if past:
                        hi_pos = past[0]
            segments += 1
            lo = max(base, min_offset) if min_offset is not None else base
            hi = min(last, max_offset) if max_offset is not None else last
            est_records += max(hi - lo + 1, 0)
            est_bytes += max(hi_pos - lo_pos, 0)
    return {
        "segments": segments,
        "est_records": est_records,
        "est_bytes": est_bytes,
        "total_bytes": total_bytes,
    }


class KfsTopicCatalog:
    """Duck-typed TopicCatalog over a directory of native ``.kfs``
    segments: ``KafSqlEngine(KfsTopicCatalog(spark, root))`` runs every
    KAFSQL query DIRECTLY against the reference's own storage format — a
    user can point this engine at their existing segment objects with no
    conversion step (the migration on-ramp; materialize to parquet with
    ``read_kfs(...).write`` when ready for the columnar at-rest layout).

    Notes vs the parquet catalog: `_key`/`_value` surface as binary (the
    wire truth; render/json helpers cast exactly as with parquet topics),
    `_ts` is ms-precision (Kafka timestamps), and scan budgeting falls
    back to the engine's envelope-view path (`estimate_kfs_scan` prices
    scans from headers/indexes when needed)."""

    def __init__(self, spark: SparkSession, root: str, configs: dict | None = None):
        self.spark = spark
        self.root = root
        self.configs = configs or {}
        #: no parquet materialization — the engine's budget/EXPLAIN paths
        #: treat un-materialized topics as envelope views
        self._materialized: dict[str, str] = {}
        self.cache_root = None

    def topic_names(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    def topic(self, name: str, with_schema_columns: bool = True) -> DataFrame:
        if name not in self.topic_names():
            raise KeyError(f"unknown topic {name!r}")
        df = read_kfs(self.spark, self.root, name)
        if with_schema_columns:
            cfg = self.configs.get(name)
            if cfg:
                df = df.select("*", *[c.spark_expr() for c in cfg.columns])
        return df

    def describe(self, name: str) -> list[tuple[str, str, str]]:
        return _describe_rows(self.configs, name)

    def raw_source_path(self, name: str) -> str | None:
        return None  # EXPLAIN estimates come from estimate_kfs_scan instead


def migrate_kfs_to_topic(
    spark: SparkSession,
    kfs_root: str,
    topic: str,
    dest_root: str,
    n_partitions: int | None = None,
) -> dict[int, int]:
    """One-call migration from native segments to the engine's parquet
    at-rest layout: decode every completed segment, write the
    ``topic={name}/_partition=p`` parquet tree PRESERVING original
    offsets, and seed the TopicWriter high-water-mark sidecar so
    subsequent ``TopicWriter.append`` calls continue the offset sequence
    contiguously. Returns the seeded HWM map (next offset per partition).
    """
    from platform_spark.streaming.ingest import TopicWriter

    df = read_kfs(spark, kfs_root, topic)
    hwm_rows = (
        df.groupBy("_partition").agg(F.max("_offset").alias("mx")).collect()
    )
    hwm = {int(r._partition): int(r.mx) + 1 for r in hwm_rows}
    n_parts = n_partitions or (max(hwm) + 1 if hwm else 1)
    w = TopicWriter(spark, dest_root, topic, n_partitions=n_parts)
    (
        df.repartition("_partition")
        .sortWithinPartitions("_partition", "_offset")
        .write.mode("append")
        .partitionBy("_partition")
        .parquet(w.path)
    )
    w._save_hwm(hwm)
    return hwm
