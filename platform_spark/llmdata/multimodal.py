"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Spark-side plumbing is real (schemas, partition-friendly layouts, Arrow
batch shapes, deterministic feature extraction), and `real_decode` now
carries REAL stdlib raster codecs: PNG (8-bit gray/RGB/palette/alpha,
all five filter reconstructions, zlib inflate), binary PPM/PGM, and
24-bit BMP — no external package needed. Genuinely library-bound codecs
(JPEG, video, audio) still raise NotImplementedError behind the same
`decoder=` hook, with `fake_decode` as the deterministic stand-in for
plumbing tests; swap in a PIL/ffmpeg-backed callable on a cluster and
every signature and batch shape stays the same.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal column family: the payload plus typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)


def fake_decode(content: bytes) -> dict:
    """Deterministic stand-in for a real image decode: derives pseudo pixel
    stats from the content hash. Replace with real_decode (PNG/PPM/BMP) or
    PIL/torchvision on a real cluster — the UDF plumbing does not change."""
    h = hashlib.sha256(content or b"").digest()
    w = 16 + h[0] % 64
    ht = 16 + h[1] % 64
    mean = sum(h) / len(h) / 255.0
    return {
        "width": w,
        "height": ht,
        "mean_intensity": round(mean, 6),
        "n_channels": 1 + h[2] % 4,
        "pixel_sum": int.from_bytes(h[3:7], "big"),
    }


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """8-bit non-interlaced PNG → (width, height, channels, raw pixels).
    Full filter reconstruction (None/Sub/Up/Average/Paeth, PNG spec §9)
    and palette expansion; pure zlib + integer math."""
    pos = 8
    ihdr = b""
    plte = b""
    idat = b""
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + payload + crc
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"PLTE":
            plte = chunk
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG bit depth {depth} / interlace {interlace} not supported "
            "(8-bit non-interlaced only)"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = w * nch
    # vectorized unfilter (r15, guide §4.2): None is a copy, Sub is a
    # per-channel cumulative sum mod 256, Up adds the previous
    # reconstructed row elementwise — all whole-row numpy in the same
    # integer arithmetic as the byte loops. Average and Paeth recurse on
    # the CURRENT row's reconstructed left neighbor, so those rows keep
    # the sequential scan (2 of 5 rows from our own writer's f = y % 5).
    out = bytearray()
    prev_arr = np.zeros(stride, dtype=np.uint8)
    p = 0
    for _ in range(h):
        f = raw[p]
        p += 1
        seg = raw[p : p + stride]
        p += stride
        if f == 0:
            rec = np.frombuffer(seg, dtype=np.uint8)
        elif f == 1:  # Sub: rec[x,c] = sum(raw[0..x, c]) mod 256
            c = np.cumsum(
                np.frombuffer(seg, dtype=np.uint8).reshape(-1, max(nch, 1)),
                axis=0,
                dtype=np.int64,
            )
            rec = (c & 0xFF).astype(np.uint8).reshape(-1)
        elif f == 2:  # Up (uint8 addition wraps mod 256)
            rec = np.frombuffer(seg, dtype=np.uint8) + prev_arr
        elif f in (3, 4):  # Average / Paeth: left-recursive scan
            row = bytearray(seg)
            prev = prev_arr.tobytes()
            if f == 3:
                for i in range(stride):
                    left = row[i - nch] if i >= nch else 0
                    row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    left = row[i - nch] if i >= nch else 0
                    ul = prev[i - nch] if i >= nch else 0
                    row[i] = (row[i] + _paeth(left, prev[i], ul)) & 0xFF
            rec = np.frombuffer(bytes(row), dtype=np.uint8)
        else:
            raise ValueError(f"bad PNG filter byte {f}")
        out += rec.tobytes()
        prev_arr = rec
    if ctype == 3:  # palette -> RGB (vectorized gather)
        idxs = np.frombuffer(bytes(out), dtype=np.uint8)
        pal = np.frombuffer(plte, dtype=np.uint8)
        out = pal[
            (idxs[:, None].astype(np.int64) * 3 + np.arange(3)).reshape(-1)
        ].tobytes()
        nch = 3
        return w, h, nch, out
    return w, h, nch, bytes(out)


def _decode_bmp(data: bytes) -> tuple[int, int, int, bytes]:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) → RGB pixels; handles
    bottom-up and top-down rasters and 4-byte row padding."""
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"BMP {bpp}bpp/compression={compression} not supported "
            "(24-bit BI_RGB only)"
        )
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    # vectorized (r15, guide §4.2): one reshape + row flip + BGR→RGB
    # channel reversal instead of per-pixel byte copies
    body = np.frombuffer(data, dtype=np.uint8, count=h * stride, offset=off)
    rows = body.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return w, h, 3, rows[:, :, ::-1].tobytes()


def _decode_pnm(data: bytes) -> tuple[int, int, int, bytes]:
    """Binary PPM (P6, RGB) / PGM (P5, gray), maxval 255; comment-aware
    header parse."""
    nch = 3 if data[:2] == b"P6" else 1
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment runs to end of line
            while data[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(data[start:pos]))
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("PNM maxval != 255 not supported")
    return w, h, nch, bytes(data[pos : pos + w * h * nch])


def real_decode(content: bytes) -> dict:
    """Real stdlib decode for PNG / binary PNM / 24-bit BMP: width, height,
    channel count, mean intensity (mean channel byte / 255, 6 dp) and the
    exact pixel-byte sum (integer checksum, the engine-portable oracle
    target). Library-bound codecs (JPEG SOI, anything unrecognized) raise
    NotImplementedError — pass a PIL/ffmpeg-backed callable for those."""
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, nch, px = _decode_png(content)
    elif content[:2] in (b"P5", b"P6"):
        w, h, nch, px = _decode_pnm(content)
    elif content[:2] == b"BM":
        w, h, nch, px = _decode_bmp(content)
    else:
        raise NotImplementedError(
            "unrecognized media magic (stdlib decoders cover PNG/PNM/BMP; "
            "JPEG/video/audio need external libraries — pass a PIL/ffmpeg-"
            "backed decoder callable)"
        )
    total = int(np.frombuffer(px, dtype=np.uint8).astype(np.int64).sum())
    n = w * h * nch
    return {
        "width": w,
        "height": h,
        "n_channels": nch,
        "mean_intensity": round(total / n / 255.0, 6) if n else 0.0,
        "pixel_sum": total,
    }


DECODE_SCHEMA = (
    "media_id bigint, width int, height int, mean_intensity double, "
    "n_channels int, pixel_sum bigint"
)


def decode_media(
    df: DataFrame,
    decoder: Callable[[bytes], dict] = real_decode,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Decode/inspect media payloads via Arrow-batched mapInPandas (the
    shape a real pipeline needs: bytes in, typed columns out, executed
    batch-wise on executors)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                d = decoder(bytes(content) if content is not None else b"")
                rows.append(
                    (
                        int(mid),
                        d.get("width"),
                        d.get("height"),
                        d.get("mean_intensity"),
                        d.get("n_channels"),
                        d.get("pixel_sum"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "width", "height", "mean_intensity",
                    "n_channels", "pixel_sum",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(run, DECODE_SCHEMA)


# -- minimal raster writers (synthetic fixtures / gate input) ---------------


def synth_pixels(media_id: int, width: int, height: int) -> bytes:
    """Deterministic RGB gradient raster: channel value (x*7 + y*11 +
    c*13 + media_id) % 256 — closed-form, so a SQL oracle can predict the
    decode output exactly."""
    # vectorized (r15): identical closed form via int64 broadcasting
    y = np.arange(height, dtype=np.int64)[:, None, None]
    x = np.arange(width, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    return ((x * 7 + y * 11 + c * 13 + media_id) % 256).astype(
        np.uint8
    ).tobytes()


def encode_png(width: int, height: int, pixels_rgb: bytes) -> bytes:
    """Minimal 8-bit RGB PNG writer. Deliberately cycles the filter type
    per row (row % 5) so decoding its output exercises every PNG filter
    reconstruction path (None/Sub/Up/Average/Paeth)."""
    import binascii

    nch = 3
    stride = width * nch
    # vectorized filter pass (r15, guide §4.2): every filter references
    # only the RAW previous row / left neighbor (the encoder's `prev`
    # was the unfiltered source row), so all five filtered variants are
    # whole-image numpy expressions in the same mod-256 integer
    # arithmetic as the byte loops; each row then selects its y % 5
    # variant and gains its filter-type byte.
    pix = np.frombuffer(
        pixels_rgb, dtype=np.uint8, count=height * stride
    ).reshape(height, stride).astype(np.int16)
    left = np.zeros_like(pix)
    left[:, nch:] = pix[:, : stride - nch]
    up = np.zeros_like(pix)
    up[1:] = pix[:-1]
    ul = np.zeros_like(pix)
    ul[1:, nch:] = pix[:-1, : stride - nch]
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    paeth = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
    variants = np.stack(
        [
            pix,
            (pix - left) & 0xFF,
            (pix - up) & 0xFF,
            (pix - ((left + up) >> 1)) & 0xFF,
            (pix - paeth) & 0xFF,
        ]
    ).astype(np.uint8)
    fsel = np.arange(height) % 5
    body = np.empty((height, 1 + stride), dtype=np.uint8)
    body[:, 0] = fsel
    body[:, 1:] = variants[fsel, np.arange(height)]
    raw = body.tobytes()

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", binascii.crc32(typ + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def encode_ppm(width: int, height: int, pixels_rgb: bytes) -> bytes:
    return b"P6\n%d %d\n255\n" % (width, height) + pixels_rgb


def encode_bmp(width: int, height: int, pixels_rgb: bytes) -> bytes:
    """Minimal bottom-up 24-bit BI_RGB BMP writer (4-byte row padding)."""
    stride = (width * 3 + 3) & ~3
    # vectorized (r15): bottom-up row flip + RGB→BGR channel reversal +
    # zero row padding as one numpy layout pass
    pix = np.frombuffer(
        pixels_rgb, dtype=np.uint8, count=height * width * 3
    ).reshape(height, width, 3)
    out = np.zeros((height, stride), dtype=np.uint8)
    out[:, : width * 3] = pix[::-1, :, ::-1].reshape(height, width * 3)
    raster = out.tobytes()
    off = 14 + 40
    size = off + len(raster)
    file_header = b"BM" + struct.pack("<IHHI", size, 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return file_header + info + bytes(raster)


def content_features(
    df: DataFrame, content_col: str = "content", dim: int = 16
) -> DataFrame:
    """Deterministic binary-content feature vector (hash-projection sketch):
    a stand-in embedding that exercises the real downstream plumbing
    (ANN joins, dedup) without codec dependencies. Pure built-ins."""
    h = F.sha2(F.col(content_col), 256)
    feats = F.array(
        *[
            (
                F.conv(F.substring(h, 1 + 4 * i, 4), 16, 10).cast("double")
                / F.lit(65535.0)
            )
            for i in range(dim)
        ]
    )
    return df.withColumn("features", feats)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int = 1000,
    duration_col: str = "duration_ms",
    id_col: str = "media_id",
) -> DataFrame:
    """Frame-sampling plan for video rows: one row per (media_id, frame_ts)
    at a fixed cadence — the explode the decode stage consumes. Built-ins
    only; the actual frame extraction belongs in decode_media's decoder."""
    n = (F.col(duration_col) / every_ms).cast("int")
    return df.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))),
                lambda i: (i * every_ms).cast("bigint"),
            )
        ).alias("frame_ts_ms"),
    )


def _decode_raster(content: bytes) -> tuple[int, int, int, bytes]:
    """Magic-dispatch to the stdlib raster decoders (PNG/PNM/BMP)."""
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(content)
    if content[:2] in (b"P5", b"P6"):
        return _decode_pnm(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    raise NotImplementedError(
        "unrecognized media magic (stdlib decoders cover PNG/PNM/BMP; "
        "JPEG/video need external libraries — pass a PIL-backed callable)"
    )


def dhash_bits(
    w: int, h: int, nch: int, px: bytes, hash_w: int = 8, hash_h: int = 7
) -> int:
    """Difference hash of a decoded raster: integer-mean grayscale,
    nearest-neighbor sample onto a (hash_w+1)×hash_h grid (the same
    ``src = dst * src_dim // dst_dim`` convention as real_resize), one bit
    per adjacent-column comparison (right > left). hash_w*hash_h ≤ 56 bits
    so the value stays a positive BIGINT in every engine (bit 63 would
    wrap differently under DuckDB's HUGEINT-promoting SUM)."""
    # vectorized (r15, guide §4.2): same nearest-neighbor sample indices,
    # same integer-mean grayscale (sum // nch), same right > left bit
    # positions — whole-grid numpy instead of per-cell byte loops
    a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    if a.size == 0:  # empty raster: the loop form summed empty slices → 0
        return 0
    sy = np.arange(hash_h, dtype=np.int64) * h // hash_h
    sx = np.arange(hash_w + 1, dtype=np.int64) * w // (hash_w + 1)
    base = (sy[:, None] * w + sx[None, :]) * nch
    idx = base[:, :, None] + np.arange(nch, dtype=np.int64)
    grid = a[idx].sum(axis=-1) // nch
    bits = (grid[:, 1:] > grid[:, :-1]).astype(np.int64)
    pos = (
        np.arange(hash_h, dtype=np.int64)[:, None] * hash_w
        + np.arange(hash_w, dtype=np.int64)[None, :]
    )
    return int((bits << pos).sum())


def dhash_media(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    hash_w: int = 8,
    hash_h: int = 7,
) -> DataFrame:
    """Perceptual fingerprints for an image corpus: (media_id, dhash).
    Arrow-batched mapInPandas over the stdlib raster decoders — the image
    twin of simhash_table. Near-identical images (recompressions, small
    edits, container changes) land within a few Hamming bits."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                w, h, nch, px = _decode_raster(
                    bytes(content) if content is not None else b""
                )
                rows.append((int(mid), dhash_bits(w, h, nch, px, hash_w, hash_h)))
            yield pd.DataFrame(rows, columns=["media_id", "dhash"])

    return df.select(id_col, content_col).mapInPandas(
        run, "media_id bigint, dhash bigint"
    )


def dhash_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 56,
    id_col: str = "media_id",
    fp_col: str = "dhash",
) -> DataFrame:
    """Image near-dup pairs from perceptual fingerprints: banded-Hamming
    candidate join + exact popcount verify — the same no-quadratic-scan
    shape as the SimHash text family. Pigeonhole guarantee: with
    ``max_hamming < bands`` every qualifying pair shares at least one
    untouched band, so recall is exact; at larger distances keep
    ``bands > max_hamming`` (more, narrower bands) to preserve it.
    Output (media_a, media_b, hamming), a < b."""
    from platform_spark.llmdata.dedup import _chunk_candidates, _within_hamming

    cand = _chunk_candidates(
        fps, id_col, fp_col, bits // bands, bands, "media_a", "media_b",
        carry=(fp_col,),
    )
    return _within_hamming(
        cand, f"{fp_col}_a", f"{fp_col}_b", max_hamming
    ).select("media_a", "media_b", "hamming")


def audio_energy_bits(samples: list[int], frames: int = 57) -> int:
    """Energy-difference fingerprint of a PCM sample stream: samples bin
    into `frames` balanced frames (sample i → frame i*frames//n), one bit
    per adjacent-frame mean-|amplitude| comparison. Means compare as
    cross-multiplied integer sums — exact arithmetic, no division, so any
    engine agrees bit-for-bit. frames-1 ≤ 56 bits keeps the value a
    positive BIGINT everywhere (same rationale as dhash_bits)."""
    n = len(samples)
    if n == 0:
        return 0
    # vectorized (r15): identical integer arithmetic in int64 (bin index
    # i*frames//n, |amplitude| sums via np.add.at, cross-multiplied mean
    # compare) — ~10x less Python-worker time per stream (guide §4)
    s = np.abs(np.asarray(samples, dtype=np.int64))
    f = np.arange(n, dtype=np.int64) * frames // n
    sums = np.zeros(frames, dtype=np.int64)
    np.add.at(sums, f, s)
    cnts = np.bincount(f, minlength=frames).astype(np.int64)
    a, b = sums[:-1], sums[1:]
    ca, cb = cnts[:-1], cnts[1:]
    bits = ((ca > 0) & (cb > 0) & (b * ca > a * cb)).astype(np.int64)
    return int((bits << np.arange(frames - 1, dtype=np.int64)).sum())


def audio_fingerprints(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    frames: int = 57,
) -> DataFrame:
    """Perceptual fingerprints for a PCM-WAV corpus: (media_id, afp) —
    the audio twin of dhash_media (Arrow-batched stdlib decode, channels
    averaged per frame index). Feed into `dhash_pairs(fps,
    fp_col="afp")` for banded-Hamming near-dup pairs."""
    import io
    import struct as _struct
    import wave

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                with wave.open(io.BytesIO(bytes(content))) as w:
                    nch = w.getnchannels()
                    raw = w.readframes(w.getnframes())
                if len(raw) % 2:
                    raise _struct.error("unpack requires a multiple of 2")
                vals = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                if nch > 1:  # mean across channels per frame index
                    vals = vals.reshape(-1, nch).sum(axis=1) // nch
                rows.append((int(mid), audio_energy_bits(vals, frames)))
            yield pd.DataFrame(rows, columns=["media_id", "afp"])

    return df.select(id_col, content_col).mapInPandas(
        run, "media_id bigint, afp bigint"
    )


def dhash_rep_pairs(
    fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 56,
    id_col: str = "media_id",
    fp_col: str = "dhash",
) -> DataFrame:
    """Fingerprint-collapsed near-dup graph — the rep-level twin of
    `dhash_pairs`, same recipe as the text rep-pair family: collapse
    identical fingerprints FIRST (they are the distance-0 mass, and the
    candidate join pays quadratically for every identical-chunk group),
    band only DISTINCT fingerprints, and carry copy counts. A self row
    (rep_a == rep_b, hamming 0) marks a fingerprint with ≥2 carriers.
    Output rows are ~linear in distinct fingerprints; expand through the
    membership only when the doc-level list is truly needed.

    Returns (rep_a, rep_b, hamming, n_copies_a, n_copies_b) where reps
    are the min id per fingerprint value."""
    from pyspark.sql import functions as F

    from platform_spark.llmdata.dedup import (
        _chunk_candidates,
        _reps,
        _self_rows,
        _within_hamming,
    )

    groups = _reps(fps, F.col(fp_col).alias("fp"), id_col)
    cross = _within_hamming(
        _chunk_candidates(
            groups, "rep_id", "fp", bits // bands, bands, "rep_a", "rep_b",
            carry=("fp", "n_copies"),
        ),
        "fp_a", "fp_b", max_hamming,
    )
    selfs = _self_rows(groups, "rep_id", F.lit(0).alias("hamming"))
    return cross.select(
        "rep_a", "rep_b", "hamming", "n_copies_a", "n_copies_b"
    ).unionByName(selfs)


def dhash_membership(
    fps: DataFrame, id_col: str = "media_id", fp_col: str = "dhash"
) -> DataFrame:
    """(media_id → rep_id) map for identical fingerprints — the expansion
    side of dhash_rep_pairs (compose with dedup.expand_pairs, a_col="rep_a",
    b_col="rep_b", to recover the doc-level pair list lazily)."""
    from pyspark.sql import functions as F

    from platform_spark.llmdata.dedup import _collapse

    return _collapse(fps, F.col(fp_col), id_col)


def fake_resize(content: bytes, width: int, height: int) -> dict:
    """Deterministic stand-in for a real resize: derives a pseudo payload
    (content hash + target dims) so tests can assert batch shape and
    determinism. Swap for PIL `Image.resize` on a real cluster."""
    h = hashlib.sha256(
        (content or b"") + struct.pack(">II", width, height)
    ).digest()
    return {"content": h, "width": width, "height": height}


def real_resize(content: bytes, width: int, height: int) -> dict:
    """Real stdlib resize for the stdlib-decodable rasters (PNG/PNM/BMP):
    nearest-neighbor resample of the decoded pixels, re-encoded as binary
    PPM (P6) — the cheapest fully-deterministic raster container, so
    downstream decode_media can re-read the output. Lib-bound codecs
    (JPEG/video frames) still raise NotImplementedError — pass a
    PIL-backed callable for those."""
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        sw, sh, nch, px = _decode_png(content)
    elif content[:2] in (b"P5", b"P6"):
        sw, sh, nch, px = _decode_pnm(content)
    elif content[:2] == b"BM":
        sw, sh, nch, px = _decode_bmp(content)
    else:
        raise NotImplementedError(
            "unrecognized media magic (stdlib resize covers PNG/PNM/BMP; "
            "JPEG/video need external libraries — pass a PIL-backed callable)"
        )
    # vectorized (r15, guide §4.2): identical src = dst * src_dim //
    # dst_dim sample indices via fancy indexing; grayscale replicates
    # into RGB exactly as the per-pixel loop did
    a = np.frombuffer(px, dtype=np.uint8).reshape(sh, sw, nch)
    if a.size == 0:  # empty raster: the loop form emitted no bytes
        return {"content": encode_ppm(width, height, b""),
                "width": width, "height": height}
    sy = np.arange(height, dtype=np.int64) * sh // height
    sx = np.arange(width, dtype=np.int64) * sw // width
    sampled = a[sy][:, sx]
    if nch == 1:
        sampled = np.repeat(sampled, 3, axis=2)
    return {"content": encode_ppm(width, height, sampled.tobytes()),
            "width": width, "height": height}


RESIZE_SCHEMA = "media_id bigint, content binary, width int, height int"


def resize_media(
    df: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], dict] = real_resize,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Resize media payloads via Arrow-batched mapInPandas — same
    executor-side batch shape as decode_media: bytes in, (bytes, dims)
    out, no driver round-trip, scan-parallel at any corpus size."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                d = resizer(
                    bytes(content) if content is not None else b"", width, height
                )
                rows.append(
                    (int(mid), d["content"], d["width"], d["height"])
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "content", "width", "height"]
            )

    return df.select(id_col, content_col).mapInPandas(run, RESIZE_SCHEMA)


# -- audio: real stdlib WAV/PCM codec ---------------------------------------


def encode_wav(samples: list[int], sample_rate: int = 8000, channels: int = 1) -> bytes:
    """Minimal PCM16 RIFF/WAVE writer (synthetic fixtures / gate input)."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.size and (arr.min() < -32768 or arr.max() > 32767):
        raise struct.error("short format requires -32768 <= number <= 32767")
    data = arr.astype("<i2").tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def real_audio_decode(content: bytes) -> dict:
    """Real stdlib audio decode (wave module) for PCM WAV: channels, sample
    rate, frame count, integer duration (ms, floored), the exact
    absolute-amplitude sum and the peak — integer checksums a SQL oracle
    can predict closed-form. Compressed audio (MP3/OGG/…) raises
    NotImplementedError — pass an ffmpeg-backed callable for those."""
    import io
    import wave

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            "unrecognized audio magic (stdlib codec covers PCM WAV; "
            "MP3/OGG/video audio tracks need external libraries)"
        )
    with wave.open(io.BytesIO(content)) as w:
        channels = w.getnchannels()
        rate = w.getframerate()
        width = w.getsampwidth()
        n = w.getnframes()
        raw = w.readframes(n)
    if width != 2:
        raise NotImplementedError("only PCM16 WAV is stdlib-decodable here")
    # vectorized (r15): |v| in int64 (abs on raw int16 would wrap -32768),
    # exact integer sum/peak — same values as the per-sample loop; keep
    # the struct.unpack length validation the loop form had
    if len(raw) != 2 * n * channels:
        raise struct.error(
            f"unpack requires a buffer of {2 * n * channels} bytes"
        )
    a = np.abs(np.frombuffer(raw, dtype="<i2").astype(np.int64))
    return {
        "n_channels": channels,
        "sample_rate": rate,
        "n_frames": n,
        "duration_ms": n * 1000 // rate,
        "amp_sum": int(a.sum()),
        "peak": int(a.max()) if a.size else 0,
    }


AUDIO_SCHEMA = (
    "media_id bigint, n_channels int, sample_rate int, n_frames bigint, "
    "duration_ms bigint, amp_sum bigint, peak int"
)


def decode_audio(
    df: DataFrame,
    decoder: Callable[[bytes], dict] = real_audio_decode,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Audio twin of decode_media: Arrow-batched mapInPandas, bytes in,
    typed columns out, scan-parallel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                d = decoder(bytes(content) if content is not None else b"")
                rows.append(
                    (
                        int(mid),
                        d.get("n_channels"),
                        d.get("sample_rate"),
                        d.get("n_frames"),
                        d.get("duration_ms"),
                        d.get("amp_sum"),
                        d.get("peak"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_channels", "sample_rate", "n_frames",
                    "duration_ms", "amp_sum", "peak",
                ],
            )

    return df.select(id_col, content_col).mapInPandas(run, AUDIO_SCHEMA)


def synth_samples(media_id: int, n: int) -> list[int]:
    """Closed-form PCM16 samples: ((id*31 + i*7) % 4096) - 2048 — a SQL
    oracle predicts every decode output exactly."""
    i = np.arange(n, dtype=np.int64)
    return ((media_id * 31 + i * 7) % 4096 - 2048).tolist()
