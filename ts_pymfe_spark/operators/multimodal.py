"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via Arrow-batched mapInPandas.

Engine addition (task brief): at 100 TB the media pipeline is
schema + partitioning + batch shape — the Spark side — plus a decode
kernel that is a library call per batch.  The image/audio libraries are
not in this container, so the decode step is STUBBED behind
``NotImplementedError`` with a deterministic fake for tests; everything
around it (schemas, batch iteration, partition sizing, output contract)
is real and tested.

Scale notes:
  - media rows are large: ``repartition_for_media`` targets
    ~``batch_mb`` of payload per Arrow batch so a decode UDF never
    materializes more than a bounded byte volume;
  - metadata travels in fixed typed columns (no per-row JSON parsing in
    the hot path);
  - decode outputs are fixed-size feature vectors — downstream joins
    aggregate on ids, never on blobs.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), False),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, feature array<float>"
)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table for tests: VALID payloads for the
    natively-decodable containers (images = 24-bit BMP, audio =
    RIFF/WAVE PCM16) so the decode -> feature path is exercised for
    real; video stays an opaque seeded blob (compressed container,
    decode legitimately stubbed)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = int(rng.integers(4, 24)), int(rng.integers(4, 24))
            payload = encode_bmp(
                rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            )
        elif kind == "audio":
            sr = 8000
            dur = int(rng.integers(100, 2000))
            t = np.arange(int(sr * dur / 1000.0)) / sr
            f0 = float(rng.uniform(100, 1000))
            payload = encode_wav(
                0.5 * np.sin(2 * np.pi * f0 * t)
                + 0.1 * rng.standard_normal(t.size),
                sr,
            )
        else:
            # Alternate REAL YUV4MPEG2 clips (decode/frame-sample path
            # exercised for real) with opaque mp4-mimed blobs (the
            # compressed-container containment path).
            if (i // 3) % 2 == 0:
                w, h = 2 * int(rng.integers(2, 12)), 2 * int(rng.integers(2, 12))
                nf = int(rng.integers(3, 12))
                fps = (25, 1)
                payload = encode_y4m(
                    rng.integers(0, 256, (nf, h, w, 3), dtype=np.uint8),
                    fps,
                )
                dur = int(nf * 1000 * fps[1] / fps[0])
                mime = "video/x-yuv4mpeg"
            else:
                size = int(rng.integers(256, 4096))
                payload = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
                w = h = None
                dur = int(rng.integers(100, 60000))
                mime = "video/mp4"
        if kind != "video":
            mime = {"image": "image/bmp", "audio": "audio/wav"}[kind]
        rows.append(
            (
                i,
                kind,
                mime,
                w if kind != "audio" else None,
                h if kind != "audio" else None,
                dur if kind != "image" else None,
                bytearray(payload),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Pure-numpy codecs for uncompressed containers (no PIL/libsndfile needed)
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer: PCM16 mono.  (Public format spec —
    the standard 44-byte canonical header.)"""
    import struct

    pcm = np.clip(np.asarray(samples, dtype=float), -1.0, 1.0)
    data = (pcm * 32767.0).astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM16 reader (chunk-walking, mono or first channel).
    Returns (float samples in [-1, 1], sample_rate)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(payload)
    sample_rate, channels, bits = None, 1, 16
    data = None
    while pos + 8 <= n:
        cid, csz = payload[pos:pos + 4], struct.unpack(
            "<I", payload[pos + 4:pos + 8]
        )[0]
        body = payload[pos + 8: pos + 8 + csz]
        if cid == b"fmt ":
            fmt, channels, sample_rate, _, _, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if fmt != 1 or bits != 16:
                raise NotImplementedError(
                    "only PCM16 is decoded without audio libraries"
                )
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)  # chunks are word-aligned
    if data is None or sample_rate is None:
        raise ValueError("WAVE missing fmt/data chunk")
    pcm = np.frombuffer(data, dtype="<i2")
    if channels > 1:
        pcm = pcm[::channels]
    return pcm.astype(np.float64) / 32767.0, sample_rate


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal BMP writer: 24-bit uncompressed BITMAPINFOHEADER,
    bottom-up rows with 4-byte padding.  ``pixels``: HxWx3 uint8 RGB."""
    import struct

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.stack([px] * 3, axis=-1)
    h, w, _ = px.shape
    row_len = (w * 3 + 3) & ~3
    pad = row_len - w * 3
    body = bytearray()
    for row in px[::-1]:          # bottom-up
        body += row[:, ::-1].tobytes()  # BGR order
        body += b"\x00" * pad
    off = 14 + 40
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return hdr + info + bytes(body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP reader -> HxWx3 uint8 RGB."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack("<I", payload[10:14])[0]
    hsz, w, h, _, bits, comp = struct.unpack("<IiiHHI", payload[14:34])
    if bits != 24 or comp != 0:
        raise NotImplementedError(
            "only 24-bit uncompressed BMP is decoded without PIL"
        )
    row_len = (w * 3 + 3) & ~3
    flip = h > 0
    h = abs(h)
    rows = []
    for r in range(h):
        start = off + r * row_len
        row = np.frombuffer(payload[start:start + w * 3], dtype=np.uint8)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR -> RGB
    img = np.stack(rows)
    return img[::-1] if flip else img


def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """Minimal YUV4MPEG2 (.y4m) writer — the standard uncompressed
    video interchange container (plain-text stream header, ``FRAME``
    markers, raw planar YUV; public format, used by ffmpeg/mjpegtools).

    ``frames``: (n, h, w, 3) uint8 YUV444; written as C420jpeg with a
    2x2 box-filter chroma subsample (h, w must be even)."""
    fr = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = fr.shape
    if h % 2 or w % 2:
        raise ValueError("C420 needs even frame dimensions")
    out = bytearray(
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n"
        .encode()
    )
    for f in fr:
        out += b"FRAME\n"
        out += f[:, :, 0].tobytes()
        for c in (1, 2):
            plane = f[:, :, c].astype(np.uint16)
            sub = (
                plane[0::2, 0::2] + plane[0::2, 1::2]
                + plane[1::2, 0::2] + plane[1::2, 1::2] + 2
            ) // 4
            out += sub.astype(np.uint8).tobytes()
    return bytes(out)


def decode_y4m(payload: bytes) -> tuple[dict, list[tuple[np.ndarray, ...]]]:
    """YUV4MPEG2 reader for C420*/C444 streams -> (meta, frames).

    meta: {width, height, fps_num, fps_den, colorspace, n_frames};
    frames: list of (y, u, v) uint8 planes (u/v at subsampled size for
    C420).  Compressed video containers (mp4/webm…) need external
    libraries and raise NotImplementedError upstream (decode stays
    stubbed for them — this path is the REAL one for raw video)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = None
    num, den, cs = 25, 1, "C420jpeg"
    for tok in payload[:nl].decode("ascii", "replace").split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            num, den = (int(x) for x in tok[1:].split(":"))
        elif tok[0] == "C":
            cs = tok
    if w is None or h is None:
        raise ValueError("y4m header missing W/H")
    if cs.startswith("C420"):
        usz = (h // 2, w // 2)
    elif cs.startswith("C444"):
        usz = (h, w)
    else:
        raise NotImplementedError(f"y4m colorspace {cs} not supported")
    fsz = h * w + 2 * usz[0] * usz[1]
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        pos = fnl + 1
        raw = np.frombuffer(payload[pos:pos + fsz], dtype=np.uint8)
        if raw.size != fsz:
            raise ValueError("truncated y4m frame")
        y = raw[: h * w].reshape(h, w)
        u = raw[h * w: h * w + usz[0] * usz[1]].reshape(usz)
        v = raw[h * w + usz[0] * usz[1]:].reshape(usz)
        frames.append((y, u, v))
        pos += fsz
    return (
        {"width": w, "height": h, "fps_num": num, "fps_den": den,
         "colorspace": cs, "n_frames": len(frames)},
        frames,
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Image decode: real path for uncompressed BMP (pure numpy, above);
    compressed formats (PNG/JPEG) require PIL/opencv which are not in
    this container — those stay stubbed."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "compressed image decode (PNG/JPEG) requires PIL/opencv (not "
        "available in this environment); BMP decodes natively, or use "
        "fake_decode for tests"
    )


def media_features(payload: bytes) -> np.ndarray:
    """Real decode -> feature path for natively-decodable containers:

      WAV  -> [rms, zero-cross rate, peak, duration_s] + 12-bin
              amplitude histogram (16 floats)
      BMP  -> [mean R, G, B, contrast (std of luma)] + 12-bin luma
              histogram (16 floats)

    Raises NotImplementedError for compressed formats (stub retained)."""
    if payload[:4] == b"RIFF":
        x, sr = decode_wav(payload)
        if x.size == 0:
            return np.zeros(16, dtype=np.float32)
        rms = float(np.sqrt(np.mean(x * x)))
        zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
        peak = float(np.max(np.abs(x)))
        dur = x.size / sr
        hist, _ = np.histogram(x, bins=12, range=(-1.0, 1.0))
        hist = hist / x.size
        return np.concatenate([[rms, zcr, peak, dur], hist]).astype(np.float32)
    if payload[:2] == b"BM":
        img = decode_bmp(payload).astype(np.float64)
        means = img.reshape(-1, 3).mean(axis=0) / 255.0
        luma = img @ np.array([0.299, 0.587, 0.114])
        contrast = float(luma.std() / 255.0)
        hist, _ = np.histogram(luma, bins=12, range=(0.0, 255.0))
        hist = hist / luma.size
        return np.concatenate(
            [means, [contrast], hist]
        ).astype(np.float32)
    if payload[:9] == b"YUV4MPEG2":
        meta, frames = decode_y4m(payload)
        ys = np.stack([f[0] for f in frames]).astype(np.float64)
        y_mean = float(ys.mean()) / 255.0
        y_std = float(ys.std()) / 255.0
        motion = (
            float(np.abs(np.diff(ys, axis=0)).mean()) / 255.0
            if len(frames) > 1 else 0.0
        )
        dur = len(frames) * meta["fps_den"] / meta["fps_num"]
        hist, _ = np.histogram(ys, bins=12, range=(0.0, 255.0))
        hist = hist / ys.size
        return np.concatenate(
            [[y_mean, y_std, motion, dur], hist]
        ).astype(np.float32)
    raise NotImplementedError(
        "compressed media decode requires external libraries; only "
        "RIFF/WAVE PCM16, 24-bit BMP and YUV4MPEG2 decode natively"
    )


def fake_decode(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in: a dim-length float signature derived from
    payload bytes (byte-histogram projections).  Stable across workers."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr, minlength=256).astype(np.float64)
    hist /= max(1.0, hist.sum())
    return hist.reshape(dim, 256 // dim).sum(axis=1).astype(np.float32)


@contextmanager
def media_arrow_batch(spark, batch_mb: int = 64, avg_row_kb: int = 512):
    """Scoped Arrow-batch bound for large-payload media jobs.

    ``maxRecordsPerBatch`` is a SESSION-global conf; a media job with
    512 KB rows needs ~128-row batches, but leaving that set would
    silently shrink every later Arrow stage (series_features expects
    the session default, session.py:58 = 20000).  This context manager
    sets rows/batch = batch_mb·1024 // avg_row_kb for the duration of
    the media action and restores the prior value on exit — run the
    job's action (write/collect) INSIDE the block, since the conf is
    read at execution time, not plan time."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, str(max(1, (batch_mb * 1024) // avg_row_kb)))
    try:
        yield spark
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def repartition_for_media(df: DataFrame, batch_mb: int = 64,
                          avg_row_kb: int = 512,
                          est_rows: int | None = None) -> DataFrame:
    """Right-size partition count for large-payload rows — arithmetic
    only, no data pass (at 100 TB an extra ``df.count()`` just to size
    partitions is a full scan of a blob table; Iceberg snapshot /
    manifest row counts are free when the caller has them as
    ``est_rows``).  Otherwise the input partitioning is kept (scan
    tasks are already byte-bounded by files.maxPartitionBytes).

    Pair with ``media_arrow_batch`` around the job's ACTION to also
    bound the Arrow batch bytes — that conf is session-global, so it
    is scoped in a context manager rather than mutated here."""
    rows_per_batch = max(1, (batch_mb * 1024) // avg_row_kb)
    if est_rows is not None:
        return df.repartition(max(1, est_rows // rows_per_batch))
    return df


def extract_media_features(df: DataFrame,
                           decode: Callable[[bytes], np.ndarray] | None = None,
                           ) -> DataFrame:
    """mapInPandas decode/feature-extract: (media table) ->
    (media_id, kind, n_bytes, feature vector).  Narrow — no shuffle.

    Default decoder is ``media_features`` (REAL pure-numpy decode for
    RIFF/WAVE PCM16 and 24-bit BMP); rows whose container needs an
    external library (video/mp4 etc.) get feature=NULL via the
    NotImplementedError containment below."""
    if decode is None:
        decode = media_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                try:
                    feats.append(decode(bytes(payload)).tolist())
                except NotImplementedError:
                    feats.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": feats,
                }
            )

    return df.mapInPandas(run, FEATURE_SCHEMA)


FRAME_SCHEMA = (
    "media_id long, frame_idx int, frame_ts_ms double, "
    "y_mean float, y_std float, u_mean float, v_mean float, motion float"
)


def sample_video_frames(df: DataFrame, every_n: int = 5) -> DataFrame:
    """REAL video frame sampling: decode YUV4MPEG2 payloads and emit
    one row per k-th frame with per-frame plane statistics and motion
    energy (mean |Δ luma| vs the previous *sampled* frame; 0 for the
    first).  Compressed containers (mp4/webm) raise inside the worker
    and contribute zero rows — the NotImplementedError containment
    pattern shared with ``extract_media_features``.

    Scale shape: narrow mapInPandas (no shuffle); payload bytes bound
    the Arrow batch via ``repartition_for_media``; outputs are slim
    fixed-width rows so downstream per-video aggregation shuffles
    O(sampled frames), never blobs."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "media_id", "frame_idx", "frame_ts_ms", "y_mean",
                    "y_std", "u_mean", "v_mean", "motion",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    meta, frames = decode_y4m(bytes(payload))
                except (NotImplementedError, ValueError):
                    continue
                ms_per_frame = 1000.0 * meta["fps_den"] / meta["fps_num"]
                prev_y = None
                for idx in range(0, len(frames), every_n):
                    y, u, v = frames[idx]
                    yf = y.astype(np.float64)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_ts_ms"].append(idx * ms_per_frame)
                    out["y_mean"].append(yf.mean() / 255.0)
                    out["y_std"].append(yf.std() / 255.0)
                    out["u_mean"].append(float(u.mean()) / 255.0)
                    out["v_mean"].append(float(v.mean()) / 255.0)
                    out["motion"].append(
                        0.0 if prev_y is None
                        else float(np.abs(yf - prev_y).mean()) / 255.0
                    )
                    prev_y = yf
            yield pd.DataFrame(out)

    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", "payload")
        .mapInPandas(run, FRAME_SCHEMA)
    )
