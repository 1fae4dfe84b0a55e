"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The training-data-pipeline extension surface (BASELINE north star; not in the
reference, which is tabular-only — SURVEY.md §1.1). Design:

* Media travels as a ``binary`` column plus a typed ``meta`` struct — the
  lakehouse treats it like any other column (parquet stores binary natively;
  file stats/pruning apply to the metadata fields).
* Decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` operators: pixels never pass through the JVM row-at-a-time
  path, and each task processes a whole record batch with numpy.
* Codecs: **WAV** (stdlib ``wave``) and **PNG** (stdlib ``zlib`` + numpy
  unfiltering, all five scanline filters) decode for REAL — operators sniff
  the payload magic, so a corpus mixing real files with **FAKEMEDIA** (the
  deterministic synthetic format the oracle-checked queries use) flows
  through the same kernels. Formats needing external libraries (JPEG/MP4)
  remain the documented ``decode_external`` plug point; everything
  Spark-side (schemas, batch shapes, partitioning, UDF signatures) is real
  and tested either way.

Scale notes: media rows are wide (MBs each) — operators repartition by
``media_id`` so batches stay balanced, and ``spark.sql.files.maxPartitionBytes``
governs scan parallelism. Feature extraction is embarrassingly parallel; the
only shuffle in this module is the optional repartition.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ducktales_spark.session import shuffle_partitions

# meta is a typed struct so it stays queryable/prunable without decoding data
MEDIA_SCHEMA = (
    "media_id bigint, kind string, data binary, "
    "meta struct<width:int, height:int, channels:int, sample_rate:int, "
    "n_frames:int, format:string>"
)

_IMG_MAGIC = b"FIMG"
_AUD_MAGIC = b"FAUD"
_VID_MAGIC = b"FVID"


# --------------------------------------------------------------------------
# FAKEMEDIA codec (numpy; deterministic in media_id)
# --------------------------------------------------------------------------
def _pack_image(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    return _IMG_MAGIC + struct.pack("<III", w, h, c) + arr.astype(np.uint8).tobytes()


def _unpack_image(b: bytes) -> np.ndarray:
    if b[:4] != _IMG_MAGIC:
        raise ValueError("not a FIMG payload")
    w, h, c = struct.unpack("<III", b[4:16])
    return np.frombuffer(b, np.uint8, count=w * h * c, offset=16).reshape(h, w, c)


def _pack_audio(samples: np.ndarray, rate: int) -> bytes:
    return _AUD_MAGIC + struct.pack("<II", rate, len(samples)) + samples.astype(
        "<i2"
    ).tobytes()


def _unpack_audio(b: bytes):
    if b[:4] != _AUD_MAGIC:
        raise ValueError("not a FAUD payload")
    rate, n = struct.unpack("<II", b[4:12])
    return np.frombuffer(b, "<i2", count=n, offset=12), rate


def _pack_video(frames: np.ndarray) -> bytes:
    n, h, w, c = frames.shape
    return _VID_MAGIC + struct.pack("<IIII", n, w, h, c) + frames.astype(
        np.uint8
    ).tobytes()


def _unpack_video(b: bytes) -> np.ndarray:
    if b[:4] != _VID_MAGIC:
        raise ValueError("not a FVID payload")
    n, w, h, c = struct.unpack("<IIII", b[4:20])
    return np.frombuffer(b, np.uint8, count=n * w * h * c, offset=20).reshape(
        n, h, w, c
    )


# --------------------------------------------------------------------------
# real stdlib codecs: WAV (wave) and PNG (zlib + unfiltering). These keep the
# zero-external-deps posture while making the decode boundary codec-REAL for
# the formats the standard library can express; JPEG/MP4 remain the external
# plug point below.
# --------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """16-bit PCM WAV. ``samples``: (n,) mono or (n, channels) int16."""
    import io
    import wave

    s = np.asarray(samples, dtype="<i2")
    ch = 1 if s.ndim == 1 else s.shape[1]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(int(rate))
        w.writeframes(s.tobytes())
    return buf.getvalue()


def decode_wav(b: bytes):
    """WAV -> (int16 samples, rate): (n,) for mono, (n, channels) else.
    16-bit PCM only (the overwhelmingly common training-audio interchange)."""
    import io
    import wave

    with wave.open(io.BytesIO(b), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(
                f"only 16-bit PCM WAV supported (got {w.getsampwidth()*8}-bit)"
            )
        ch, n = w.getnchannels(), w.getnframes()
        s = np.frombuffer(w.readframes(n), "<i2")
    return (s if ch == 1 else s.reshape(-1, ch)), w.getframerate()


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer: 8-bit, no interlace; ``arr`` is (h, w) or
    (h, w, c) uint8 with c in {1, 2, 3, 4}. ``filter_type`` applies one of
    the five scanline filters to every row (0=None is the fast default;
    1-4 exist so tests can exercise every decode path)."""
    import zlib

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, c = a.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c  # bytes per pixel at bit depth 8

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rows = []
    prev = np.zeros((w * c,), dtype=np.int32)
    for y in range(h):
        cur = a[y].reshape(-1).astype(np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
        if filter_type == 0:
            out = cur
        elif filter_type == 1:  # Sub
            out = cur - left
        elif filter_type == 2:  # Up
            out = cur - prev
        elif filter_type == 3:  # Average
            out = cur - (left + prev) // 2
        elif filter_type == 4:  # Paeth
            out = cur - _paeth(left, prev, ul)
        else:
            raise ValueError(f"bad PNG filter {filter_type}")
        rows.append(bytes([filter_type]) + (out % 256).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a scanline (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def decode_png(b: bytes) -> np.ndarray:
    """PNG -> (h, w, c) uint8: 8-bit depth, color types 0/2/4/6, all five
    scanline filters, no interlace — the subset 8-bit training imagery
    actually uses. Pure stdlib (zlib) + numpy unfiltering; palette/16-bit/
    Adam7 inputs raise with a clear message."""
    import zlib

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, meta = 8, [], None
    while pos < len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or color not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, "
                    f"interlace={interlace}): 8-bit non-interlaced "
                    "gray/RGB/gray+A/RGBA only"
                )
            meta = (w, h, _PNG_CHANNELS[color])
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if meta is None:
        raise ValueError("PNG missing IHDR")
    w, h, c = meta
    raw = zlib.decompress(b"".join(idat))
    stride = w * c
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = c
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) % 256
        elif ft == 1:
            # Sub: rec[x] = raw[x] + rec[x-bpp] — a per-channel-lane prefix
            # sum, fully vectorized (int64 cumsum cannot overflow at any
            # realistic width; mod folds back to bytes)
            cur = (
                line.reshape(-1, bpp).astype(np.int64).cumsum(axis=0) % 256
            ).reshape(-1).astype(np.int32)
        else:
            # Average/Paeth need the reconstructed left pixel through a
            # divide/conditional — inherently sequential in x: walk the
            # row in bpp-wide steps, vectorized across channels
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(0, stride, bpp):
                left = cur[x - bpp : x] if x else np.zeros(bpp, np.int32)
                up = prev[x : x + bpp]
                ul = prev[x - bpp : x] if x else np.zeros(bpp, np.int32)
                seg = line[x : x + bpp]
                if ft == 3:
                    rec = seg + (left + up) // 2
                elif ft == 4:
                    rec = seg + _paeth(left, up, ul)
                else:
                    raise ValueError(f"bad PNG filter byte {ft}")
                cur[x : x + bpp] = rec % 256
        out[y] = cur % 256
    return out.reshape(h, w, c)


def decode_external(b: bytes, fmt: str):
    """Decode a real-format payload. ``wav`` and ``png`` decode here with
    the standard library (decode_wav / decode_png — same return shapes as
    the FAKEMEDIA unpackers, so every downstream operator is agnostic);
    formats needing external codecs (JPEG/MP4/...) remain the documented
    plug point."""
    f = fmt.lower()
    if f == "wav":
        return decode_wav(b)
    if f == "png":
        return decode_png(b)
    raise NotImplementedError(
        f"real {fmt!r} decoding needs an external codec (PIL/soundfile/av); "
        "wire it here — all Spark-side plumbing is codec-agnostic"
    )


def _decode_image(b: bytes) -> np.ndarray:
    """Magic-sniffing image decode: FAKEMEDIA or real PNG — operators stay
    codec-agnostic, so a corpus mixing synthetic and real payloads flows
    through the same mapInPandas kernels."""
    if b[:4] == _IMG_MAGIC:
        return _unpack_image(b)
    if b[:8] == _PNG_SIG:
        return decode_png(b)
    raise ValueError("unknown image payload (expected FIMG or PNG)")


def _decode_audio(b: bytes):
    """Magic-sniffing audio decode: FAKEMEDIA or real WAV. Returns
    (samples, rate) with frame structure preserved — (n,) mono or
    (n_frames, channels) — so duration = n_frames / rate stays correct for
    multichannel audio (RMS flattens; duration must not)."""
    if b[:4] == _AUD_MAGIC:
        return _unpack_audio(b)
    if b[:4] == b"RIFF":
        return decode_wav(b)
    raise ValueError("unknown audio payload (expected FAUD or WAV)")


# --------------------------------------------------------------------------
# dataset synthesis (deterministic fake corpus over any id column)
# --------------------------------------------------------------------------
def synth_media(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Attach a deterministic FAKEMEDIA payload to every id: kind cycles
    image/audio/video; content follows a CLOSED-FORM pattern in (id, offset)
    — flat element i of an image/video is ``(id*31 + 7*i) % 256``, audio
    sample i is ``((id*131 + 11*i) % 16384) - 8192``. Closed form (rather
    than a seeded RNG) so downstream features are re-derivable by plain SQL:
    the driver's DuckDB oracle recomputes them from the spec (m01/m02), and
    tests assert exact values.

    CONTRACT: kind = PYTHON ``id % 3`` (non-negative for any id, unlike
    Spark's sign-preserving ``%``) — _media_kind's branch pre-filters
    (``pmod(doc_id, 3)``) and m01/m02's oracle SQL re-derive the kind from
    this rule; changing it desynchronizes those filters from the
    generator."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf[id_col].astype("int64"):
                mid = int(mid)
                kind = ("image", "audio", "video")[mid % 3]
                if kind == "image":
                    w, h, c = 32 + mid % 32, 24 + mid % 24, 3
                    vals = (
                        mid * 31 + 7 * np.arange(h * w * c, dtype=np.int64)
                    ) % 256
                    data = _pack_image(vals.astype(np.uint8).reshape(h, w, c))
                    meta = (w, h, c, None, None, "fimg")
                elif kind == "audio":
                    rate, n = 16000, 1600 + mid % 800
                    s = (
                        (mid * 131 + 11 * np.arange(n, dtype=np.int64)) % 16384
                    ) - 8192
                    data = _pack_audio(s.astype("<i2"), rate)
                    meta = (None, None, None, rate, None, "faud")
                else:
                    nf, w, h, c = 4 + mid % 5, 16, 12, 3
                    vals = (
                        mid * 31
                        + 7 * np.arange(nf * h * w * c, dtype=np.int64)
                    ) % 256
                    data = _pack_video(
                        vals.astype(np.uint8).reshape(nf, h, w, c)
                    )
                    meta = (w, h, c, None, nf, "fvid")
                rows.append((mid, kind, data, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    # spark.sql.shuffle.partitions is THE deployment-sized parallelism knob
    # (same rule as dedup.shingle_hash_table) — defaultParallelism (the core
    # count) over-partitions small inputs into Python-worker dispatch floor:
    # r15 measured the per-branch m02 kernel at 32 tasks 0.668 s vs 8 tasks
    # 0.342 s at sf0.1, identical rows. A cluster deployment sizes the knob
    # up and gets its wide-row balancing unchanged.
    n_part = shuffle_partitions(ids_df.sparkSession)
    return (
        ids_df.select(id_col)
        .repartition(n_part, id_col)  # balance wide rows across tasks
        .mapInPandas(gen, MEDIA_SCHEMA)
    )


# --------------------------------------------------------------------------
# operators (each: mapInPandas, numpy-vectorized per record batch)
# --------------------------------------------------------------------------
IMAGE_FEATURES_SCHEMA = (
    "media_id bigint, width int, height int, channels int, "
    "mean_intensity double, std_intensity double"
)


def image_features(media: DataFrame) -> DataFrame:
    """Decode + per-channel feature extraction for image rows.

    Stats are derived from EXACT integer sums (s1=Σx, s2=Σx², both < 2^53)
    and then a fixed sequence of IEEE double ops — mean = s1/n,
    std = sqrt(n·s2 − s1²)/n — so any engine recomputing from the same
    pixels (e.g. the driver's DuckDB oracle) gets bit-identical doubles;
    a float accumulation would differ in the last ulp by summation order."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                arr = _decode_image(bytes(data))
                a = arr.astype(np.int64)
                n, s1, s2 = a.size, int(a.sum()), int((a * a).sum())
                out.append(
                    (
                        int(mid),
                        arr.shape[1],
                        arr.shape[0],
                        arr.shape[2],
                        s1 / n,
                        float(np.sqrt(float(n * s2 - s1 * s1))) / n,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "channels",
                    "mean_intensity", "std_intensity",
                ],
            )

    # kind filter + column prune JVM-SIDE, before the Python boundary: the
    # kernel previously received EVERY row (all three modalities' full
    # binary payloads crossed JVM->Arrow->Python) and dropped 2/3 of them
    # with a Python-side kind check — an opaque-function pruning miss
    # (guide §4.1). Only image rows' (media_id, data) cross now; m02's
    # three-branch plan stopped shipping each blob into Python 3x.
    return media.filter(F.col("kind") == "image").select(
        "media_id", "data"
    ).mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbour resize; returns the same MEDIA_SCHEMA with updated
    payload + meta. (A real pipeline swaps the numpy kernel for PIL — the
    operator shape is identical.)"""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["kind"] != "image":
                    rows.append(
                        (int(r["media_id"]), r["kind"], bytes(r["data"]),
                         r["meta"])
                    )
                    continue
                arr = _decode_image(bytes(r["data"]))
                h, w, _ = arr.shape
                yi = (np.arange(out_h) * h // out_h).astype(int)
                xi = (np.arange(out_w) * w // out_w).astype(int)
                out = arr[np.ix_(yi, xi)]
                rows.append(
                    (
                        int(r["media_id"]), "image", _pack_image(out),
                        (out_w, out_h, arr.shape[2], None, None, "fimg"),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "data", "meta"]
            )

    return media.mapInPandas(run, MEDIA_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id bigint, sample_rate int, n_samples int, duration_s double, "
    "rms double"
)


def audio_features(media: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                samples, rate = _decode_audio(bytes(data))
                # exact Σs² then sqrt(s2/n): bit-identical when recomputed
                # by SQL (see image_features). n_samples/duration count
                # FRAMES (multichannel WAV: shape (frames, channels)) —
                # rms aggregates over every sample of every channel.
                s = samples.astype(np.int64)
                n_frames = s.shape[0]
                flat = s.reshape(-1)
                n, s2 = len(flat), int((flat * flat).sum())
                out.append(
                    (
                        int(mid), rate, n_frames,
                        n_frames / rate,
                        float(np.sqrt(s2 / n)) if n else 0.0,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "sample_rate", "n_samples", "duration_s", "rms"
                ],
            )

    # JVM-side kind filter + prune, same rationale as image_features
    return media.filter(F.col("kind") == "audio").select(
        "media_id", "data"
    ).mapInPandas(run, AUDIO_FEATURES_SCHEMA)


FRAME_SCHEMA = (
    "media_id bigint, frame_index int, width int, height int, "
    "mean_intensity double"
)


def sample_frames(media: DataFrame, k: int = 2) -> DataFrame:
    """Evenly sample k frames per video row; one output row per frame
    (explode happens inside the batch — no JVM-side array materialization of
    raw pixels)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                frames = _unpack_video(bytes(data))
                n = frames.shape[0]
                for idx in (np.arange(k) * n // k).astype(int):
                    fr = frames[idx].astype(np.int64)
                    # exact Σ then /size: bit-identical under SQL recompute
                    out.append(
                        (
                            int(mid), int(idx), fr.shape[1],
                            fr.shape[0], int(fr.sum()) / fr.size,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_index", "width", "height",
                    "mean_intensity",
                ],
            )

    # JVM-side kind filter + prune, same rationale as image_features
    return media.filter(F.col("kind") == "video").select(
        "media_id", "data"
    ).mapInPandas(run, FRAME_SCHEMA)
