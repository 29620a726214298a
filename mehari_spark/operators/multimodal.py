"""Multimodal column plumbing: binary payloads + typed metadata.

Images/audio/video ride as opaque ``binary`` columns with a metadata struct;
decode / feature-extract runs as Arrow-batched ``mapInPandas``.

Codec coverage is two-tier:

- **Real decoders for uncompressed container formats** that need no
  external library — RIFF/WAVE PCM audio and binary PPM (P6) images are
  parsed with pure numpy byte arithmetic (``decode_media``), extracting
  sample rate / duration / RMS and dimensions / channel means. The payloads
  are real, spec-conformant files (``synth_wav_bytes`` / ``synth_ppm_bytes``
  emit them; any external WAV/PPM reader accepts them).
- **Compressed codecs (JPEG/MP3/MP4) stay STUBBED** (the container has no
  image/audio libraries): ``decode_features``/``frame_sample`` raise
  NotImplementedError unless ``fake=True``, which substitutes deterministic
  bytes — the Spark-side plumbing (schema, batching, partitioning, UDF
  signature) is real and tested either way.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA_DDL = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, codec:string>"
)


def synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from documents: payload = utf-8 bytes
    of the text, metadata derived from doc stats. Stands in for an Iceberg
    media table at prod."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            (F.pmod(F.col("doc_id"), F.lit(640)) + 1).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(480)) + 1).cast("int").alias("height"),
            F.lit("fake/v1").alias("codec"),
        ).alias("meta"),
    )


def _decode_batch(pdf: pd.DataFrame, dim: int, fake: bool) -> pd.DataFrame:
    if not fake:
        # real deployment: PIL/librosa/ffmpeg decode per Arrow batch
        raise NotImplementedError(
            "media codecs not available in this container; pass fake=True"
        )
    feats = []
    for payload in pdf["payload"].tolist():
        digest = hashlib.sha256(bytes(payload or b"")).digest()
        # deterministic fake features: bytes of the digest, tiled to dim
        arr = np.frombuffer((digest * (dim // 32 + 1))[:dim], dtype=np.uint8)
        feats.append((arr.astype(np.float32) / 255.0).tolist())
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].astype("int64"),
            "kind": pdf["kind"],
            "n_bytes": pdf["n_bytes"].astype("int64"),
            "features": feats,
        }
    )


def decode_features(
    media: DataFrame, dim: int = 32, fake: bool = True
) -> DataFrame:
    """media -> (media_id, kind, n_bytes, features array<float>); the
    decode kernel (mapInPandas) is the stub point. n_bytes is computed
    JVM-side (F.length, free in Catalyst) BEFORE the kernel and rides the
    Arrow batch through — the Python loop only does the decode."""

    def run(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _decode_batch(pdf, dim, fake)

    return media.select(
        "media_id",
        "kind",
        "payload",
        F.coalesce(F.length("payload"), F.lit(0)).cast("long").alias("n_bytes"),
    ).mapInPandas(
        run, schema="media_id long, kind string, n_bytes long, features array<float>"
    )


def frame_sample(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 64, fake: bool = True
) -> DataFrame:
    """Video frame sampling: one output row PER SAMPLED FRAME, exploded from
    each video payload — the batch shape a real ffmpeg kernel produces
    (frames are evenly spaced over the payload; the decode itself is the
    stub point, deterministic byte-slices stand in for decoded frames).

    Output is long-format (media_id, frame_idx, frame binary, offset), so
    downstream per-frame feature extraction parallelizes across frames, not
    videos — at 100 TB the hot videos would otherwise pin executors."""

    def run(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fake:
            raise NotImplementedError(
                "video codecs not available in this container; pass fake=True"
            )
        for pdf in it:
            mids: list[int] = []
            fidx: list[int] = []
            frames: list[bytes] = []
            offs: list[int] = []
            for mid, kind, payload in zip(
                pdf["media_id"].tolist(), pdf["kind"].tolist(), pdf["payload"].tolist()
            ):
                if kind != "video":
                    continue
                buf = bytes(payload or b"")
                if not buf:
                    continue
                step = max(1, len(buf) // n_frames)
                for i in range(min(n_frames, len(buf))):
                    off = i * step
                    mids.append(mid)
                    fidx.append(i)
                    frames.append(buf[off : off + frame_bytes])
                    offs.append(off)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                    "offset": pd.Series(offs, dtype="int64"),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema="media_id long, frame_idx int, frame binary, offset long"
    )


# --------------------------------------------------------------------------
# real codecs: RIFF/WAVE PCM + binary PPM (pure numpy, no external libs)
# --------------------------------------------------------------------------


def synth_wav_bytes(seed: int) -> bytes:
    """A valid mono 16-bit PCM RIFF/WAVE file: a sine tone whose frequency
    and length derive deterministically from ``seed``."""
    import struct

    sr = 8000
    n = 800 + (seed % 5) * 80
    freq = 200.0 + (seed % 20) * 20.0
    t = np.arange(n, dtype=np.float64) / sr
    samples = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    data = samples.tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def synth_ppm_bytes(seed: int) -> bytes:
    """A valid binary PPM (P6) image: a deterministic RGB gradient whose
    dimensions derive from ``seed``."""
    w = 8 + (seed % 16)
    h = 6 + (seed % 10)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx + yy + seed).astype(np.int64)
    img = np.stack(
        [(base % 256), ((base * 3) % 256), ((base * 7) % 256)], axis=-1
    ).astype(np.uint8)
    return f"P6\n{w} {h}\n255\n".encode() + img.tobytes()


def synth_real_media(docs: DataFrame) -> DataFrame:
    """A media table whose payloads are REAL files (audio for even doc_ids,
    images for odd), rotating over all four codecs — PCM WAV (id%4=0),
    mu-law WAV (id%4=2), PPM (id%4=1), BMP (id%4=3) — generated inside
    mapInPandas so the bytes never pass through the driver."""

    def payload_for(i: int) -> bytes:
        return [synth_wav_bytes, synth_ppm_bytes, synth_mulaw_wav_bytes, synth_bmp_bytes][i % 4](i)

    def gen(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["doc_id"].astype("int64").tolist()
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "kind": pd.Series(
                        ["audio" if i % 2 == 0 else "image" for i in ids],
                        dtype="object",
                    ),
                    "payload": pd.Series(
                        [payload_for(i) for i in ids], dtype="object"
                    ),
                }
            )

    return docs.select("doc_id").mapInPandas(
        gen, schema="media_id long, kind string, payload binary"
    )


# --- G.711 mu-law (8-bit companded PCM, the second real audio codec) ---
_ULAW_BIAS = 0x84
_ULAW_CLIP = 32635


def mulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear PCM -> 8-bit mu-law bytes (vectorized G.711)."""
    x = samples.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    mag = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    # exponent = position of the highest set bit above bit 7 (0..7)
    exponent = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    exponent = np.clip(exponent, 0, 7)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (~(sign | (exponent << 4) | mantissa) & 0xFF).astype(np.uint8)


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """8-bit mu-law bytes -> int16 linear PCM (vectorized G.711)."""
    u = (~codes.astype(np.int32)) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + _ULAW_BIAS) << exponent) - _ULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def synth_mulaw_wav_bytes(seed: int) -> bytes:
    """A valid mono 8-bit mu-law (format 7) RIFF/WAVE file carrying the
    SAME sine tone as synth_wav_bytes(seed), companded."""
    import struct

    sr = 8000
    n = 800 + (seed % 5) * 80
    freq = 200.0 + (seed % 20) * 20.0
    t = np.arange(n, dtype=np.float64) / sr
    pcm = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype(np.int16)
    data = mulaw_encode(pcm).tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 7, 1, sr, sr, 1, 8)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


def synth_bmp_bytes(seed: int) -> bytes:
    """A valid 24-bit uncompressed (BI_RGB) bottom-up BMP carrying the
    SAME gradient as synth_ppm_bytes(seed): 14-byte file header + 40-byte
    BITMAPINFOHEADER + 4-byte-padded BGR rows."""
    import struct

    w = 8 + (seed % 16)
    h = 6 + (seed % 10)
    yy, xx = np.mgrid[0:h, 0:w]
    base = (xx + yy + seed).astype(np.int64)
    rgb = np.stack(
        [(base % 256), ((base * 3) % 256), ((base * 7) % 256)], axis=-1
    ).astype(np.uint8)
    bgr = rgb[:, :, ::-1]
    row_size = (w * 3 + 3) // 4 * 4
    raster = np.zeros((h, row_size), dtype=np.uint8)
    raster[:, : w * 3] = bgr.reshape(h, w * 3)
    body = raster[::-1].tobytes()  # bottom-up row order
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return hdr + dib + body


def bmp_raster(buf: bytes):
    """24-bit BI_RGB BMP -> (h, w, 3) uint8 RGB raster; None on anything
    malformed or any other BMP variant (soft-fail)."""
    import struct

    if len(buf) < 54 or buf[:2] != b"BM":
        return None
    (off,) = struct.unpack("<I", buf[10:14])
    dib_size, w, h_raw = struct.unpack("<Iii", buf[14:26])
    planes, bpp = struct.unpack("<HH", buf[26:30])
    (compression,) = struct.unpack("<I", buf[30:34])
    if dib_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        return None
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        return None
    row_size = (w * 3 + 3) // 4 * 4
    if off + row_size * h > len(buf):
        return None
    raster = np.frombuffer(buf, dtype=np.uint8, offset=off, count=row_size * h)
    rows = raster.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def _parse_bmp(buf: bytes):
    """24-bit BI_RGB BMP -> (w, h, mean_r, mean_g, mean_b); None on
    anything malformed or any other BMP variant (soft-fail)."""
    rgb = bmp_raster(buf)
    if rgb is None:
        return None
    h, w = rgb.shape[:2]
    means = rgb.reshape(-1, 3).mean(axis=0)
    return w, h, int(means[0]), int(means[1]), int(means[2])


def _parse_wav(buf: bytes):
    import struct

    if len(buf) < 44 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    # walk chunks: fmt then data (robust to extra chunks)
    pos = 12
    sr = None
    bits = None
    channels = None
    data = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:  # truncated fmt chunk: soft-fail, not struct.error
                return None
            _fmt, channels, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if sr is None or not sr or data is None or channels != 1:
        return None
    if _fmt == 1 and bits == 16:
        if len(data) % 2:  # odd data length can't be int16 samples: soft-fail
            return None
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif _fmt == 7 and bits == 8:  # G.711 mu-law companded PCM
        codes = np.frombuffer(data, dtype=np.uint8)
        samples = mulaw_decode(codes).astype(np.float64) / 32768.0
    else:
        return None
    rms = float(np.sqrt(np.mean(samples * samples))) if samples.size else 0.0
    return sr, samples.size, int(samples.size * 1000 // sr), int(round(rms * 1000))


def ppm_raster(buf: bytes):
    """Binary PPM (P6) -> (h, w, 3) uint8 RGB raster; None on malformed."""
    parsed = _parse_ppm_header(buf)
    if parsed is None:
        return None
    w, h, pos = parsed
    pixels = np.frombuffer(buf, dtype=np.uint8, offset=pos, count=w * h * 3)
    return pixels.reshape(h, w, 3)


def _parse_ppm_header(buf: bytes):
    if not buf.startswith(b"P6"):
        return None
    # header: magic, width, height, maxval (ASCII, '#' comments allowed),
    # then EXACTLY ONE whitespace byte before the binary raster — a naive
    # whitespace split would eat raster bytes that happen to be 0x09-0x20
    pos = 2
    vals: list[int] = []
    n = len(buf)
    while len(vals) < 3 and pos < n:
        while pos < n and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":
            while pos < n and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not buf[pos : pos + 1].isspace():
            pos += 1
        try:
            vals.append(int(buf[start:pos]))
        except ValueError:
            return None
    if len(vals) < 3 or pos >= n:
        return None
    pos += 1  # the single whitespace separating maxval from the raster
    w, h, _maxval = vals
    if w <= 0 or h <= 0 or n - pos < w * h * 3:
        return None
    return w, h, pos


def _parse_ppm(buf: bytes):
    rgb = ppm_raster(buf)
    if rgb is None:
        return None
    h, w = rgb.shape[:2]
    means = rgb.reshape(-1, 3).mean(axis=0)
    return w, h, int(means[0]), int(means[1]), int(means[2])


def decode_media(media: DataFrame) -> DataFrame:
    """REAL decode of WAV/PPM payloads (numpy byte parsing, Arrow-batched).

    Output: one row per media item with modality-typed features —
    (media_id, kind, sample_rate, n_samples, duration_ms, rms_milli) for
    audio, (media_id, kind, width, height, mean_r, mean_g, mean_b) for
    images; unparseable payloads yield kind='corrupt' with nulls (the
    hard-fail/soft-fail split of the dictionary-build filter chain)."""

    def run(it: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"].tolist(),
                pdf["kind"].tolist(),
                pdf["payload"].tolist(),
            ):
                buf = bytes(payload or b"")
                # soft-fail contract: a malformed payload must yield a
                # 'corrupt' row, never a task-killing exception — the
                # parsers guard known failure shapes, this catch-all
                # covers the rest (hostile bytes are data, not errors)
                try:
                    wav = _parse_wav(buf) if kind == "audio" else None
                    ppm = _parse_ppm(buf) if kind == "image" else None
                    if kind == "image" and ppm is None:
                        ppm = _parse_bmp(buf)  # second image container
                except Exception:
                    wav = ppm = None
                if wav:
                    sr, n, dur, rms = wav
                    rows.append((mid, "audio", sr, n, dur, rms, None, None, None, None, None))
                elif ppm:
                    w, h, r, g, b = ppm
                    rows.append((mid, "image", None, None, None, None, w, h, r, g, b))
                else:
                    rows.append((mid, "corrupt", None, None, None, None, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "sample_rate", "n_samples",
                    "duration_ms", "rms_milli", "width", "height",
                    "mean_r", "mean_g", "mean_b",
                ],
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run,
        schema=(
            "media_id long, kind string, sample_rate int, n_samples int, "
            "duration_ms int, rms_milli int, width int, height int, "
            "mean_r int, mean_g int, mean_b int"
        ),
    )

