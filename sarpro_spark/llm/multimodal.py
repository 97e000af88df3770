"""Multimodal columns: opaque binary payloads + typed metadata, with
decode/feature plumbing as Arrow-batched pandas kernels.

Design (the part that matters at 100 TB): media lives as a ``binary`` column
with a typed metadata struct alongside (mime, width, height, n_bytes). Scans
prune metadata-only queries to the struct columns (parquet column pruning);
the payload column is only materialized inside ``mapInPandas`` stages, batch
by batch, never on the driver.

Decode is REAL for the formats with in-repo codecs: ``decode_image``
dispatches on magic bytes to the baseline-JPEG decoder
(:mod:`sarpro_spark.sinks.jpeg`) and the PNG codec
(:mod:`sarpro_spark.sinks.png`) — zero native dependencies, runs inside any
executor. ``sample_frames`` implements frame sampling over a
concatenated-JPEG ("MJPEG-style") payload, the container-free video analog.
Codecs that genuinely require native libraries (general containers via
ffmpeg, PIL-only formats) stay behind NotImplementedError with the supported
subset implemented for real.
"""

from __future__ import annotations

from collections.abc import Iterator
from struct import error as struct_error

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize a media-like binary column + typed metadata struct from the
    documents table (deterministic: payload = utf-8 bytes of text)."""
    payload = F.encode(F.col(text_col), "utf-8")
    n_bytes = F.octet_length(F.col(text_col))
    # deterministic fake media metadata derived from the id
    width = (F.col(id_col) % 64 + 16).cast("int")
    height = (F.col(id_col) % 48 + 16).cast("int")
    mime = F.when(F.col(id_col) % 3 == 0, "image/png").when(
        F.col(id_col) % 3 == 1, "audio/wav"
    ).otherwise("video/mp4")
    meta = F.struct(
        mime.alias("mime"),
        width.alias("width"),
        height.alias("height"),
        n_bytes.alias("n_bytes"),
    )
    return df.withColumn("payload", payload).withColumn("media_meta", meta)


def decode_features(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Byte-grain features (size/moments/entropy) over any binary payload —
    the format-agnostic leg that runs before a codec is chosen (corrupt-blob
    triage, entropy-based compression detection). Format-aware decode lives
    in :func:`decode_image` / ``image_features`` (queries_llm)."""
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_bytes", IntegerType()),
            StructField("byte_mean", DoubleType()),
            StructField("byte_std", DoubleType()),
            StructField("byte_entropy", DoubleType()),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        import math

        import pandas as pd

        for pdf in batches:
            ids, nb, mean, std, ent = [], [], [], [], []
            for i, buf in zip(pdf[id_col], pdf[payload_col]):
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                ids.append(i)
                n = arr.size
                nb.append(n)
                if n == 0:
                    mean.append(0.0), std.append(0.0), ent.append(0.0)
                    continue
                # exact integer moments first, float ops last — the identical
                # IEEE sequence the SQL oracle states, so mean/std are
                # bit-reproducible regardless of summation order
                s1 = int(arr.sum(dtype=np.int64))
                s2 = int((arr.astype(np.int64) ** 2).sum())
                m = s1 / n
                mean.append(m)
                std.append(math.sqrt(max(s2 / n - m * m, 0.0)))
                counts = np.bincount(arr, minlength=256)
                c = counts[counts > 0].astype(np.float64)
                # entropy = log2(n) - (sum c*log2 c)/n (same algebraic form as
                # the oracle; residual cross-libm/sum-order noise << fround)
                ent.append(math.log2(n) - float((c * np.log2(c)).sum()) / n)
            yield pd.DataFrame(
                {id_col: ids, "n_bytes": nb, "byte_mean": mean, "byte_std": std, "byte_entropy": ent}
            )

    return df.select(id_col, payload_col).mapInPandas(fn, schema=schema)


def _native_decode(payload: bytes):
    """Native-library fast path (PIL/libjpeg/zlib) when importable, else
    None -> the pure-Python codecs run. Hash-safety doctrine:

    - PNG is LOSSLESS: any spec-conforming inflate+unfilter yields the
      identical pixel array, so the native path is always safe to take.
    - JPEG decode is only spec-pinned to ~±1 LSB (IDCT freedom): libjpeg's
      integer IDCT differs from the in-repo float IDCT in the last bit, so
      the native JPEG leg is OPT-IN via SARPRO_NATIVE_JPEG=1 (throughput
      mode) — by default the bit-exact in-repo decoder keeps every decoded
      feature hash-reproducible across environments.

    Returns an ndarray, or None to fall back (including on any native-side
    error: the in-repo codec then classifies the blob for decode-or-degrade).
    """
    import os

    try:
        from PIL import Image  # absent in this container; real clusters have it
    except ImportError:
        return None
    import io

    buf = bytes(payload)
    is_png = buf[:8] == b"\x89PNG\r\n\x1a\n"
    is_jpeg = buf[:2] == b"\xFF\xD8"
    if not (is_png or (is_jpeg and os.environ.get("SARPRO_NATIVE_JPEG") == "1")):
        return None
    try:
        with Image.open(io.BytesIO(buf)) as im:
            if im.mode not in ("L", "RGB", "RGBA"):
                return None
            return np.asarray(im, dtype=np.uint8)
    except Exception:
        return None


def decode_image(payload: bytes) -> np.ndarray:
    """Real image decode: native fast path when available (see
    :func:`_native_decode`), else dispatch on magic bytes to the in-repo
    codecs. JPEG (baseline JFIF) and PNG (8-bit gray/RGB/RGBA) are fully
    supported; anything else raises NotImplementedError (a real pipeline
    registers more codecs here — the dispatch/batch plumbing is
    format-agnostic)."""
    from sarpro_spark.sinks import jpeg as J
    from sarpro_spark.sinks import png as P

    buf = bytes(payload)
    native = _native_decode(buf)
    if native is not None:
        return native
    if buf[:2] == b"\xFF\xD8":
        return J.decode_jpeg(buf)
    if buf[:8] == P.SIGNATURE:
        return P.decode_png(buf)
    raise NotImplementedError(f"no codec for magic {buf[:4]!r}")


def sniff_image(payload: bytes) -> str:
    """Header-only format sniff: 'png', 'jpeg' (baseline), 'jpeg_progressive'
    (SOF2 — entropy decode unsupported, header dims still parseable), or
    'unknown'. O(header) per blob; never touches entropy data."""
    import struct

    from sarpro_spark.sinks import png as P

    buf = bytes(payload)
    if buf[:8] == P.SIGNATURE:
        return "png"
    if buf[:2] == b"\xFF\xD8":
        pos = 2
        while pos + 4 <= len(buf) and buf[pos] == 0xFF:
            marker = buf[pos + 1]
            if marker == 0xC2:
                return "jpeg_progressive"
            if marker in (0xC0, 0xC1, 0xC3):
                return "jpeg"
            if marker == 0xDA:  # SOS before any SOF: malformed, stop sniffing
                break
            pos += 2 + struct.unpack(">H", buf[pos + 2:pos + 4])[0]
        return "jpeg"
    return "unknown"


def safe_decode_image(payload: bytes):
    """Decode-or-degrade: (pixels, True) when an in-repo codec covers the
    blob, (None, False) when it doesn't (progressive JPEG, exotic
    subsampling, unknown magic). The 100 TB doctrine: ONE undecodable blob
    must cost one False row, never a failed scan task — callers fall back
    to :func:`image_dims` + byte features for the False rows."""
    import zlib

    try:
        return decode_image(payload), True
    except (
        NotImplementedError,  # declared codec boundary (progressive, ...)
        ValueError,           # malformed stream content
        struct_error,         # truncated fixed-layout field
        IndexError,           # truncated marker/segment chain
        KeyError,             # reference to an undefined table id
        zlib.error,           # corrupt DEFLATE stream (PNG idat)
    ):
        return None, False


def make_progressive(jpeg_bytes: bytes) -> bytes:
    """Rewrite a baseline JPEG's SOF0 marker to SOF2 by walking the segment
    chain (not a byte search — 0xFFC0 can occur inside table payloads).
    Produces a structurally-valid progressive-marked stream: header parsers
    (dims, sniff) read it; entropy decode correctly refuses. The
    deterministic progressive fixture for the fallback certification."""
    import struct

    buf = bytearray(jpeg_bytes)
    pos = 2
    while pos + 4 <= len(buf) and buf[pos] == 0xFF:
        if buf[pos + 1] == 0xC0:
            buf[pos + 1] = 0xC2
            return bytes(buf)
        pos += 2 + struct.unpack(">H", bytes(buf[pos + 2:pos + 4]))[0]
    raise ValueError("no SOF0 segment found")


def image_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) from the header only — JPEG SOF0 scan / PNG IHDR.
    The metadata fast path: no entropy decode, O(header) per blob."""
    import struct

    from sarpro_spark.sinks import png as P

    buf = bytes(payload)
    if buf[:8] == P.SIGNATURE:
        w, h, _, _ = P.parse_png_header(buf)
        return w, h
    if buf[:2] == b"\xFF\xD8":
        pos = 2
        while pos + 4 <= len(buf):
            assert buf[pos] == 0xFF, "marker expected"
            marker = buf[pos + 1]
            seglen = struct.unpack(">H", buf[pos + 2:pos + 4])[0]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):
                _, h, w = struct.unpack(">BHH", buf[pos + 4:pos + 9])
                return w, h
            pos += 2 + seglen
        raise ValueError("no SOF marker found")
    raise NotImplementedError(f"no header parser for magic {buf[:4]!r}")


def split_mjpeg(payload: bytes) -> list[bytes]:
    """Split a concatenated-JPEG payload into per-frame byte strings by
    scanning SOI/EOI marker pairs (the container-free video analog)."""
    buf = bytes(payload)
    frames_, pos = [], 0
    while True:
        start = buf.find(b"\xFF\xD8", pos)
        if start < 0:
            break
        end = buf.find(b"\xFF\xD9", start)
        if end < 0:
            break
        frames_.append(buf[start:end + 2])
        pos = end + 2
    return frames_


def sample_frames(payload: bytes, every_n: int = 30) -> list[tuple[int, np.ndarray]]:
    """Video frame sampling over a concatenated-JPEG payload: decode every
    ``every_n``-th frame, skipping (not decoding) the rest — the same
    access pattern ffmpeg keyframe-seeking gives on real containers.
    Returns [(frame_index, pixels)]. General containers (mp4/webm) would
    need an ffmpeg binding and raise below."""
    frames_ = split_mjpeg(payload)
    if not frames_:
        raise NotImplementedError(
            "payload is not a concatenated-JPEG stream; container demux needs ffmpeg"
        )
    return [(i, decode_image(f)) for i, f in enumerate(frames_) if i % every_n == 0]


#: deterministic synthetic image formula — shared by the payload builder and
#: the oracle SQL (queries_llm): pixel(k, r, c) = (doc_id*31 + f*17 + r*7 +
#: c*13 + k*59) % 256 for channel k, frame f.
def formula_image(doc_id: int, w: int, h: int, channels: int, frame: int = 0) -> np.ndarray:
    r = np.arange(h, dtype=np.int64)[:, None, None]
    c = np.arange(w, dtype=np.int64)[None, :, None]
    k = np.arange(channels, dtype=np.int64)[None, None, :]
    v = (doc_id * 31 + frame * 17 + r * 7 + c * 13 + k * 59) % 256
    out = v.astype(np.uint8)
    return out[:, :, 0] if channels == 1 else out


def _distributed_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Narrow id projection, repartitioned to the cluster's parallelism when
    the scan yields fewer partitions. The payload attachers below are
    CPU-bound pure-Python stages; a small-file scan (one parquet row-group)
    would otherwise run every encode on ONE core while the rest idle — the
    r5 bench's multimodal wall-clock was exactly this single-partition
    pile-up, not codec speed. The shuffle moves 8 bytes/row (ids only); the
    blobs are born distributed."""
    ids = df.select(id_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    if ids.rdd.getNumPartitions() < par:
        ids = ids.repartition(par)
    return ids


def attach_image_payload(
    df: DataFrame, id_col: str = "doc_id", progressive_mod: int | None = None
) -> DataFrame:
    """Real-format binary payloads: per doc a deterministic formula image,
    encoded PNG (doc_id%4 in {0,2} — lossless leg) or baseline JPEG
    (doc_id%4 in {1,3} — lossy leg), gray (%4 < 2) or RGB. Encoding happens
    executor-side in Arrow batches; the driver never sees a payload.
    ``progressive_mod=m``: JPEG docs with doc_id % m == 0 get their SOF0
    rewritten to SOF2 (progressive-marked — the graceful-degradation
    fixture for :func:`safe_decode_image`)."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    schema = StructType(
        [StructField(id_col, LongType()), StructField("payload", BinaryType())]
    )

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd

        from sarpro_spark.sinks.jpeg import encode_jpeg
        from sarpro_spark.sinks.png import encode_png

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                i = int(i)
                w, h = 8 + i % 24, 8 + i % 16
                mode = i % 4
                img = formula_image(i, w, h, 3 if mode >= 2 else 1)
                if mode % 2 == 0:
                    blob = encode_png(img)
                else:
                    blob = encode_jpeg(img, 90)
                    if progressive_mod is not None and i % progressive_mod == 0:
                        blob = make_progressive(blob)
                blobs.append(blob)
                ids.append(i)
            yield pd.DataFrame({id_col: ids, "payload": blobs})

    return _distributed_ids(df, id_col).mapInPandas(fn, schema=schema)


def attach_mjpeg_payload(
    df: DataFrame, id_col: str = "doc_id", width: int = 16, height: int = 8
) -> DataFrame:
    """Video-analog payloads: 2 + doc_id%3 formula frames, each encoded
    baseline JPEG and concatenated (the container-free MJPEG shape that
    :func:`sample_frames` demuxes)."""
    from pyspark.sql.types import BinaryType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("n_frames", IntegerType()),
            StructField("payload", BinaryType()),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd

        from sarpro_spark.sinks.jpeg import encode_jpeg

        for pdf in batches:
            ids, nf, blobs = [], [], []
            for i in pdf[id_col]:
                i = int(i)
                n = 2 + i % 3
                blobs.append(
                    b"".join(
                        encode_jpeg(formula_image(i, width, height, 1, frame=f), 90)
                        for f in range(n)
                    )
                )
                ids.append(i)
                nf.append(n)
            yield pd.DataFrame({id_col: ids, "n_frames": nf, "payload": blobs})

    return _distributed_ids(df, id_col).mapInPandas(fn, schema=schema)


# --- real WAV-PCM audio ------------------------------------------------------

WAV_SR = 8000


def formula_audio(doc_id: int, n_samples: int) -> np.ndarray:
    """Deterministic int16 PCM waveform from pure integer arithmetic (no
    transcendentals — the SQL oracle regenerates it exactly)."""
    i = np.arange(n_samples, dtype=np.int64)
    s = (doc_id * 31 + i * i * 7) % 65536 - 32768
    return s.astype(np.int16)


def encode_wav(samples: np.ndarray, sr: int = WAV_SR) -> bytes:
    """Minimal RIFF/WAVE PCM16LE mono encoder (stdlib struct only)."""
    import struct

    data = samples.astype("<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """(sample_rate, int16 samples) from a PCM16 mono RIFF/WAVE payload;
    walks the chunk list (a conforming file may carry LIST/fact chunks)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    pos, sr, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            fmt_tag, ch, sr, _br, _ba, bits = struct.unpack("<HHIIHH", body[:16])
            if fmt_tag != 1 or ch != 1 or bits != 16:
                raise NotImplementedError("only PCM16 mono supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2").astype(np.int16)
        pos += 8 + ln + (ln & 1)
    if sr is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return sr, data


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, wav) — deterministic formula waveforms encoded executor-side."""
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    schema = StructType([StructField(id_col, LongType()), StructField("wav", BinaryType())])

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                n = 400 + int(i) % 200
                blobs.append(encode_wav(formula_audio(int(i), n)))
                ids.append(i)
            yield pd.DataFrame({id_col: ids, "wav": blobs})

    return _distributed_ids(df, id_col).mapInPandas(fn, schema=schema)


def wav_features(df: DataFrame, payload_col: str = "wav", id_col: str = "doc_id") -> DataFrame:
    """Per-payload audio features from the DECODED samples: sample rate,
    count, duration, integer sum/abs-peak, rms, zero crossings. Integer
    moments first, float ops last (the decode_features doctrine) so the
    oracle's formula-regenerated values match bit-for-bit."""
    import math

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", IntegerType()),
            StructField("duration_ms", LongType()),
            StructField("peak", IntegerType()),
            StructField("rms", DoubleType()),
            StructField("zero_crossings", LongType()),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("id", "sr", "n", "dur", "peak", "rms", "zc")}
            for i, buf in zip(pdf[id_col], pdf[payload_col]):
                sr, s = decode_wav(bytes(buf))
                n = s.size
                s64 = s.astype(np.int64)
                out["id"].append(i)
                out["sr"].append(sr)
                out["n"].append(n)
                out["dur"].append(n * 1000 // sr)
                out["peak"].append(int(np.abs(s64).max()) if n else 0)
                s2 = int((s64 * s64).sum())
                out["rms"].append(math.sqrt(s2 / n) if n else 0.0)
                nn = (s64 >= 0).astype(np.int8)
                out["zc"].append(int((nn[1:] != nn[:-1]).sum()) if n > 1 else 0)
            yield pd.DataFrame(
                {
                    id_col: out["id"],
                    "sample_rate": out["sr"],
                    "n_samples": out["n"],
                    "duration_ms": out["dur"],
                    "peak": out["peak"],
                    "rms": out["rms"],
                    "zero_crossings": out["zc"],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(fn, schema=schema)


#: samples per analysis frame (50 ms at 8 kHz)
WAV_FRAME = 400


def wav_frame_features(
    df: DataFrame, payload_col: str = "wav", id_col: str = "doc_id", frame: int = WAV_FRAME
) -> DataFrame:
    """Per-analysis-frame energy features from decoded samples: the
    feature-extraction stage of an audio pipeline (VAD/segmentation run on
    exactly this). One row per (payload, frame)."""
    import math

    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("n", IntegerType()),
            StructField("energy", LongType()),
            StructField("rms", DoubleType()),
        ]
    )

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, fidx, ns, en, rm = [], [], [], [], []
            for i, buf in zip(pdf[id_col], pdf[payload_col]):
                _sr, s = decode_wav(bytes(buf))
                s64 = s.astype(np.int64)
                for f in range(-(-s.size // frame)):
                    seg = s64[f * frame : (f + 1) * frame]
                    e = int((seg * seg).sum())
                    ids.append(i)
                    fidx.append(f)
                    ns.append(seg.size)
                    en.append(e)
                    rm.append(math.sqrt(e / seg.size) if seg.size else 0.0)
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": fidx, "n": ns, "energy": en, "rms": rm}
            )

    return df.select(id_col, payload_col).mapInPandas(fn, schema=schema)
