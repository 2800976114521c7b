"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride Spark as ``binary`` columns with a metadata struct;
decode / feature-extraction runs as Arrow-batched ``mapInPandas`` so each
Python worker touches a whole batch of payloads at once — the correct
shape for a 100 TB media pipeline (payloads never pass through the driver,
partitions bound worker memory).

The decode step is REAL for binary PPM (P6): a dependency-free numpy
parser turns header + raw RGB bytes into an (h, w, 3) pixel array and
exact integer channel statistics — so the path genuinely exercises bytes
→ pixels → statistics. Payloads that are not P6 (JPEG/PNG need codecs no
dependency here provides) raise ``ValueError`` in the executors' first
batch rather than decode to something made up.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Typed metadata carried next to every media payload.
MEDIA_META_STRUCT = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # ppm|png|jpeg|wav|mp4…
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("r_sum", T.LongType(), True),
        T.StructField("g_sum", T.LongType(), True),
        T.StructField("b_sum", T.LongType(), True),
        T.StructField("px_sq_sum", T.LongType(), True),
        T.StructField("sha1", T.StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# PPM (P6) codec — pure numpy, no external deps
# ---------------------------------------------------------------------------


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Serialize an ``(h, w, 3)`` uint8 array as a binary P6 PPM."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) pixel array, got shape {pixels.shape}")
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode("ascii") + pixels.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Parse a binary P6 PPM into an ``(h, w, 3)`` uint8 array.

    Header grammar: ``P6``, then whitespace-separated width, height,
    maxval (``#`` comments allowed between tokens), then ONE whitespace
    byte, then ``w*h*3`` raw RGB bytes. Raises ``ValueError`` on anything
    malformed — decode errors must surface per-batch, not as garbage
    features.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] not in (b"\n", b"\r"):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        tokens.append(payload[start:pos])
    pos += 1  # the single whitespace byte after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPMs supported, got {maxval}")
    need = w * h * 3
    data = payload[pos : pos + need]
    if len(data) != need:
        raise ValueError(f"PPM body has {len(data)} bytes, expected {need}")
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


def _fake_pixels(text: str, width: int, height: int) -> np.ndarray:
    """Deterministic pseudo-image from a text seed: a linear byte ramp
    ``(i*a + b) mod 256`` with (a, b) drawn from md5(text) — reproducible
    across platforms and hand-computable in tests."""
    digest = hashlib.md5(text.encode("utf-8")).digest()
    a = 1 + 2 * (digest[0] % 127)  # odd → full-period mod 256
    b = digest[1]
    vals = (np.arange(width * height * 3, dtype=np.int64) * a + b) % 256
    return vals.astype(np.uint8).reshape(height, width, 3)


def attach_fake_payload(
    df: DataFrame, id_col: str, text_col: str, *, width: int = 8, height: int = 8
) -> DataFrame:
    """Build a REAL binary P6 PPM payload column (pixels deterministically
    derived from the text — test stand-in for actual camera bytes) plus a
    media metadata struct. Generation runs as an Arrow-batched pandas UDF
    on the executors; payload bytes never touch the driver."""

    @F.pandas_udf(T.BinaryType())
    def make_ppm(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: encode_ppm(_fake_pixels(t if t is not None else "", width, height))
        )

    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("ppm").alias("format"),
        F.lit(width).cast("int").alias("width"),
        F.lit(height).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), make_ppm(F.col(text_col)).alias("payload"), meta.alias("media")
    )


def decode_image_stats(df: DataFrame) -> DataFrame:
    """Decode PPM payloads → EXACT integer pixel statistics per image:
    parsed header dims plus per-channel pixel sums and the global
    sum-of-squares (all int64, no float rounding anywhere).

    This is the oracle-checkable face of the decode path: per-channel
    means and stds are pure functions of these sums, but float means/stds
    can't be hash-compared across engines, while integer sums can — an
    independent oracle that re-derives the expected pixels from the
    generation formula pins the ENTIRE bytes→header-parse→pixel-
    reconstruction path exactly (any codec bug — off-by-one header skip,
    channel swap, truncation — shifts a sum). Arrow-batched
    ``mapInPandas``: payloads never touch the driver.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                px = decode_ppm(b).astype(np.int64)
                h, w, _ = px.shape
                rows.append(
                    (
                        doc_id,
                        len(b),
                        w,
                        h,
                        int(px[:, :, 0].sum()),
                        int(px[:, :, 1].sum()),
                        int(px[:, :, 2].sum()),
                        int((px * px).sum()),
                        hashlib.sha1(b).hexdigest(),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_STATS_SCHEMA.fields])

    return df.mapInPandas(decode, schema=IMAGE_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# WAV (RIFF/PCM) codec — pure numpy, no external deps
# ---------------------------------------------------------------------------

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sum_sq", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Serialize int16 mono PCM as a canonical RIFF/WAVE file (the real,
    public format: RIFF header, fmt chunk, data chunk — little-endian)."""
    import struct

    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE payload into (int16 sample array, sample_rate).

    A real chunk-walking parser: validates the RIFF/WAVE magic, iterates
    chunks (skipping unknown ones, honoring the odd-length pad byte),
    requires a PCM (format 1) mono 16-bit ``fmt `` chunk before ``data``.
    Raises ``ValueError`` on malformed input — decode errors must surface,
    not produce garbage features."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, fmt_seen = 12, None, False
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError(f"truncated {cid!r} chunk: {len(body)} of {clen} bytes")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("fmt chunk too short")
            audio_fmt, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if (audio_fmt, channels, bits) != (1, 1, 16):
                raise ValueError(
                    f"only PCM mono 16-bit supported, got fmt={audio_fmt} ch={channels} bits={bits}"
                )
            fmt_seen = True
        elif cid == b"data":
            if not fmt_seen:
                raise ValueError("data chunk before fmt chunk")
            if len(body) != clen:
                raise ValueError(f"data chunk has {len(body)} bytes, expected {clen}")
            return np.frombuffer(body, dtype="<i2"), int(rate)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    raise ValueError("no data chunk found")


def _fake_samples(text: str) -> np.ndarray:
    """Deterministic pseudo-audio from a text seed: int16 ramp
    ``((k*a + b) mod 4096) − 2048`` with (a, b) from md5(text) bytes 0–1
    (same seeds as :func:`_fake_pixels`) and length ``128 + byte2 % 64``
    — reproducible and re-derivable in plain SQL."""
    digest = hashlib.md5(text.encode("utf-8")).digest()
    a = 1 + 2 * (digest[0] % 127)
    b = digest[1]
    n = 128 + digest[2] % 64
    return (((np.arange(n, dtype=np.int64) * a + b) % 4096) - 2048).astype(np.int16)


def attach_fake_audio(
    df: DataFrame, id_col: str, text_col: str, *, sample_rate: int = 8000
) -> DataFrame:
    """Build a REAL RIFF/WAVE payload column (PCM derived deterministically
    from the text) plus metadata — the audio twin of
    :func:`attach_fake_payload`; bytes are produced on executors."""

    @F.pandas_udf(T.BinaryType())
    def make_wav(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: encode_wav(_fake_samples(t if t is not None else ""), sample_rate)
        )

    meta = F.struct(
        F.lit("audio").alias("media_type"),
        F.lit("wav").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), make_wav(F.col(text_col)).alias("payload"), meta.alias("media")
    )


def decode_audio_stats(df: DataFrame) -> DataFrame:
    """Decode WAV payloads → EXACT integer audio statistics per clip:
    sample count, energy (Σ s²), zero crossings (sign change count, with
    sign(0) = +), and integer-floor duration. All int64 — the
    oracle-checkable face of the audio path, mirroring
    :func:`decode_image_stats`: an independent oracle re-derives the
    expected samples from the generation formula, so any parser defect
    (chunk-walk off-by-one, endianness, truncation) shifts a statistic.
    Arrow-batched ``mapInPandas``; payloads never touch the driver."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                s, rate = decode_wav(b)
                s64 = s.astype(np.int64)
                signs = np.where(s64 >= 0, 1, -1)
                zc = int((signs[1:] != signs[:-1]).sum()) if len(s64) > 1 else 0
                rows.append(
                    (
                        doc_id,
                        len(b),
                        rate,
                        len(s64),
                        int((s64 * s64).sum()),
                        zc,
                        len(s64) * 1000 // rate,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields])

    return df.mapInPandas(decode, schema=AUDIO_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# frame-sequence container (video stand-in) + frame sampling
# ---------------------------------------------------------------------------

FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_sq_sum", T.LongType(), True),
    ]
)

#: Magic of the toy frame-sequence container: FSC1, u32le frame count,
#: then per frame u32le length + a complete binary PPM. A stand-in for a
#: real video container with the same plumbing properties (seekable frame
#: index, per-frame codec payload) and no codec dependency.
_FSC_MAGIC = b"FSC1"


def encode_frames(frames: list[np.ndarray]) -> bytes:
    """Serialize a list of (h, w, 3) uint8 frames as an FSC1 container."""
    import struct

    out = [_FSC_MAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        ppm = encode_ppm(fr)
        out.append(struct.pack("<I", len(ppm)))
        out.append(ppm)
    return b"".join(out)


def decode_frames(payload: bytes, *, every_k: int = 1) -> list[tuple[int, np.ndarray]]:
    """Walk an FSC1 container and decode every ``every_k``-th frame —
    frame SAMPLING at the container level: skipped frames are never
    PPM-decoded (the point of a seekable index: at 100 TB you pay decode
    only for sampled frames). Returns (frame_idx, pixels) pairs."""
    import struct

    if payload[:4] != _FSC_MAGIC:
        raise ValueError("not an FSC1 frame container")
    (n,) = struct.unpack("<I", payload[4:8])
    pos, out = 8, []
    for idx in range(n):
        if pos + 4 > len(payload):
            raise ValueError(f"truncated container at frame {idx}")
        (flen,) = struct.unpack("<I", payload[pos : pos + 4])
        pos += 4
        if pos + flen > len(payload):
            raise ValueError(f"frame {idx} body truncated")
        if idx % every_k == 0:
            out.append((idx, decode_ppm(payload[pos : pos + flen])))
        pos += flen
    return out


def _fake_frame_pixels(text: str, frame_idx: int, width: int, height: int) -> np.ndarray:
    """Frame ``f`` of the pseudo-video: the image ramp shifted by ``7·f``
    — ``(i*a + b + 7*f) mod 256`` with (a, b) from md5(text) bytes 0–1."""
    digest = hashlib.md5(text.encode("utf-8")).digest()
    a = 1 + 2 * (digest[0] % 127)
    b = digest[1]
    vals = (np.arange(width * height * 3, dtype=np.int64) * a + b + 7 * frame_idx) % 256
    return vals.astype(np.uint8).reshape(height, width, 3)


def attach_fake_video(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_frames: int = 6,
    width: int = 4,
    height: int = 4,
) -> DataFrame:
    """Build a REAL FSC1 container column of ``n_frames`` deterministic
    PPM frames per doc — the video twin of :func:`attach_fake_payload`."""

    @F.pandas_udf(T.BinaryType())
    def make_fsc(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: encode_frames(
                [
                    _fake_frame_pixels(t if t is not None else "", f, width, height)
                    for f in range(n_frames)
                ]
            )
        )

    meta = F.struct(
        F.lit("video").alias("media_type"),
        F.lit("fsc1").alias("format"),
        F.lit(width).cast("int").alias("width"),
        F.lit(height).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), make_fsc(F.col(text_col)).alias("payload"), meta.alias("media")
    )


def sample_frame_stats(df: DataFrame, *, every_k: int = 2) -> DataFrame:
    """Sample every ``every_k``-th frame of each container and emit EXACT
    integer per-frame pixel statistics — one output row per (doc, sampled
    frame). Skipped frames are never decoded. Arrow-batched
    ``mapInPandas``; same oracle-by-generator-formula verification story
    as :func:`decode_image_stats`."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, px in decode_frames(bytes(payload), every_k=every_k):
                    p = px.astype(np.int64)
                    rows.append((doc_id, idx, int(p.sum()), int((p * p).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_STATS_SCHEMA.fields])

    return df.mapInPandas(decode, schema=FRAME_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# resize (nearest-neighbor — exact integer index arithmetic)
# ---------------------------------------------------------------------------

RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("out_w", T.IntegerType(), False),
        T.StructField("out_h", T.IntegerType(), False),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_sq_sum", T.LongType(), True),
    ]
)


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize with pure floor index arithmetic
    (``src = out_index * src_dim // out_dim``) — deterministic, exact, and
    re-derivable in SQL (no float sampling grid)."""
    h, w, _ = pixels.shape
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return pixels[np.ix_(ys, xs)]


def resize_image_stats(df: DataFrame, *, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """Decode PPM payloads, nearest-neighbor-resize to (out_w, out_h), and
    emit exact integer statistics of the RESIZED image. Verifies the whole
    decode→resample chain: the oracle re-derives which source pixels the
    floor grid selects straight from the generator formula, so a
    half-pixel offset or transposed axis shifts the sums."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = resize_nearest(decode_ppm(bytes(payload)), out_w, out_h).astype(np.int64)
                rows.append((doc_id, out_w, out_h, int(px.sum()), int((px * px).sum())))
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZE_STATS_SCHEMA.fields])

    return df.mapInPandas(decode, schema=RESIZE_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (pHash) — the image-dedup fingerprint
# ---------------------------------------------------------------------------

_PHASH_RESIZE = 32
_PHASH_BLOCK = 8
#: DCT-II basis is input-independent — built once, not per frame (at 100k+
#: frames/task the per-call cos() rebuild was a measured map-side hot spot).
_PHASH_BASIS = np.cos(
    np.pi
    * np.arange(_PHASH_RESIZE).reshape(-1, 1)
    * (2 * np.arange(_PHASH_RESIZE).reshape(1, -1) + 1)
    / (2 * _PHASH_RESIZE)
)
_PHASH_BIT_WEIGHTS = np.left_shift(
    np.uint64(1), np.arange(_PHASH_BLOCK * _PHASH_BLOCK, dtype=np.uint64)
)


def phash_pixels_batch(stack: np.ndarray) -> np.ndarray:
    """Vectorized pHash of a same-shape frame stack ``(F, h, w, 3)`` →
    ``(F,)`` int64 hashes; ``phash_pixels_batch(px[None])[0]`` hashes one
    image.

    The hash is the classic 64-bit DCT pHash (public recipe: grayscale →
    32×32 nearest-neighbor resize → 2-D DCT-II → top-left 8×8
    low-frequency block → bit i set iff coefficient i > median of the
    block). Robust to resizing and small pixel noise; hamming distance
    between hashes ranks visual similarity. Pure numpy (DCT as a
    basis-matrix product), bit-exact across platforms, returned SIGNED
    (bit 63 → sign) so it stores in a Spark ``long``.

    One grayscale reduction, one fancy-index
    resize, one axis-wise median + bit-pack for the WHOLE stack — r7:
    per-frame numpy calls on tiny frames were ~80% of the
    video-fingerprint wall time (small-array dispatch overhead, not
    math), so every elementwise per-frame op became one stacked op.

    The DCT gemms deliberately stay a per-frame 2-D loop: a 3-D
    ``matmul`` dispatches to a batched BLAS kernel whose float summation
    order differs from the 2-D gemm in the last ulp, which (a) breaks
    bit-parity with the scalar recipe and (b) — fatally — makes a
    frame's hash depend on WHICH frames share its stack, i.e. on Arrow
    batch composition and hence partitioning. Tiny frames make this
    concrete: a 4×4 frame upsampled to 32×32 has 48 exactly-zero DCT
    coefficients whose sign against the median is pure rounding noise.
    Looped contiguous 2-D gemms are computed identically for any stack
    size (equality with the one-frame path is pinned in tests), so
    hashes stay a pure function of the frame."""
    gray = stack.astype(np.float64).mean(axis=3)  # (F, h, w)
    n_frames, h, w = gray.shape
    ys = (np.arange(_PHASH_RESIZE) * h) // _PHASH_RESIZE
    xs = (np.arange(_PHASH_RESIZE) * w) // _PHASH_RESIZE
    small = np.ascontiguousarray(gray[:, ys[:, None], xs[None, :]])  # (F, 32, 32)
    block = np.empty((n_frames, _PHASH_BLOCK * _PHASH_BLOCK))
    for f in range(n_frames):
        coefs = _PHASH_BASIS @ small[f] @ _PHASH_BASIS.T  # 2-D gemm, stable
        block[f] = coefs[:_PHASH_BLOCK, :_PHASH_BLOCK].reshape(-1)
    med = np.median(block, axis=1, keepdims=True)
    bits = ((block > med).astype(np.uint64) * _PHASH_BIT_WEIGHTS).sum(axis=1)
    return np.ascontiguousarray(bits).view(np.int64)  # reinterpret = signed wrap


def phash_many(pixel_list: list[np.ndarray]) -> np.ndarray:
    """pHash a heterogeneous list of ``(h, w, 3)`` frames, batching all
    same-shape frames through :func:`phash_pixels_batch` (one corpus
    usually has very few distinct dimensions, so this is ~one stacked
    call per Arrow batch). Returns ``(len(pixel_list),)`` int64."""
    out = np.empty(len(pixel_list), dtype=np.int64)
    by_shape: dict[tuple[int, ...], list[int]] = {}
    for i, px in enumerate(pixel_list):
        by_shape.setdefault(px.shape, []).append(i)
    for idxs in by_shape.values():
        out[idxs] = phash_pixels_batch(np.stack([pixel_list[i] for i in idxs]))
    return out


def phash_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-image pHash over PPM ``payload`` rows: Arrow-batched
    ``mapInPandas`` decode+hash — payload bytes stay on executors, the
    output is (id, phash) longs. Feed :func:`~.dedup.hamming_near_pairs`
    for banded near-duplicate image search, or group by ``phash`` for
    exact perceptual dedup."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pixels = [decode_ppm(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].astype("int64").to_numpy(),
                    # one stacked pHash per distinct frame shape in the
                    # Arrow batch, not one numpy pipeline per image
                    "phash": phash_many(pixels) if pixels else np.array([], dtype=np.int64),
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        hash_batch, f"{id_col} long, phash long"
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting — the audio-dedup 64-bit signature
# ---------------------------------------------------------------------------

_AFP_FRAMES = 65


def afp_samples(samples: np.ndarray) -> int:
    """64-bit audio fingerprint from PCM samples: split into 65 equal
    frames, bit i = 1 iff frame i+1's energy exceeds frame i's — the
    energy-delta-sign recipe (the time-domain core of Chromaprint-style
    fingerprints, public). Robust to gain changes (deltas compare
    energies, not absolutes) and codec-level noise; hamming distance
    ranks acoustic similarity. Pure numpy, bit-exact. Signed 64-bit for
    Spark ``long`` storage."""
    x = samples.astype(np.float64)
    n = len(x)
    if n == 0:
        return 0
    bounds = (np.arange(_AFP_FRAMES + 1) * n) // _AFP_FRAMES
    sq = np.concatenate(([0.0], np.cumsum(np.square(x))))
    energies = sq[bounds[1:]] - sq[bounds[:-1]]  # per-frame energy via prefix sums
    rising = (energies[1:] > energies[:-1]).astype(np.uint64)
    bits = int((rising << np.arange(_AFP_FRAMES - 1, dtype=np.uint64)).sum())
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def afp_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-clip audio fingerprint over WAV ``payload`` rows (Arrow-batched
    ``mapInPandas``; bytes stay on executors). Feed
    :func:`~.dedup.hamming_near_pairs` for near-duplicate audio search —
    the same banded engine SimHash and image pHash use."""

    def fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                samples, _rate = decode_wav(bytes(payload))
                out.append((int(doc_id), afp_samples(samples)))
            yield pd.DataFrame(out, columns=[id_col, "afp"])

    return df.select(id_col, "payload").mapInPandas(
        fp_batch, f"{id_col} long, afp long"
    )


def _fold_majority(hashes: np.ndarray) -> int:
    """Majority-bit fold of a non-empty uint64 hash array → signed int.
    Unpacks all 64 bit-planes at once: bit k of the LITTLE-ENDIAN uint64
    byte view is exactly ``(h >> k) & 1``, so column sums are the per-bit
    frame counts — no per-frame 64-iteration Python loop. Byte order is
    pinned explicitly (``<u8``) on both the unpack and the repack so the
    fold is bit-identical on big-endian hosts too — the pHash family's
    contract is same-hash-for-same-data across platforms, and a native
    byte view would silently reverse the bit planes on s390x."""
    planes = np.unpackbits(
        np.ascontiguousarray(hashes.astype("<u8"))[:, None].view(np.uint8),
        axis=1,
        bitorder="little",
    )
    majority = planes.sum(axis=0, dtype=np.int64) * 2 >= len(hashes)
    bits = int(np.packbits(majority, bitorder="little").view("<u8")[0])
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def vhash_video(df: DataFrame, id_col: str = "doc_id", *, every_k: int = 1) -> DataFrame:
    """Per-video fingerprint over FSC1 ``payload`` rows: sample frames at
    the INDEX level (skipped frames never PPM-decode), pHash each sampled
    frame, majority-fold to one 64-bit signature (:func:`_fold_majority`:
    bit i is set iff it is set in at least half the frames). The fold is
    order-insensitive and sampling-tolerant by construction: a re-encoded
    video with reordered, dropped, or every-k-sampled frames keeps a
    nearby (often identical) hash. Arrow-batched
    ``mapInPandas``; feed :func:`~.dedup.hamming_near_pairs` for
    near-duplicate video search — the same banded engine as SimHash,
    image pHash, and the audio fingerprint. All sampled frames of ALL
    videos in an Arrow batch pHash as one stacked pipeline
    (:func:`phash_many`); only the cheap per-video majority fold loops in
    Python."""

    def fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            counts: list[int] = []
            all_frames: list[np.ndarray] = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                frames = [px for _idx, px in decode_frames(bytes(payload), every_k=every_k)]
                ids.append(int(doc_id))
                counts.append(len(frames))
                all_frames.extend(frames)
            hashes = (
                phash_many(all_frames).view(np.uint64)
                if all_frames
                else np.empty(0, dtype=np.uint64)
            )
            vhashes: list[int] = []
            pos = 0
            for c in counts:
                vhashes.append(_fold_majority(hashes[pos : pos + c]) if c else 0)
                pos += c
            yield pd.DataFrame({id_col: np.asarray(ids, dtype=np.int64), "vhash": vhashes})

    return df.select(id_col, "payload").mapInPandas(
        fp_batch, f"{id_col} long, vhash long"
    )
