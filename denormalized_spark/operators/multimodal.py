"""Multimodal column plumbing: image/audio/video as opaque binary.

Convention: a modality column is ``binary`` payload + a typed
metadata struct (``{mime, width, height, duration_ms, ...}``). The
Spark-side plumbing — schema, partitioning, Arrow batch shape, UDF
signatures — is real and tested everywhere.

Kernel reality by modality:

- **audio (WAV/PCM): REAL.** :func:`audio_features` parses RIFF/WAVE
  containers with stdlib ``wave`` (header + PCM decode, no external
  deps) and computes signal statistics; :func:`audio_chunks` segments
  either raw PCM or decoded WAV.
- **image (BMP/PNG): REAL.** :func:`image_stats`,
  :func:`image_features` (mean-pooled luma grid), and
  :func:`image_phash` / :func:`image_near_dups` (perceptual-hash
  dedup) all run on the stdlib decode kernels (24-bit BMP byte ops;
  PNG zlib inflate + scanline unfilter). JPEG needs a DCT codec:
  ``image_features(fake=True)`` keeps the deterministic md5-seeded
  stand-in for payloads outside the stdlib codecs.
- **video: STUBBED.** ffmpeg/opencv are not in this container; those
  kernels raise ``NotImplementedError`` unless ``fake=True``.
  Swapping the fake for a real codec changes no plumbing.

Scale notes: binary payloads ride the normal columnar path
(parquet binary columns), so partition sizing is governed by
``spark.sql.files.maxPartitionBytes`` like any column. Every per-row
decoder and synthesizer runs through
:func:`~denormalized_spark.operators._rows.map_rows` (Arrow batches
in ``mapInPandas``, one Python worker per task, no shuffle). A decoder
returns ``None`` for a payload it cannot parse, and ``map_rows`` turns
that into a NULL row: at 100 TB some files WILL be broken, and a
corrupt payload must not kill the stage. The fan-out kernels
(:func:`audio_chunks`, :func:`sample_frames`) keep their own
vectorized row repeat. Feature vectors come back as array<float>
ready for operators.similarity.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from denormalized_spark.operators._bucketing import (
    band_owners,
    band_owners_stream,
    bucket_pairs,
    capped_bucket_collect,
)
from denormalized_spark.operators._rows import map_rows

IMAGE_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

AUDIO_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def attach_image_meta(df: DataFrame, binary_col: str, mime: str = "image/png") -> DataFrame:
    """Attach a metadata struct column for an opaque image payload.
    Real pipelines read this from the container header at ingest."""
    return df.withColumn(
        f"{binary_col}_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ),
    )


def _fake_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in feature vector: md5-chained floats in
    [0,1). Stable across runs/engines — usable in assertions."""
    out = []
    seed = payload or b""
    h = hashlib.md5(seed).digest()
    while len(out) < dim:
        for i in range(0, len(h), 4):
            out.append(int.from_bytes(h[i : i + 4], "big") / 2**32)
            if len(out) == dim:
                break
        h = hashlib.md5(h).digest()
    return out


def _decode_rgb(payload: bytes | None):
    """The one image decode: BMP, then PNG → (width, height, HxWx3 RGB
    uint8), or None for a NULL or unparseable payload."""
    if payload is None:
        return None
    raw = bytes(payload)
    return _parse_bmp(raw) or _parse_png(raw)


def _luma_grid(payload: bytes | None):
    """Decode and return the integer scaled-luma grid (H×W int64,
    1000× Rec.601: 299·R + 587·G + 114·B) — the shared integer-exact
    input of :func:`image_features` and :func:`image_phash`. None for
    unparseable payloads."""
    import numpy as np

    parsed = _decode_rgb(payload)
    if parsed is None:
        return None
    rgb = parsed[2].astype(np.int64)
    return 299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]


def _pack_hi_lo(bits) -> tuple[int, int]:
    """A perceptual hash's bits (most significant first) → its two
    halves: the first 32 bits as ``hi``, the rest as ``lo``."""
    hi = lo = 0
    for b in bits[:32]:
        hi = (hi << 1) | int(b)
    for b in bits[32:]:
        lo = (lo << 1) | int(b)
    return hi, lo


def image_features(
    df: DataFrame,
    binary_col: str = "payload",
    dim: int = 16,
    *,
    fake: bool = False,
) -> DataFrame:
    """binary image → feature vector via mapInPandas — REAL kernel:
    decode (24-bit BMP / 8-bit truecolor PNG, the stdlib codecs of
    :func:`image_stats`) then a √dim×√dim MEAN-POOLED LUMA GRID — the
    deterministic, engine-replayable downsampled-grid embedding a
    no-deps pipeline can actually ship (cell (i,j) = mean scaled luma
    over pixels with ⌊y·g/h⌋=i, ⌊x·g/w⌋=j). All accumulation is exact
    integer arithmetic; each feature is ONE IEEE division
    S/(n·1000.0), so values are bit-identical across engines.
    Unparseable payloads yield NULL features; ``dim`` must be a
    perfect square. JPEG
    still needs a DCT codec: ``fake=True`` keeps the md5-chain
    stand-in kernel for payloads no stdlib codec covers.

    The grid feeds operators.similarity directly (array<float>) —
    embedding-LSH near-dup over images without PIL.
    """
    import math

    import numpy as np

    g = math.isqrt(dim)
    if not fake and g * g != dim:
        raise ValueError(f"dim must be a perfect square for the grid kernel, got {dim}")

    def grid(p):
        L = _luma_grid(p)
        if L is None:
            return None
        h, w = L.shape
        cy = np.arange(h) * g // h
        cx = np.arange(w) * g // w
        sums = np.zeros((g, g), dtype=np.int64)
        counts = np.zeros((g, g), dtype=np.int64)
        np.add.at(sums, (cy[:, None], cx[None, :]), L)
        np.add.at(counts, (cy[:, None], cx[None, :]), 1)
        # empty cells only when the image is smaller than the grid —
        # define those as 0.0
        vals = np.where(counts > 0, sums / (np.maximum(counts, 1) * 1000.0), 0.0)
        return ([float(v) for v in vals.flatten()],)

    return map_rows(
        df,
        [T.StructField("features", T.ArrayType(T.FloatType()))],
        (lambda p: (_fake_features(p, dim),)) if fake else grid,
        [binary_col],
    )


def image_phash(
    df: DataFrame,
    binary_col: str = "payload",
    method: str = "dhash",
) -> DataFrame:
    """Perceptual hash over decoded pixels — the image analogue of
    :func:`~denormalized_spark.operators.dedup.simhash`: a 64-bit
    fingerprint whose hamming distance tracks visual similarity,
    emitted as two 32-bit halves (``phash_hi``, ``phash_lo`` longs —
    the form band keys and hamming distances derive from with plain
    integer arithmetic, portable to any engine without 64-bit
    overflow edge cases).

    ``dhash``: 8×8 gradient bits — bit (i,j) = L(x_j, y_i) >
    L(x_{j+1}, y_i) over a 9×8 NEAREST-SAMPLED grid (sample points
    x_j = ⌊(2j+1)·w/18⌋, y_i = ⌊(2i+1)·h/16⌋). ``ahash``: 8×8 sampled
    cells, bit = 64·L > ΣL (integer cross-multiplication — no
    division anywhere). Sampling (vs area-resize) keeps every bit a
    closed-form integer comparison, exactly replayable in SQL; for
    area-resize fidelity swap the sampler for
    :func:`image_features`'s pooled grid. Unparseable payloads yield
    NULL hashes. Pure mapInPandas projection — no shuffle."""
    import numpy as np

    if method not in ("dhash", "ahash"):
        raise ValueError(f"method must be dhash|ahash, got {method!r}")

    def phash(p):
        L = _luma_grid(p)
        if L is None:
            return None
        h, w = L.shape
        if method == "dhash":
            xs = (2 * np.arange(9) + 1) * w // 18
            ys = (2 * np.arange(8) + 1) * h // 16
            S = L[np.ix_(ys, xs)]
            return _pack_hi_lo((S[:, :-1] > S[:, 1:]).flatten())
        xs = (2 * np.arange(8) + 1) * w // 16
        ys = (2 * np.arange(8) + 1) * h // 16
        S = L[np.ix_(ys, xs)]
        return _pack_hi_lo((64 * S > S.sum()).flatten())

    return map_rows(
        df,
        [T.StructField("phash_hi", T.LongType()), T.StructField("phash_lo", T.LongType())],
        phash,
        [binary_col],
    )


def image_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    method: str = "dhash",
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs — the modality the text
    (MinHash/SimHash) and embedding (hyperplane-LSH) dedup stacks
    didn't cover, mirroring
    :func:`~denormalized_spark.operators.dedup.simhash_near_dups`:
    perceptual-hash every image (:func:`image_phash`), LSH-band the
    64-bit hash into four 16-bit keys (a pair within hamming ≤ 6
    agrees on ≥1 whole band unless all differing bits straddle every
    band — the standard banding trade), bucket-join on (band, key),
    then verify exact hamming ≤ ``max_hamming`` via popcount of the
    xor'd halves. Output: (id_a, id_b, hamming).

    Scale: hashing is a pure projection; the only shuffle is the
    band-keyed BUCKET-COLLECT carrying (id, two hash halves) structs —
    not a self-join, which would re-run the decode+hash kernel once
    per join side (the
    :func:`~denormalized_spark.operators.dedup.lsh_candidate_pairs`
    lesson: with mapInPandas upstream there is no exchange to reuse,
    so the pair generation happens per bucket with higher-order
    functions over the collected array). Bucket sizes are bounded by
    visual-dup class sizes; a degenerate corpus breaks that bound
    (monochrome/boilerplate frames all hash identically → one
    quadratic bucket): ``max_bucket_size`` drops band buckets above
    the cap — the same recall-loss-direction cap as the MinHash stack
    (a dropped pair is missed, never wrong). The hamming verify runs
    inside the pair generation, so the final distinct shuffles narrow
    (id_a, id_b, hamming) rows only — no payload bytes ever shuffle."""
    return _hash_band_pairs(
        image_phash(df, binary_col, method), id_col, "phash_hi", "phash_lo",
        max_hamming, max_bucket_size,
    )


# four 16-bit LSH bands of a 64-bit perceptual hash (two 32-bit halves)
_HASH_BANDS = 4


def _split_hash_bands(
    hashed: DataFrame, hi_col: str, lo_col: str, *carry: Column | str
) -> DataFrame:
    """Split-hash banding as rows: the two 32-bit halves of a 64-bit
    perceptual hash (image phash, audio fingerprint) → four 16-bit
    ``(band, band_key)`` rows after the ``carry`` columns. Rows with a
    NULL hash (undecodable or too-short payloads) are dropped: they
    have no fingerprint to contest a bucket with — route them
    separately if they must be kept. Shared by the pair generator
    (:func:`_hash_band_pairs`) and the image/audio near-dup gates, so
    they all key on identical buckets."""
    bands = F.array(
        F.shiftright(hi_col, 16),
        F.col(hi_col).bitwiseAND(F.lit(65535)),
        F.shiftright(lo_col, 16),
        F.col(lo_col).bitwiseAND(F.lit(65535)),
    )
    return hashed.filter(F.col(hi_col).isNotNull()).select(
        *carry, F.posexplode(bands).alias("band", "band_key")
    )


def _hash_band_pairs(
    hashed: DataFrame,
    id_col: str,
    hi_col: str,
    lo_col: str,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared pair generator for split-64-bit perceptual hashes
    (image phash, audio fingerprint): four 16-bit LSH band keys from
    the two halves, bucket-collect per (band, key), pairs + hamming
    via higher-order functions over the collected array — never a
    self-join (which would re-run the upstream decode kernel per
    side). ``max_bucket_size`` drops degenerate buckets (recall-loss
    direction). Output (id_a, id_b, hamming ≤ max_hamming)."""
    banded = _split_hash_bands(
        hashed,
        hi_col,
        lo_col,
        F.struct(
            F.col(id_col).alias("_i"),
            F.col(hi_col).alias("_hi"),
            F.col(lo_col).alias("_lo"),
        ).alias("_m"),
    )
    buckets = capped_bucket_collect(
        banded, ["band", "band_key"], "_m", "_ms", max_bucket_size
    )
    pair_arrays = bucket_pairs(
        F.col("_ms"),
        lambda x, y: F.struct(
            x["_i"].alias("id_a"),
            y["_i"].alias("id_b"),
            (
                F.bit_count(x["_hi"].bitwiseXOR(y["_hi"]))
                + F.bit_count(x["_lo"].bitwiseXOR(y["_lo"]))
            ).alias("hamming"),
        ),
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def audio_fingerprint(
    df: DataFrame,
    binary_col: str = "payload",
    n_frames: int = 64,
) -> DataFrame:
    """Perceptual AUDIO fingerprint over decoded PCM — the audio
    analogue of :func:`image_phash`, closing the dedup modality triad
    (text MinHash/SimHash, image phash, audio this): channel-0
    samples are split into ``n_frames`` equal frames (integer length
    ``n//n_frames``, tail ignored), per-frame energy E_i = Σ|s| is an
    exact int64, and bit i of the fingerprint is E_{i+1} > E_i — the
    sign of the energy envelope's derivative, the core of
    Shazam-style fingerprints reduced to integer-exact, engine-
    replayable arithmetic. 63 bits emitted as two halves (``fp_hi``
    32 bits, ``fp_lo`` 31 bits — no 64-bit overflow edge cases in
    band/hamming math anywhere).

    LOUDNESS-INVARIANT by construction: scaling all samples by g > 0
    scales every energy by g, preserving every comparison — a
    re-encoded/volume-normalized copy fingerprints identically.
    Undecodable payloads (or clips shorter than ``n_frames``
    samples) yield NULLs. Pure mapInPandas projection — no shuffle.

    ``n_frames`` must be in [50, 65]: the fingerprint has
    ``n_frames - 1`` bits, ``hi`` takes the first 32, ``lo`` the
    remaining ``n_frames - 33`` — below 50 ``lo`` has ≤ 16 bits, so
    the ``shiftright(lo, 16)`` LSH band of :func:`_split_hash_bands`
    is 0 for EVERY clip (one global band-3 bucket → quadratic pair
    generation when ``max_bucket_size`` is None); above 65 ``lo``
    exceeds 32 bits and the band math loses its no-overflow
    guarantee (≥98 would overflow int64 outright)."""
    import numpy as np

    if not (50 <= n_frames <= 65):
        raise ValueError(
            f"n_frames must be in [50, 65] so all four 16-bit LSH bands carry "
            f"real bits and both halves fit 32 bits, got {n_frames}"
        )

    def fingerprint(p):
        x = _pcm_channel0(_parse_wav(p))
        L = 0 if x is None else len(x) // n_frames
        if L < 1:
            return None
        e = np.abs(x[: L * n_frames]).reshape(n_frames, L).sum(axis=1)
        return _pack_hi_lo(e[1:] > e[:-1])

    return map_rows(
        df,
        [T.StructField("fp_hi", T.LongType()), T.StructField("fp_lo", T.LongType())],
        fingerprint,
        [binary_col],
    )


def audio_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    n_frames: int = 64,
    max_hamming: int = 6,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate AUDIO pairs: fingerprint every clip
    (:func:`audio_fingerprint`), then the shared band/bucket-collect
    pair machinery of the image path (:func:`_hash_band_pairs`) —
    four 16-bit LSH bands, popcount hamming ≤ ``max_hamming``,
    ``max_bucket_size`` against degenerate corpora (silence/
    boilerplate jingles all fingerprinting alike). Loudness-
    normalized copies pair at hamming 0; the decode kernel runs
    exactly once (bucket-collect, not a self-join)."""
    return _hash_band_pairs(
        audio_fingerprint(df, binary_col, n_frames), id_col, "fp_hi", "fp_lo",
        max_hamming, max_bucket_size,
    )


def _parse_wav(payload: bytes | None):
    """stdlib RIFF/WAVE parse → (sample_rate, n_channels, sampwidth,
    n_frames, pcm_bytes), or None for NULL or unparseable payloads."""
    import io
    import wave

    if payload is None:
        return None
    try:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n = w.getnframes()
            return (
                w.getframerate(),
                w.getnchannels(),
                w.getsampwidth(),
                n,
                w.readframes(n),
            )
    except Exception:
        return None


_SAMPWIDTH_DTYPE = {1: "u1", 2: "<i2", 4: "<i4"}


def _pcm_channel0(parsed):
    """The one PCM decode: a :func:`_parse_wav` result → channel 0's
    samples as int64 (8-bit PCM is unsigned per the WAV spec and is
    centred), or None when there is nothing to decode (no parse, an
    unsupported sample width, truncated or empty PCM)."""
    import numpy as np

    if parsed is None:
        return None
    _, ch, sw, _, pcm = parsed
    dtype = _SAMPWIDTH_DTYPE.get(sw)
    if dtype is None:
        return None
    try:
        x = np.frombuffer(pcm, dtype=dtype).astype(np.int64)
        if sw == 1:
            x -= 128
        x = x.reshape(-1, ch)[:, 0]
    except ValueError:  # PCM bytes not a whole number of frames
        return None
    return x if len(x) else None


def audio_features(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """WAV binary → signal features, with a REAL decode kernel:
    stdlib ``wave`` parses the RIFF container and the PCM frames are
    analyzed with numpy (no external codec deps). Output columns:
    sample_rate, n_channels, n_samples (frames), duration_ms, rms,
    peak (abs), zero_crossings — rms/peak/crossings over channel 0.
    Unparseable payloads produce NULL features; a payload whose header
    parses but whose PCM does not keeps its header fields. 8/16/32-bit
    PCM supported; 8-bit is unsigned-offset per the WAV spec and is
    centered before analysis.
    """
    import numpy as np

    def features(p):
        parsed = _parse_wav(p)
        if parsed is None:
            return None
        sr, ch, _, n, _ = parsed
        header = (sr, ch, n, 1000.0 * n / sr if sr else None)
        x = _pcm_channel0(parsed)
        if x is None or not sr:  # header only: no PCM (or no rate) to analyze
            return header + (None, None, None)
        sign = x < 0
        return header + (
            float(np.sqrt(np.mean(x.astype(np.float64) ** 2))),
            int(np.max(np.abs(x))),
            int(np.count_nonzero(sign[1:] != sign[:-1])),
        )

    return map_rows(
        df,
        [
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_ms", T.DoubleType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("peak", T.LongType()),
            T.StructField("zero_crossings", T.LongType()),
        ],
        features,
        [binary_col],
    )


def synthesize_wav_payloads(
    df: DataFrame,
    id_col: str,
    *,
    sample_rate: int = 8000,
    payload_col: str = "payload",
) -> DataFrame:
    """Deterministic WAV test corpus: for each row, write a REAL mono
    16-bit RIFF/WAVE file (stdlib ``wave``) containing a square wave
    derived from ``id_col`` in closed form, so feature oracles are
    computable analytically in SQL:

        half_period h = id % 7 + 1        (samples per half-block)
        blocks      b = id % 50 + 10
        amplitude   A = (id % 30 + 1) * 1000
        n_samples   N = b * h; sign alternates per block

    → rms = A exactly, peak = A, zero_crossings = b - 1,
    duration_ms = N * 1000 / sample_rate (sample_rate divides a power
    of two times 1000, so the double is exact)."""
    import numpy as np

    def square_wav(v):
        i = int(v)
        h, b, amp = i % 7 + 1, i % 50 + 10, (i % 30 + 1) * 1000
        sign = np.where(np.arange(b) % 2 == 0, 1, -1)
        return (_write_wav(np.repeat(sign * amp, h), sample_rate),)

    return map_rows(
        df, [T.StructField(payload_col, T.BinaryType())], square_wav, [id_col]
    )


def _write_wav(samples, sample_rate: int) -> bytes:
    """Integer samples → mono 16-bit PCM RIFF/WAVE bytes (stdlib
    ``wave``)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _parse_bmp(payload: bytes):
    """stdlib 24-bit BMP parse → (width, height, HxWx3 RGB uint8
    array), or None for unparseable/unsupported payloads."""
    import numpy as np

    try:
        if len(payload) < 54 or payload[:2] != b"BM":
            return None
        data_off = int.from_bytes(payload[10:14], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        compression = int.from_bytes(payload[30:34], "little")
        if bpp != 24 or compression != 0 or w <= 0 or h == 0:
            return None
        ah = abs(h)
        row_size = (w * 3 + 3) // 4 * 4
        arr = np.frombuffer(payload, np.uint8, count=row_size * ah, offset=data_off)
        rows = arr.reshape(ah, row_size)[:, : w * 3].reshape(ah, w, 3)
        if h > 0:
            rows = rows[::-1]  # positive height = bottom-up storage
        return w, ah, rows[:, :, ::-1]  # BGR → RGB
    except Exception:
        return None


def _parse_png(payload: bytes):
    """stdlib PNG decode → (width, height, HxWx3 RGB uint8), or None.

    Full real decode, no external codecs: signature + chunk walk,
    zlib-inflate of the IDAT stream, and per-scanline unfiltering
    (None/Sub/Up/Average/Paeth — the Paeth predictor needs a
    sequential row pass; arithmetic is vectorized across each row).
    Supports the dominant web shapes: 8-bit truecolor (type 2) and
    truecolor+alpha (type 6, alpha dropped), non-interlaced.
    """
    import struct
    import zlib

    import numpy as np

    try:
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, w = 8, None
        idat = []
        while pos + 8 <= len(payload):
            (ln,), typ = struct.unpack(">I", payload[pos : pos + 4]), payload[
                pos + 4 : pos + 8
            ]
            data = payload[pos + 8 : pos + 8 + ln]
            if typ == b"IHDR":
                w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data
                )
                if (
                    depth != 8 or ctype not in (2, 6) or interlace != 0
                    or w == 0 or h == 0  # the spec requires both ≥ 1
                ):
                    return None
            elif typ == b"IDAT":
                idat.append(data)
            elif typ == b"IEND":
                break
            pos += 12 + ln  # length + type + data + crc
        if w is None or not idat:
            return None
        ch = 3 if ctype == 2 else 4
        raw = np.frombuffer(zlib.decompress(b"".join(idat)), np.uint8)
        stride = w * ch
        raw = raw.reshape(h, stride + 1)
        ftypes, rows = raw[:, 0], raw[:, 1:].astype(np.int16)
        out = np.zeros((h, stride), dtype=np.uint8)
        for y in range(h):
            cur = rows[y].copy()
            prior = out[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
            f = ftypes[y]
            if f == 0:
                line = cur
            elif f == 2:  # Up
                line = (cur + prior) & 0xFF
            elif f in (1, 3, 4):  # Sub/Average/Paeth need left-to-right
                line = np.zeros(stride, np.int16)
                for x in range(stride):
                    a = line[x - ch] if x >= ch else 0
                    b = prior[x]
                    if f == 1:
                        pred = a
                    elif f == 3:
                        pred = (a + b) >> 1
                    else:
                        c = prior[x - ch] if x >= ch else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[x] = (cur[x] + pred) & 0xFF
            else:
                return None
            out[y] = line.astype(np.uint8)
        rgb = out.reshape(h, w, ch)[:, :, :3]
        return int(w), int(h), rgb
    except Exception:
        return None


def _write_png(rgb) -> bytes:
    """HxWx3 RGB uint8 → 8-bit truecolor non-interlaced PNG (stdlib
    zlib/struct; filter type 0 per scanline)."""
    import struct
    import zlib

    import numpy as np

    h, w = rgb.shape[:2]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), rgb.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def image_stats(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Image binary → decoded statistics with REAL decode kernels:
    24-bit uncompressed BMP (stdlib byte ops) and 8-bit truecolor
    PNG (stdlib zlib inflate + scanline unfiltering) — both parsed
    with numpy, no external codecs; JPEG needs a DCT codec and stays
    on the stubbed :func:`image_features` path. Output columns:
    width, height, mean_r/g/b, mean_luma (Rec.601). Unparseable
    payloads yield NULL stats."""
    import numpy as np

    def stats(p):
        parsed = _decode_rgb(p)
        if parsed is None:
            return None
        w, h, rgb = parsed
        r, g, b = (float(m) for m in rgb.reshape(-1, 3).mean(axis=0, dtype=np.float64))
        return w, h, r, g, b, float(0.299 * r + 0.587 * g + 0.114 * b)

    return map_rows(
        df,
        [
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
            T.StructField("mean_luma", T.DoubleType()),
        ],
        stats,
        [binary_col],
    )


def synthesize_bmp_payloads(
    df: DataFrame, id_col: str, *, payload_col: str = "payload"
) -> DataFrame:
    """Deterministic BMP test corpus: for each row, write a REAL
    24-bit bottom-up BMP whose pixels are closed-form in ``id_col``:

        width  W = id % 16 + 4,  height H = id % 12 + 4
        r(x) = (7x + id) % 256        (x = column)
        g(y) = (11y + 2·id) % 256     (y = row)
        b(x,y) = (x + y + 3·id) % 256

    so channel means are analytically computable in SQL (integer
    sums — exact in doubles)."""
    return map_rows(
        df,
        [T.StructField(payload_col, T.BinaryType())],
        lambda v: (_write_bmp(_gradient_rgb(int(v))),),
        [id_col],
    )


def _gradient_rgb(i: int):
    """The closed-form per-id pixel gradient shared by the BMP and
    PNG synthesizers (see :func:`synthesize_bmp_payloads`)."""
    import numpy as np

    w, h = i % 16 + 4, i % 12 + 4
    x = np.arange(w)
    y = np.arange(h)[:, None]
    r = np.broadcast_to((7 * x + i) % 256, (h, w))
    g = np.broadcast_to((11 * y + 2 * i) % 256, (h, w))
    b = (x + y + 3 * i) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def image_near_gate_batch(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    event_time: str = "ts",
    *,
    method: str = "dhash",
    payload_cols: tuple = (),
) -> DataFrame:
    """Deterministic batch twin of :func:`image_near_gate`: each of an
    image's four perceptual-hash band buckets is owned by its
    earliest (event_time, id) claimant; an image survives iff it owns
    ALL four — the exact ownership semantics of
    :func:`~denormalized_spark.operators.dedup.near_dedup_batch`
    applied to the image modality. One band-key shuffle, no pair
    generation; used for stream-vs-batch parity and backfills that
    must agree with the online gate. Undecodable payloads are dropped
    (no fingerprint to contest a bucket with)."""
    banded = _split_hash_bands(
        image_phash(df, binary_col, method), "phash_hi", "phash_lo",
        id_col, event_time, *payload_cols,
    )
    return band_owners(
        banded, id_col, [event_time, id_col], _HASH_BANDS, payload_cols
    )


def image_near_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    event_time: str = "ts",
    *,
    method: str = "dhash",
    watermark: str = "0 seconds",
    emit_window_ms: int = 60_000,
    payload_cols: tuple = (),
) -> DataFrame:
    """STREAMING perceptual-hash near-dup gate: emit only images that
    claim all four of their dHash/aHash band buckets first — any band
    collision with an earlier image (within the watermark retention)
    drops the frame. The image twin of
    :func:`~denormalized_spark.operators.dedup.near_dedup_stream`:
    phash + banding (the mapInPandas decode is the per-row stage),
    then the shared stream core
    (:func:`~denormalized_spark.operators._bucketing.band_owners_stream`:
    watermark declared on the band rows, ``dropDuplicatesWithinWatermark``
    on (band, band_key), an ``emit_window_ms`` close point; survivor ⟺
    owns 4 buckets).

    The use case is frame/screenshot streams where boilerplate frames
    repeat endlessly: state stays bucket-count-sized, no pair
    generation. Near-miss semantics match the batch twin within a
    micro-batch up to arbitrary-owner ties, exactly as the text gate
    documents."""
    banded = _split_hash_bands(
        image_phash(df, binary_col, method), "phash_hi", "phash_lo",
        id_col, event_time, *payload_cols,
    )
    return band_owners_stream(
        banded, id_col, event_time, _HASH_BANDS, watermark, emit_window_ms,
        payload_cols,
    )


def audio_near_gate_batch(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    event_time: str = "ts",
    *,
    n_frames: int = 64,
    payload_cols: tuple = (),
) -> DataFrame:
    """Deterministic batch twin of :func:`audio_near_gate` — the
    image gate's ownership semantics over audio fingerprints:
    earliest (event_time, id) claimant per band bucket, survivor owns
    all four. Loudness-normalized re-uploads of an earlier clip are
    gated; undecodable/too-short clips are dropped. Used for parity
    tests and backfills."""
    banded = _split_hash_bands(
        audio_fingerprint(df, binary_col, n_frames), "fp_hi", "fp_lo",
        id_col, event_time, *payload_cols,
    )
    return band_owners(
        banded, id_col, [event_time, id_col], _HASH_BANDS, payload_cols
    )


def audio_near_gate(
    df: DataFrame,
    id_col: str = "doc_id",
    binary_col: str = "payload",
    event_time: str = "ts",
    *,
    n_frames: int = 64,
    watermark: str = "0 seconds",
    emit_window_ms: int = 60_000,
    payload_cols: tuple = (),
) -> DataFrame:
    """STREAMING audio near-dup gate: the clip stream's analogue of
    :func:`image_near_gate` — fingerprint bands through the shared
    stream core, bucket-count-sized state, an emit window for
    append-mode closure. A repeated jingle/silence clip (or a
    loudness-renormalized copy — the fingerprint is scale-invariant)
    collides with the first claimant's buckets and is dropped
    online."""
    banded = _split_hash_bands(
        audio_fingerprint(df, binary_col, n_frames), "fp_hi", "fp_lo",
        id_col, event_time, *payload_cols,
    )
    return band_owners_stream(
        banded, id_col, event_time, _HASH_BANDS, watermark, emit_window_ms,
        payload_cols,
    )


def synthesize_noise_wav_payloads(
    df: DataFrame,
    seed_col: str,
    *,
    gain_col: str | None = None,
    n_samples: int = 1024,
    sample_rate: int = 8000,
    payload_col: str = "payload",
) -> DataFrame:
    """Deterministic NOISE test audio (mono 16-bit WAV): sample t of
    seed s is ``md5(f"{s}:{t//8}")`` bytes 2(t%8)..2(t%8)+1 as a
    little-endian uint16 u, mapped to ``u//4 − 8192`` — md5-defined
    (any engine replays the exact samples from hex arithmetic;
    unsigned ``//4`` before centering so no engine-divergent negative
    division exists anywhere), full-spectrum noise so frame energies
    discriminate (~31/63 differing fingerprint bits across seeds) —
    unlike the closed-form square-wave corpus, whose constant
    amplitude makes every frame energy equal and every fingerprint
    degenerate. ``gain_col`` (optional int) scales samples by
    gain+1 ∈ 1..4 (|s| ≤ 4·8192 < 2¹⁵, no clipping): a loudness
    change that plants EXACT-fingerprint near-duplicates of the same
    seed, exercising the fingerprint's loudness invariance."""
    import numpy as np

    def noise_wav(seed, gain=0):
        seed, gain = int(seed), int(gain)
        us = np.empty(n_samples, dtype=np.int64)
        for blk in range((n_samples + 7) // 8):
            d = hashlib.md5(f"{seed}:{blk}".encode()).digest()
            for j in range(min(8, n_samples - blk * 8)):
                us[blk * 8 + j] = d[2 * j] + 256 * d[2 * j + 1]
        return (_write_wav(((us // 4) - 8192) * (gain + 1), sample_rate),)

    return map_rows(
        df,
        [T.StructField(payload_col, T.BinaryType())],
        noise_wav,
        [seed_col] + ([gain_col] if gain_col is not None else []),
    )


def synthesize_noise_png_payloads(
    df: DataFrame,
    seed_col: str,
    *,
    shift_col: str | None = None,
    size: int = 16,
    payload_col: str = "payload",
) -> DataFrame:
    """Deterministic NOISE test images (PNG): pixel (x, y) of seed s
    is ``md5(f"{s}:{x}:{y}")`` bytes 0..2 as (r, g, b) — md5-defined
    so any engine can replay the exact pixels from the seed alone
    (DuckDB: hex pairs of ``md5(s||':'||x||':'||y)``). Unlike the
    closed-form gradient corpus (whose images all share local
    gradient signs and therefore COLLIDE under perceptual hashing),
    independent seeds give ~32/64 differing dHash bits — the
    discrimination a near-dup oracle needs. ``shift_col`` (optional
    int) adds min(r + shift, 255) to the red channel: a global
    brightness perturbation that plants NEAR-duplicates (hamming ≈ 0
    to a few bits) of the same seed."""
    import numpy as np

    def noise_png(seed, shift=0):
        seed, shift = int(seed), int(shift)
        px = np.empty((size, size, 3), dtype=np.uint8)
        for y in range(size):
            for x in range(size):
                d = hashlib.md5(f"{seed}:{x}:{y}".encode()).digest()
                px[y, x, 0] = min(d[0] + shift, 255)
                px[y, x, 1] = d[1]
                px[y, x, 2] = d[2]
        return (_write_png(px),)

    return map_rows(
        df,
        [T.StructField(payload_col, T.BinaryType())],
        noise_png,
        [seed_col] + ([shift_col] if shift_col is not None else []),
    )


def synthesize_png_payloads(
    df: DataFrame, id_col: str, *, payload_col: str = "payload"
) -> DataFrame:
    """PNG twin of :func:`synthesize_bmp_payloads`: the identical
    closed-form gradient written as a REAL zlib-compressed PNG, so
    the decode path through inflate + unfilter is exercised end-to-end
    against the same analytic oracle."""
    return map_rows(
        df,
        [T.StructField(payload_col, T.BinaryType())],
        lambda v: (_write_png(_gradient_rgb(int(v))),),
        [id_col],
    )


def audio_chunks(
    df: DataFrame,
    binary_col: str = "payload",
    chunk_ms: int = 1000,
    sample_rate: int = 16_000,
    bytes_per_sample: int = 2,
    *,
    codec: str = "pcm",
    fake: bool = False,
) -> DataFrame:
    """audio binary → exploded fixed-duration chunk rows
    (chunk_idx, offset_bytes, chunk binary, chunk_hash) — the audio
    analogue of :func:`sample_frames` (ASR/audio-tokenizer pipelines
    segment before feature extraction).

    ``codec="pcm"`` (or the legacy ``fake=True``): the payload IS raw
    PCM; chunk boundaries come from ``sample_rate × bytes_per_sample
    × chunk_ms/1000``. ``codec="wav"``: REAL stdlib-``wave`` decode —
    each file's own geometry (rate/width/channels) drives its chunk
    size and the chunks contain decoded PCM; unparseable payloads, and
    PCM that is not a whole number of frames (undecodable for
    :func:`audio_features` too), pass through as a single NULL-hash
    chunk. Other codecs (mp3/ogg) need ffmpeg and raise. Fan-out:
    rows × ceil(len/chunk_bytes); size partitions for the POST-explode
    volume at scale."""
    import numpy as np

    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("offset_bytes", T.LongType()),
            T.StructField("chunk", T.BinaryType()),
            T.StructField("chunk_hash", T.StringType()),
        ]
    )
    if fake:
        codec = "pcm"
    if codec not in ("pcm", "wav"):
        raise NotImplementedError(
            f"codec {codec!r} requires ffmpeg/soundfile (not in this container); "
            "supported here: pcm (raw payload), wav (stdlib decode)"
        )
    fixed_chunk = max(1, sample_rate * bytes_per_sample * chunk_ms // 1000)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            pcms, chunk_sizes = [], []
            for p in pdf[binary_col]:
                raw = bytes(p) if p is not None else b""
                if codec == "wav":
                    parsed = _parse_wav(raw)
                    if parsed is None or len(parsed[4]) % (parsed[1] * parsed[2]):
                        pcms.append(None)  # unparseable, or PCM cut mid-frame
                        chunk_sizes.append(1)
                        continue
                    sr, ch, sw, _, pcm = parsed
                    pcms.append(pcm)
                    chunk_sizes.append(max(1, sr * sw * ch * chunk_ms // 1000))
                else:
                    pcms.append(raw)
                    chunk_sizes.append(fixed_chunk)
            counts = np.array(
                [
                    1 if p is None else max(1, -(-len(p) // cb))
                    for p, cb in zip(pcms, chunk_sizes)
                ]
            )
            # vectorized fan-out: repeat each source row counts[i]
            # times; only the byte slice + md5 touch each chunk
            out = pdf.loc[np.repeat(pdf.index.values, counts)].reset_index(drop=True)
            idx = np.concatenate([np.arange(c) for c in counts])
            cbs = np.repeat(np.array(chunk_sizes, dtype="int64"), counts)
            out["chunk_idx"] = idx.astype("int32")
            out["offset_bytes"] = idx.astype("int64") * cbs
            rep_pcm = np.repeat(np.asarray(pcms, dtype=object), counts)
            chunks = [
                None if p is None else p[i * cb : (i + 1) * cb]
                for p, i, cb in zip(rep_pcm, idx, cbs)
            ]
            out["chunk"] = chunks
            out["chunk_hash"] = [
                None if c is None else hashlib.md5(c).hexdigest() for c in chunks
            ]
            yield out

    return df.mapInPandas(kernel, out_schema)


def _write_bmp(rgb) -> bytes:
    """HxWx3 RGB uint8 array → 24-bit bottom-up BMP bytes."""
    import numpy as np

    h, w = rgb.shape[:2]
    row_size = (w * 3 + 3) // 4 * 4
    padded = np.zeros((h, row_size), dtype=np.uint8)
    padded[:, : w * 3] = rgb[:, :, ::-1].reshape(h, w * 3)  # RGB → BGR
    pixel_data = padded[::-1].tobytes()
    return (
        b"BM"
        + (54 + len(pixel_data)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixel_data).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    ) + pixel_data


def resize_images(
    df: DataFrame, binary_col: str = "payload", size: tuple[int, int] = (224, 224), *, fake: bool = False
) -> DataFrame:
    """binary → resized binary. REAL for 24-bit BMP and 8-bit
    truecolor PNG payloads: stdlib/numpy decode → nearest-neighbor
    resample → BMP re-encode (the standard thumbnail/normalize step
    before feature extraction). Other formats (JPEG needs a DCT
    codec) pass through as NULL. ``fake=True`` keeps the legacy
    identity passthrough for generic plumbing tests."""
    import numpy as np

    tw, th = int(size[0]), int(size[1])

    def resize(p):
        parsed = _decode_rgb(p)
        if parsed is None:
            return None
        w, h, rgb = parsed
        xi = (np.arange(tw) * w) // tw  # nearest-neighbor grid
        yi = (np.arange(th) * h) // th
        return (_write_bmp(rgb[yi][:, xi]),)

    return map_rows(
        df,
        [df.schema[binary_col]],
        (lambda p: (p,)) if fake else resize,
        [binary_col],
        keep=[c for c in df.columns if c != binary_col],
    ).select(*df.columns)


def sample_frames(
    df: DataFrame,
    binary_col: str = "payload",
    every_ms: int = 1000,
    n_frames: int = 4,
    *,
    fake: bool = False,
) -> DataFrame:
    """video binary -> exploded frame rows (frame_idx, frame binary).
    Fan-out operator: output rows = input rows × n_frames; partition
    counts must be sized for the POST-explode volume at scale."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("frame_idx", T.IntegerType()), T.StructField("frame", T.BinaryType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not fake:
                raise NotImplementedError("frame sampling requires ffmpeg (not in this container)")
            if pdf.empty:
                continue
            # vectorized fan-out: repeat each row n_frames times, tile
            # the frame index — no per-row python loop over the frame
            # (the md5 itself is per-cell; a real ffmpeg kernel decodes
            # per payload the same way)
            out = pdf.loc[np.repeat(pdf.index.values, n_frames)].reset_index(drop=True)
            out["frame_idx"] = np.tile(np.arange(n_frames, dtype="int32"), len(pdf))
            out["frame"] = [
                hashlib.md5(
                    (bytes(p) if p is not None else b"") + str(i).encode()
                ).digest()
                for p, i in zip(out[binary_col], out["frame_idx"])
            ]
            yield out[[f.name for f in out_schema.fields]]

    return df.mapInPandas(kernel, out_schema)
