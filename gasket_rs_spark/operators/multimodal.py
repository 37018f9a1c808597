"""Multimodal column handling (SURVEY.md tier-X mandate: image/audio/video
as opaque binary columns with typed metadata).

The container has no media libraries (PIL/librosa/ffmpeg), so the codecs
here are pure-Python parsers for *uncompressed* containers — real format
parsing, not stubs:

- image: binary PPM (``P6``) — header tokenizer with comment handling,
  then raw RGB samples;
- audio: WAV/RIFF — chunk walk (``fmt `` + ``data``, unknown chunks
  skipped with even-byte padding), PCM16 little-endian samples;
- video: concatenated-PPM stream (the raw-frame piping format ffmpeg
  emits with ``-f image2pipe -vcodec ppm``) — repeated P6 parse to EOF.

Everything Spark-side is likewise real: the binary column, the metadata
struct schema, the Arrow-batched ``mapInPandas`` plumbing, batch shapes,
and partitioning.

Witnesses:
- ``q_multimodal_meta``: pure-SQL metadata extraction over synthesized
  binary payloads (oracle-checked EXACT);
- ``q_multimodal_features``: the ``mapInPandas`` feature-extraction path
  over raw payload bytes (oracle-checked EXACT — DuckDB recomputes the
  byte stats from the source text);
- ``q_multimodal_decode_stats``: full encode→parse round trip through the
  real containers per modality, stats computed from the *decoded* samples
  (oracle-checked EXACT — the payload samples are a deterministic
  function of the text, so DuckDB recomputes them independently).
"""

from __future__ import annotations

import math
import struct
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gasket_rs_spark.grid import units
from gasket_rs_spark.tables import load

_MODALITIES = ("image", "audio", "video")

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("first_byte", LongType()),
        StructField("last_byte", LongType()),
        StructField("mean_byte", DoubleType()),
    ]
)


_VIDEO_FRAMES = 4


@dataclass
class DecodedMedia:
    """Decoded media asset: per-frame geometry + flat sample values."""

    modality: str
    n_frames: int
    width: int          # first-frame width (pixels) / n_samples for audio
    height: int         # first-frame height / 1 for audio
    sample_rate: int    # audio only; 0 for image/video
    values: np.ndarray  # uint8 RGB samples (image/video) or int16 PCM (audio)


# --- PPM (P6) image codec ------------------------------------------------

def encode_ppm(pixels: bytes, width: int, height: int) -> bytes:
    """Binary PPM: ``P6 <w> <h> 255\\n`` header + raw RGB triplets."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"need {width * height * 3} bytes, got {len(pixels)}")
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def _ppm_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Next whitespace-delimited PPM header token, skipping ``#`` comments."""
    while pos < len(buf):
        c = buf[pos:pos + 1]
        if c == b"#":
            while pos < len(buf) and buf[pos:pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < len(buf) and not buf[pos:pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return buf[start:pos], pos


def parse_ppm(buf: bytes, pos: int = 0) -> tuple[int, int, np.ndarray, int]:
    """Parse one P6 image at ``pos``; returns (w, h, samples, next_pos)."""
    magic, pos = _ppm_token(buf, pos)
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM (magic {magic!r})")
    w_tok, pos = _ppm_token(buf, pos)
    h_tok, pos = _ppm_token(buf, pos)
    max_tok, pos = _ppm_token(buf, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(max_tok)
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported (maxval {maxval})")
    pos += 1  # exactly one whitespace byte separates maxval from raster
    n = w * h * 3
    if pos + n > len(buf):
        raise ValueError("truncated PPM raster")
    return w, h, np.frombuffer(buf, np.uint8, count=n, offset=pos), pos + n


# --- WAV (RIFF/PCM16) audio codec ----------------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV from an int16 sample array."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(buf: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF chunk walk; returns (sample_rate, n_channels, int16 samples)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, end = 12, 8 + struct.unpack("<I", buf[4:8])[0]
    rate = channels = bits = None
    data = None
    while pos + 8 <= min(end, len(buf)):
        cid = buf[pos:pos + 4]
        size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        if pos + 8 + size > len(buf):
            raise ValueError(f"truncated WAV chunk {cid!r}")
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if audio_fmt != 1:
                raise ValueError(f"only PCM supported (format {audio_fmt})")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF pads chunks to even length
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16:
        raise ValueError(f"only 16-bit PCM supported (got {bits})")
    return rate, channels, np.frombuffer(data, "<i2")


# --- payload build + decode ----------------------------------------------

def build_media_payload(data: bytes, modality: str) -> bytes:
    """Deterministically encode raw bytes into a real media container.

    image: one Wx1 P6 PPM over the first ``3*(n//3)`` bytes as RGB;
    audio: mono PCM16 WAV, one sample per byte, centered and scaled
    (``(b - 128) * 256``); video: a concatenated-PPM stream of
    ``_VIDEO_FRAMES`` equal-pixel-count slices of the image raster.
    """
    if modality == "audio":
        samples = (np.frombuffer(data, np.uint8).astype(np.int16) - 128) * 256
        return encode_wav(samples)
    n_pix = len(data) // 3
    if n_pix < 1:
        raise ValueError("payload too small for one pixel")
    raster = data[: n_pix * 3]
    if modality == "image":
        return encode_ppm(raster, n_pix, 1)
    if modality == "video":
        per_frame = -(-n_pix // _VIDEO_FRAMES)  # ceil
        out = []
        for i in range(_VIDEO_FRAMES):
            seg = raster[i * per_frame * 3: min((i + 1) * per_frame, n_pix) * 3]
            if seg:
                out.append(encode_ppm(seg, len(seg) // 3, 1))
        return b"".join(out)
    raise ValueError(f"unknown modality {modality!r}")


def decode_payload(payload: bytes, modality: str) -> DecodedMedia:
    """Decode a media payload with the pure-Python container parsers."""
    if modality == "image":
        w, h, vals, _ = parse_ppm(payload)
        return DecodedMedia("image", 1, w, h, 0, vals)
    if modality == "audio":
        rate, _, samples = parse_wav(payload)
        return DecodedMedia("audio", 1, samples.size, 1, rate, samples)
    if modality == "video":
        frames, pos = [], 0
        while pos < len(payload):
            w, h, vals, pos = parse_ppm(payload, pos)
            frames.append((w, h, vals))
        if not frames:
            raise ValueError("empty video stream")
        return DecodedMedia(
            "video", len(frames), frames[0][0], frames[0][1], 0,
            np.concatenate([f[2] for f in frames]),
        )
    raise ValueError(f"unknown modality {modality!r}")


def with_payload(df: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata a media table has.

    Payload is the utf-8 encoding of ``text`` (deterministic stand-in for
    real media bytes); modality cycles by doc_id.
    """
    modality = F.element_at(
        F.array(*[F.lit(m) for m in _MODALITIES]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return df.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        modality.alias("modality"),
        F.struct(
            F.octet_length("text").cast("bigint").alias("n_bytes"),
            (F.col("n_chars") % 1280).cast("bigint").alias("width"),
            (F.col("n_chars") % 720).cast("bigint").alias("height"),
        ).alias("meta"),
    )


def _decoded_assets(
    spark: SparkSession, sf_dir: str, modality: str, min_bytes: int, kernel, schema: StructType
) -> DataFrame:
    """One Arrow-batched pass over the ``modality`` assets whose payload
    has at least ``min_bytes`` bytes: each payload is packed into its
    real container (``build_media_payload``) and ``kernel(doc_id,
    container)`` returns the asset's output rows. The Arrow UDF takes the
    kernel's name, so the plan names the kernel that runs."""
    docs = with_payload(load(spark, sf_dir, "documents")).where(
        (F.col("modality") == modality) & (F.length("payload") >= min_bytes)
    ).select("doc_id", "payload")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                rows += kernel(doc_id, build_media_payload(bytes(payload), modality))
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    extract.__name__ = kernel.__name__
    return docs.mapInPandas(extract, schema)


def _mean6(total: int, n: int) -> float:
    """total / n floor-snapped on the 1e-6 grid — the IEEE expression the
    oracles spell (round() implementations disagree on the half-grid)."""
    return math.floor(total / n * 1000000 + 0.5) / 1000000


def _image_blocks(container: bytes) -> tuple[np.ndarray, list[int]]:
    """The decoded W×1 image as an int64 (pixels × RGB) matrix and the
    floor boundaries of its ``_RESIZE_BLOCKS`` equal blocks."""
    media = decode_payload(container, "image")
    p = media.width
    M = media.values.reshape(p, 3).astype(np.int64)
    return M, [b * p // _RESIZE_BLOCKS for b in range(_RESIZE_BLOCKS + 1)]


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over binary payload columns, grouped by modality."""
    docs = with_payload(load(spark, sf_dir, "documents"))
    return (
        docs.groupBy("modality")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
            F.round(F.avg(F.col("meta.width")), 4).alias("avg_width"),
            F.round(F.avg(F.col("meta.height")), 4).alias("avg_height"),
            F.max(F.length("payload")).cast("bigint").alias("max_payload"),
        )
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    The pattern that matters at 100 TB: payloads stay partitioned, each
    Arrow batch is decoded in-process, and only the (tiny) feature vectors
    come back. The statistics are over the raw payload bytes, so the
    oracle can recompute them from the source text.
    """
    # Project to exactly the columns the extractor needs BEFORE the Arrow
    # boundary — the metadata struct would otherwise ride along in every
    # batch (payload bytes dominate; don't double the transfer).
    docs = with_payload(load(spark, sf_dir, "documents")).select(
        "doc_id", "payload", "modality"
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Byte statistics via numpy views over the payload buffers —
            # no interpreter loop over individual bytes (at 100 TB the
            # per-byte Python loop this replaces IS the job's runtime).
            arrays = [np.frombuffer(b, dtype=np.uint8) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [a.size for a in arrays],
                    "first_byte": [int(a[0]) if a.size else None for a in arrays],
                    "last_byte": [int(a[-1]) if a.size else None for a in arrays],
                    "mean_byte": [
                        # int(a.sum())/size (not a.mean()): pairwise-
                        # summation float differs from the oracle's exact
                        # integer-sum-then-divide on low-order bits.
                        _mean6(int(a.sum()), a.size) if a.size else None
                        for a in arrays
                    ],
                }
            )

    return docs.mapInPandas(extract, FEATURE_SCHEMA)


DECODE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_units", LongType()),
        StructField("n_frames", LongType()),
        StructField("mean_value", DoubleType()),
        StructField("max_value", LongType()),
    ]
)


def q_multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→parse round trip through the real containers, per modality.

    Each doc's text bytes are packed into a genuine PPM / WAV /
    concatenated-PPM payload, parsed back with the pure-Python codecs, and
    the stats below are computed from the *decoded* samples. The oracle
    recomputes them straight from the text, so an EXACT match proves both
    the encoder and the parser (a header-size error, endianness flip, or
    off-by-one in the chunk walk all shift the stats).

    Scale shape: same as ``q_multimodal_features`` — payloads stay
    partitioned, codec work happens per Arrow batch, only fixed-width
    stats rows cross back.
    """
    docs = with_payload(load(spark, sf_dir, "documents")).where(
        F.length("payload") >= 3
    ).select("doc_id", "payload", "modality")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, modality in zip(
                pdf["doc_id"], pdf["payload"], pdf["modality"]
            ):
                media = decode_payload(
                    build_media_payload(bytes(payload), modality), modality
                )
                vals = media.values
                # int(sum)/n, as in q_multimodal_features' mean_byte
                mean = _mean6(int(vals.sum()), vals.size)
                rows.append(
                    (
                        doc_id,
                        modality,
                        vals.size if modality == "audio" else vals.size // 3,
                        media.n_frames,
                        mean,
                        int(vals.max()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in DECODE_STATS_SCHEMA.fields]
            )

    return docs.mapInPandas(roundtrip, DECODE_STATS_SCHEMA)


# pixel count and per-channel means of an image or of one resize block
_CHANNEL_MEANS = [
    StructField("n_pix", LongType()),
    *[StructField(f"mean_{c}", DoubleType()) for c in "rgb"],
]

CHANNEL_SCHEMA = StructType([StructField("doc_id", LongType()), *_CHANNEL_MEANS])


def q_multimodal_image_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel (R/G/B) statistics over DECODED pixels: each image doc
    is packed into a real PPM, parsed back, and the raster is reshaped
    (n_pix, 3) for vectorized channel means — the canonical image
    feature-extraction shape (decode → ndarray → per-channel reduce).
    Oracle recomputes the channel means from the text bytes by stride-3
    index selection, so the raster layout (interleaved RGB triplets, not
    planar) is part of what the EXACT match pins."""
    def extract(doc_id, container):
        px = decode_payload(container, "image").values.reshape(-1, 3).astype(np.int64)
        n_pix = px.shape[0]
        return [(doc_id, n_pix, *[_mean6(int(px[:, c].sum()), n_pix) for c in range(3)])]

    return _decoded_assets(spark, sf_dir, "image", 3, extract, CHANNEL_SCHEMA)


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("mean_abs", DoubleType()),
        StructField("zero_crossings", LongType()),
    ]
)


def q_multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio features over DECODED PCM: each audio doc is packed into a
    real RIFF/WAV container, chunk-walked back to int16 samples, and
    reduced to mean absolute amplitude + zero-crossing count (the
    classic cheap VAD/energy features). Sign changes are strict products
    < 0, so the int16 centering convention ((b-128)*256, exact zero at
    b=128) is part of what the EXACT oracle pins."""
    def extract(doc_id, container):
        s = decode_payload(container, "audio").values.astype(np.int64)
        zc = int(np.sum(s[:-1] * s[1:] < 0))
        return [(doc_id, s.size, _mean6(int(np.abs(s).sum()), s.size), zc)]

    return _decoded_assets(spark, sf_dir, "audio", 3, extract, AUDIO_SCHEMA)


SPECTRUM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", LongType()),
        StructField("dom_bin", LongType()),
        StructField("dom_freq_hz", DoubleType()),
        StructField("centroid_bin", DoubleType()),
    ]
)


def q_multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral features over decoded PCM: dominant frequency bin (rFFT
    argmax excluding DC) and spectral centroid per clip — the first step
    of any audio fingerprint / content-classification pipeline. numpy
    rFFT per Arrow batch; EXACT-oracled since round 9 (VERDICT r8 #6):
    clips are ≤~600 samples, so the DuckDB twin runs the naive O(n²) DFT
    (cos/sin sums with the angle reduced as 2π·((k·i) mod n)/n, keeping
    both engines' trig arguments in [0, 2π) — measured bit-identical to
    numpy's rFFT after the 1e-4 snap at every SF). The physics stays
    pinned in pytest too: synthetic sine WAVs at known frequencies must
    land their energy in the predicted bin
    (tests/test_multimodal_decode.py).

    Argmax ties break toward the LOWEST bin (np.argmax's first-max rule,
    mirrored in the oracle as min(k) over max-magnitude bins); centroid
    is snapped on the 1e-4 grid; dom_freq_hz = dom·8000/n can never land
    on the half-grid (n ≤ 577 lacks the 2^11 factor the half-grid would
    need). Scale shape: identical to the other decode witnesses —
    one Arrow-batched pass, fixed small output row per asset; the
    quadratic DFT lives only in the oracle.
    """
    def extract(doc_id, container):
        media = decode_payload(container, "audio")
        s = media.values.astype(np.float64)
        mag = np.abs(np.fft.rfft(s))
        if mag.size > 1:
            body = mag[1:]
            dom = int(np.argmax(body)) + 1
            denom = float(body.sum())
            centroid = (
                float((np.arange(1, mag.size) * body).sum()) / denom
                if denom > 0.0
                else 0.0
            )
        else:
            dom, centroid = 0, 0.0
        dom_freq = dom * media.sample_rate / s.size
        return [
            (
                doc_id,
                s.size,
                media.sample_rate,
                dom,
                math.floor(dom_freq * 10000 + 0.5) / 10000,
                math.floor(centroid * 10000 + 0.5) / 10000,
            )
        ]

    return _decoded_assets(spark, sf_dir, "audio", 3, extract, SPECTRUM_SCHEMA)


_RESIZE_BLOCKS = 8

RESIZE_SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("block", LongType()), *_CHANNEL_MEANS]
)


def q_multimodal_image_resize_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decoded image downsampling (not just metadata bookkeeping):
    each W×1 PPM raster is parsed back to pixels and block-averaged to a
    fixed 8-block thumbnail, per channel — the resize every vision-data
    pipeline runs before feature extraction. Block b covers pixels
    [b·p/8, (b+1)·p/8) with integer floor boundaries, so the partition
    is exact and engine-independent; channel sums are integer, means are
    floor-snapped on the 1e-6 grid → EXACT-oracled (the DuckDB twin
    reconstructs the same bytes from the doc text and block-averages
    with list arithmetic). One Arrow-batched pass; constant 8 rows out
    per asset."""
    def extract(doc_id, container):
        M, bounds = _image_blocks(container)
        rows = []
        for b in range(_RESIZE_BLOCKS):
            lo, hi = bounds[b], bounds[b + 1]
            means = [_mean6(int(s), hi - lo) for s in M[lo:hi].sum(axis=0)]
            rows.append((doc_id, b, hi - lo, *means))
        return rows

    return _decoded_assets(
        spark, sf_dir, "image", 3 * _RESIZE_BLOCKS, extract, RESIZE_SCHEMA
    )


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ahash", LongType()),
    ]
)


def q_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup by average hash (aHash): each decoded
    raster reduces to 8 block-gray means, each block contributes one bit
    (mean above the image's overall mean), and images sharing an 8-bit
    hash form candidate duplicate groups — the standard cheap
    image-near-dup baseline, bridging the multimodal decode path into
    the dedup family. All comparisons are integer-sum / count divisions,
    so the hash (and thus every group) is engine-exact; the witness
    emits the collision groups (hash, n_images, representative).

    Scale: one Arrow-batched decode pass emitting 8 bytes per asset,
    then a groupBy on the hash — the same shuffle shape as exact text
    dedup. A production variant widens to 64-bit aHash + banded Hamming
    join (the SimHash machinery in dedup.py applies unchanged)."""
    def hashes(doc_id, container):
        M, bounds = _image_blocks(container)
        total_mean = M.sum() / (3 * len(M))
        h = 0
        for b in range(_RESIZE_BLOCKS):
            lo, hi = bounds[b], bounds[b + 1]
            if M[lo:hi].sum() / (3 * (hi - lo)) > total_mean:
                h |= 1 << b
        return [(doc_id, h)]

    hashed = _decoded_assets(
        spark, sf_dir, "image", 3 * _RESIZE_BLOCKS, hashes, AHASH_SCHEMA
    )
    return (
        hashed.groupBy("ahash")
        .agg(F.count("*").alias("n_images"), F.min("doc_id").alias("rep_doc"))
        .where(F.col("n_images") >= 2)
    )


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", LongType()),
    ]
)


def q_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup by DIFFERENCE hash (dHash): where aHash
    compares each block to the global mean, dHash compares ADJACENT
    block means — bit b set iff mean(block b) > mean(block b+1) — the
    gradient signature that is robust to global brightness shifts
    (the standard aHash failure mode). 7 bits over the 8-block
    decomposition; collision groups are candidate duplicates.

    The comparison is the pure-integer cross-multiplication
    S_b·W_{b+1} > S_{b+1}·W_b (block sums × widths — no division at
    all), so the hash is engine-exact by construction. Same
    Arrow-batched decode pass and hash-groupBy shuffle shape as
    q_image_ahash_dedup; the same 64-bit + banded-Hamming production
    widening applies."""
    def hashes(doc_id, container):
        M, bounds = _image_blocks(container)
        sums = [int(M[bounds[b] : bounds[b + 1]].sum()) for b in range(_RESIZE_BLOCKS)]
        widths = [bounds[b + 1] - bounds[b] for b in range(_RESIZE_BLOCKS)]
        h = 0
        for b in range(_RESIZE_BLOCKS - 1):
            if sums[b] * widths[b + 1] > sums[b + 1] * widths[b]:
                h |= 1 << b
        return [(doc_id, h)]

    hashed = _decoded_assets(
        spark, sf_dir, "image", 3 * _RESIZE_BLOCKS, hashes, DHASH_SCHEMA
    )
    return (
        hashed.groupBy("dhash")
        .agg(F.count("*").alias("n_images"), F.min("doc_id").alias("rep_doc"))
        .where(F.col("n_images") >= 2)
        .orderBy("dhash")
    )


TEMPORAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pair", LongType()),
        StructField("n_vals", LongType()),
        StructField("mean_abs_diff", DoubleType()),
    ]
)


def q_multimodal_video_temporal_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal motion features over DECODED video: mean absolute
    pixel-value difference between consecutive frames of each
    concatenated-PPM stream — the scene-change / static-clip signal a
    video curation pipeline thresholds on. Frames are re-parsed from the
    container (sizes vary on the last slice), each consecutive pair is
    compared over the common prefix of RGB values, and the integer
    absolute-difference sum is floor-snapped — EXACT-oracled by a DuckDB
    twin that recomputes the same frame boundaries with list arithmetic
    over the reconstructed bytes."""
    def extract(doc_id, stream):
        frames, pos = [], 0
        while pos < len(stream):
            _, _, vals, pos = parse_ppm(stream, pos)
            frames.append(vals.astype(np.int64))
        rows = []
        for k in range(len(frames) - 1):
            a, b = frames[k], frames[k + 1]
            m = min(a.size, b.size)
            if m:
                rows.append((doc_id, k, m, _mean6(int(np.abs(a[:m] - b[:m]).sum()), m)))
        return rows

    return _decoded_assets(spark, sf_dir, "video", 6, extract, TEMPORAL_SCHEMA)


_N_FRAMES = 4


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: split each payload into N equal-size frames and
    emit per-frame metadata — the video-pipeline shape (sample k frames
    per asset, process each independently, keep the asset key).

    Uses binary slicing JVM-side (substring on the payload) + posexplode;
    a real decoder would replace the slicer inside the same plan shape.
    """
    docs = with_payload(load(spark, sf_dir, "documents")).where(
        F.col("modality") == "video"
    )
    plen = F.length("payload")
    frame_len = F.ceil(plen / _N_FRAMES).cast("int")
    frames = F.transform(
        F.sequence(F.lit(0), F.lit(_N_FRAMES - 1)),
        # Column.substr accepts Column offsets (F.substring wants literals)
        lambda i: F.col("payload").substr((i * frame_len + 1).cast("int"), frame_len),
    )
    ex = docs.select("doc_id", F.posexplode(frames).alias("frame_idx", "frame"))
    return (
        ex.where(F.length("frame") > 0)
        .select(
            "doc_id",
            "frame_idx",
            F.length("frame").cast("bigint").alias("frame_bytes"),
            F.ascii(F.substring(F.col("frame").cast("string"), 1, 1)).cast("bigint").alias("first_byte"),
        )
    )


def q_multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize as a metadata transform: target box fit (max 224x224)
    preserving aspect ratio — the bookkeeping half of an image resize
    (the pixel half is the stubbed decoder)."""
    docs = with_payload(load(spark, sf_dir, "documents")).where(F.col("modality") == "image")
    w = F.greatest(F.col("meta.width"), F.lit(1))
    h = F.greatest(F.col("meta.height"), F.lit(1))
    scale = F.least(F.lit(224.0) / w, F.lit(224.0) / h, F.lit(1.0))
    return docs.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.floor(w * scale).cast("bigint").alias("new_width"),
        F.floor(h * scale).cast("bigint").alias("new_height"),
    )


def q_video_shot_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOT-BOUNDARY segmentation over decoded video: consumes the
    per-frame-pair motion signal of q_multimodal_video_temporal_diff
    (same Arrow-batched decode kernel — one plan, no re-decode
    elsewhere) and declares a CUT wherever a pair's mean abs diff
    exceeds the CLIP'S OWN mean motion (the data-derived threshold, so
    no fixed constant degenerates at another scale). Shots = cuts + 1
    — the clip-level structure signal a video-curation pipeline uses
    to drop static or strobing clips.

    Integer core: diffs snap to 1e-6 micro-units at the kernel
    boundary; the threshold compare is the cross-multiplied integer
    d6·n_pairs > Σd6 (never a float mean). Scale: per-doc aggregates
    only — the segmentation adds one map-side-combinable groupBy over
    the decode output."""
    d = q_multimodal_video_temporal_diff(spark, sf_dir).select(
        "doc_id",
        "pair",
        units(F.col("mean_abs_diff")).alias("d6"),
    )
    stats = d.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("d6").cast("bigint").alias("sum6"),
        F.max("d6").cast("bigint").alias("max_d6"),
    )
    return (
        d.join(stats, "doc_id")
        .groupBy("doc_id", "n_pairs", "sum6", "max_d6")
        .agg(
            F.sum(
                (F.col("d6") * F.col("n_pairs") > F.col("sum6")).cast("bigint")
            )
            .cast("bigint")
            .alias("n_cuts")
        )
        .select(
            "doc_id",
            (F.col("n_pairs") + 1).cast("bigint").alias("n_frames"),
            "n_cuts",
            (F.col("n_cuts") + 1).cast("bigint").alias("n_shots"),
            F.expr("sum6 div n_pairs").cast("bigint").alias("mean_d6"),
            "max_d6",
        )
        .orderBy("doc_id")
    )


_VIDEO_DIFF_SQL = """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) // 3 AS p
            FROM documents
            WHERE doc_id % 3 = 2 AND octet_length(encode(text)) >= 6
        ), s AS (
            SELECT doc_id, p, (p + 3) // 4 AS pf,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c))[1 : p * 3] AS b
            FROM t
        ), pairs AS (
            SELECT doc_id, p, pf, b, u.k,
                   least(pf, p - (u.k + 1) * pf) AS m
            FROM s CROSS JOIN (SELECT unnest(range(3)) AS k) u
            WHERE (u.k + 1) * pf < p
        )
        SELECT doc_id, k AS pair, 3 * m AS n_vals,
               floor(CAST(list_sum(list_transform(range(0, 3 * m),
                     i -> abs(b[k * pf * 3 + i + 1] - b[(k + 1) * pf * 3 + i + 1])))
                     AS DOUBLE) / (3 * m) * 1000000 + 0.5) / 1000000 AS mean_abs_diff
        FROM pairs
    """


ORACLES: dict[str, str] = {
    "multimodal_image_channels": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) // 3 AS p
            FROM documents
            WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 3
        ), s AS (
            SELECT doc_id, p,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c))[1 : p * 3] AS b
            FROM t
        )
        SELECT doc_id, p AS n_pix,
               floor(CAST(list_sum(list_select(b,
                     list_filter(range(1, p * 3 + 1), i -> (i - 1) % 3 = 0)))
                     AS DOUBLE) / p * 1000000 + 0.5) / 1000000 AS mean_r,
               floor(CAST(list_sum(list_select(b,
                     list_filter(range(1, p * 3 + 1), i -> (i - 2) % 3 = 0)))
                     AS DOUBLE) / p * 1000000 + 0.5) / 1000000 AS mean_g,
               floor(CAST(list_sum(list_select(b,
                     list_filter(range(1, p * 3 + 1), i -> i % 3 = 0)))
                     AS DOUBLE) / p * 1000000 + 0.5) / 1000000 AS mean_b
        FROM s
    """,
    "multimodal_image_resize_decoded": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) // 3 AS p
            FROM documents
            WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 24
        ), s AS (
            SELECT doc_id, p,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c))[1 : p * 3] AS b
            FROM t
        ), blocks AS (
            SELECT doc_id, p, b, u.blk,
                   (p * u.blk) // 8 AS lo, (p * (u.blk + 1)) // 8 AS hi
            FROM s CROSS JOIN (SELECT unnest(range(8)) AS blk) u
        )
        SELECT doc_id, blk AS block, hi - lo AS n_pix,
               floor(CAST(list_sum(list_select(b, list_filter(range(1, p * 3 + 1),
                     i -> (i - 1) // 3 >= lo AND (i - 1) // 3 < hi AND (i - 1) % 3 = 0)))
                     AS DOUBLE) / (hi - lo) * 1000000 + 0.5) / 1000000 AS mean_r,
               floor(CAST(list_sum(list_select(b, list_filter(range(1, p * 3 + 1),
                     i -> (i - 1) // 3 >= lo AND (i - 1) // 3 < hi AND (i - 1) % 3 = 1)))
                     AS DOUBLE) / (hi - lo) * 1000000 + 0.5) / 1000000 AS mean_g,
               floor(CAST(list_sum(list_select(b, list_filter(range(1, p * 3 + 1),
                     i -> (i - 1) // 3 >= lo AND (i - 1) // 3 < hi AND (i - 1) % 3 = 2)))
                     AS DOUBLE) / (hi - lo) * 1000000 + 0.5) / 1000000 AS mean_b
        FROM blocks
    """,
    "image_dhash_dedup": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) // 3 AS p
            FROM documents
            WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 24
        ), s AS (
            SELECT doc_id, p,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c))[1 : p * 3] AS b
            FROM t
        ), blocks AS (
            SELECT doc_id, p, u.blk,
                   CAST(list_sum(list_select(b,
                        list_filter(range(1, p * 3 + 1),
                            i -> (i - 1) // 3 >= (p * u.blk) // 8
                                 AND (i - 1) // 3 < (p * (u.blk + 1)) // 8)))
                        AS BIGINT) AS s_b,
                   (p * (u.blk + 1)) // 8 - (p * u.blk) // 8 AS w_b
            FROM s CROSS JOIN (SELECT unnest(range(8)) AS blk) u
        ), bits AS (
            SELECT a.doc_id,
                   CASE WHEN a.s_b * b2.w_b > b2.s_b * a.w_b
                        THEN 1::BIGINT << a.blk ELSE 0 END AS bit
            FROM blocks a JOIN blocks b2
              ON a.doc_id = b2.doc_id AND b2.blk = a.blk + 1
        ), hashed AS (
            SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash
            FROM bits GROUP BY doc_id
        )
        SELECT dhash, count(*) AS n_images, min(doc_id) AS rep_doc
        FROM hashed
        GROUP BY dhash
        HAVING count(*) >= 2
        ORDER BY dhash
    """,
    "image_ahash_dedup": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) // 3 AS p
            FROM documents
            WHERE doc_id % 3 = 0 AND octet_length(encode(text)) >= 24
        ), s AS (
            SELECT doc_id, p,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c))[1 : p * 3] AS b
            FROM t
        ), blocks AS (
            SELECT doc_id, p, b, u.blk,
                   (p * u.blk) // 8 AS lo, (p * (u.blk + 1)) // 8 AS hi
            FROM s CROSS JOIN (SELECT unnest(range(8)) AS blk) u
        ), bits AS (
            SELECT doc_id, blk,
                   CASE WHEN CAST(list_sum(list_select(b, list_filter(range(1, p * 3 + 1),
                             i -> (i - 1) // 3 >= lo AND (i - 1) // 3 < hi)))
                             AS DOUBLE) / (3 * (hi - lo))
                        > CAST(list_sum(b) AS DOUBLE) / (3 * p)
                        THEN 1::BIGINT << blk ELSE 0 END AS bit
            FROM blocks
        ), hashed AS (
            SELECT doc_id, CAST(sum(bit) AS BIGINT) AS ahash
            FROM bits GROUP BY doc_id
        )
        SELECT ahash, count(*) AS n_images, min(doc_id) AS rep_doc
        FROM hashed
        GROUP BY ahash
        HAVING count(*) >= 2
    """,
    "multimodal_video_temporal_diff": _VIDEO_DIFF_SQL,
    "video_shot_segmentation": f"""
        WITH base AS ({_VIDEO_DIFF_SQL}
        ), d AS (
            SELECT doc_id, pair,
                   CAST(floor(mean_abs_diff * 1e6 + 0.5) AS BIGINT) AS d6
            FROM base
        ), stats AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(d6) AS BIGINT) AS sum6,
                   CAST(max(d6) AS BIGINT) AS max_d6
            FROM d GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(s.n_pairs + 1 AS BIGINT) AS n_frames,
               CAST(sum(CASE WHEN d.d6 * s.n_pairs > s.sum6 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_cuts,
               CAST(sum(CASE WHEN d.d6 * s.n_pairs > s.sum6 THEN 1 ELSE 0 END)
                    + 1 AS BIGINT) AS n_shots,
               CAST(s.sum6 // s.n_pairs AS BIGINT) AS mean_d6,
               s.max_d6
        FROM d JOIN stats s ON d.doc_id = s.doc_id
        GROUP BY d.doc_id, s.n_pairs, s.sum6, s.max_d6
        ORDER BY d.doc_id
    """,
    "multimodal_audio_features": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents
            WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 3
        ), s AS (
            SELECT doc_id, n,
                   list_transform(string_split(text, ''),
                                  c -> (unicode(c) - 128) * 256) AS st
            FROM t
        )
        SELECT doc_id, n AS n_samples,
               floor(CAST(list_sum(list_transform(st, x -> abs(x)))
                     AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS mean_abs,
               CAST(len(list_filter(range(1, n),
                    i -> list_extract(st, i) * list_extract(st, i + 1) < 0))
                    AS BIGINT) AS zero_crossings
        FROM s
    """,
    "multimodal_audio_spectrum": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents WHERE doc_id % 3 = 1 AND octet_length(encode(text)) >= 3
        ), s AS (
            SELECT doc_id, n,
                   list_transform(string_split(text, ''),
                                  c -> CAST((unicode(c) - 128) * 256 AS DOUBLE)) AS st
            FROM t
        ), ks AS (
            SELECT doc_id, n, st, unnest(range(1, n // 2 + 1)) AS k FROM s
        ), mags AS (
            -- naive O(n^2) DFT magnitude per (doc, bin): angle reduced
            -- mod n BEFORE the trig so both engines evaluate cos/sin on
            -- arguments in [0, 2*pi) (large-argument reduction drift is
            -- the cross-engine risk; numpy's rFFT uses exact roots of
            -- unity, equivalent to this reduction)
            SELECT doc_id, n, k,
                   sqrt(
                     pow(list_sum(list_transform(range(0, n),
                         i -> st[i + 1] * cos(2 * pi() * ((k * i) % n) / n))), 2)
                   + pow(list_sum(list_transform(range(0, n),
                         i -> st[i + 1] * sin(2 * pi() * ((k * i) % n) / n))), 2)
                   ) AS mag
            FROM ks
        ), agg AS (
            SELECT doc_id, any_value(n) AS n, max(mag) AS mx,
                   sum(k * mag) / sum(mag) AS centroid
            FROM mags GROUP BY doc_id
        ), dom AS (
            -- np.argmax first-max rule: lowest bin among max-magnitude
            SELECT m.doc_id, min(m.k) AS dom
            FROM mags m JOIN agg a ON m.doc_id = a.doc_id AND m.mag = a.mx
            GROUP BY m.doc_id
        )
        SELECT a.doc_id, CAST(a.n AS BIGINT) AS n_samples,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(d.dom AS BIGINT) AS dom_bin,
               floor(CAST(d.dom AS DOUBLE) * 8000 / a.n * 10000 + 0.5) / 10000
                   AS dom_freq_hz,
               floor(a.centroid * 10000 + 0.5) / 10000 AS centroid_bin
        FROM agg a JOIN dom d USING (doc_id)
    """,
    "multimodal_decode_stats": """
        WITH t AS (
            SELECT doc_id, text,
                   octet_length(encode(text)) AS n,
                   octet_length(encode(text)) // 3 AS p,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS modality
            FROM documents
            WHERE octet_length(encode(text)) >= 3
        ), s AS (
            SELECT doc_id, modality, n, p,
                   list_transform(string_split(text, ''),
                                  c -> unicode(c)) AS bytes_all
            FROM t
        )
        SELECT doc_id, modality,
               CASE modality WHEN 'audio' THEN n ELSE p END AS n_units,
               CASE modality WHEN 'video'
                    THEN CAST(ceil(CAST(p AS DOUBLE)
                              / CAST(ceil(p / 4.0) AS BIGINT)) AS BIGINT)
                    ELSE 1 END AS n_frames,
               CASE modality WHEN 'audio'
                    -- PCM sample b -> (b-128)*256; exact-int sum then one
                    -- double division, floor-snapped — same IEEE ops as
                    -- the mapInPandas kernel.
                    THEN floor((CAST(list_sum(bytes_all) AS DOUBLE) - 128 * n)
                               * 256.0 / n * 1000000 + 0.5) / 1000000
                    ELSE floor(CAST(list_sum(bytes_all[1 : p * 3]) AS DOUBLE)
                               / (p * 3) * 1000000 + 0.5) / 1000000
               END AS mean_value,
               CASE modality WHEN 'audio'
                    THEN CAST((list_max(bytes_all) - 128) * 256 AS BIGINT)
                    ELSE CAST(list_max(bytes_all[1 : p * 3]) AS BIGINT)
               END AS max_value
        FROM s
    """,
    "multimodal_frame_sample": """
        WITH t AS (
            SELECT doc_id, text, octet_length(encode(text)) AS plen,
                   CAST(ceil(octet_length(encode(text)) / 4.0) AS INT) AS flen
            FROM documents
            WHERE doc_id % 3 = 2
        )
        SELECT doc_id, i AS frame_idx,
               length(substr(text, i * flen + 1, flen)) AS frame_bytes,
               unicode(substr(text, i * flen + 1, 1)) AS first_byte
        FROM t, (SELECT unnest([0, 1, 2, 3]) AS i)
        WHERE length(substr(text, i * flen + 1, flen)) > 0
    """,
    "multimodal_resize_meta": """
        WITH t AS (
            SELECT doc_id,
                   n_chars % 1280 AS width,
                   n_chars % 720 AS height,
                   greatest(n_chars % 1280, 1) AS w,
                   greatest(n_chars % 720, 1) AS h
            FROM documents
            WHERE doc_id % 3 = 0
        )
        SELECT doc_id, width, height,
               CAST(floor(w * least(224.0 / w, 224.0 / h, 1.0)) AS BIGINT) AS new_width,
               CAST(floor(h * least(224.0 / w, 224.0 / h, 1.0)) AS BIGINT) AS new_height
        FROM t
    """,
    "multimodal_meta": """
        WITH t AS (
            SELECT doc_id, text, n_chars,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS modality
            FROM documents
        )
        SELECT modality,
               count(*) AS n_assets,
               -- DuckDB sums BIGINT into HUGEINT (int128); the driver's
               -- canonicalizer materializes HUGEINT as float64, which
               -- hash-mismatches Spark's int64. Every integer sum in an
               -- oracle gets CAST AS BIGINT (round-1 array lesson, pt 2).
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               round(avg(n_chars % 1280), 4) AS avg_width,
               round(avg(n_chars % 720), 4) AS avg_height,
               max(octet_length(encode(text))) AS max_payload
        FROM t
        GROUP BY modality
    """,
    "multimodal_features": """
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS modality,
               octet_length(encode(text)) AS n_bytes,
               unicode(substr(text, 1, 1)) AS first_byte,
               unicode(substr(text, length(text), 1)) AS last_byte,
               floor(list_avg(list_transform(string_split(text, ''),
                                             c -> unicode(c))) * 1000000 + 0.5) / 1000000 AS mean_byte
        FROM documents
    """,
}
