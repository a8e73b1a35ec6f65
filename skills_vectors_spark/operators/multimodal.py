"""Multimodal columns — image/audio/video as opaque `binary` payloads
with typed metadata, processed by Arrow-batched Pandas UDFs
(BASELINE.json north star; no reference equivalent — the reference
embeds text only).

Every decode is REAL as of r7: binary P6 PPM for images (decode_ppm,
r6), RIFF/WAVE PCM for audio (decode_wav, r6), and YUV4MPEG2 for
video (decode_y4m, r7) — all public container formats parsed from
genuine planted bytes, no media libraries needed. The fixtures plant
payloads whose decoded content is md5-derived, so every feature the
parsers recover is predicted closed-form by the DuckDB oracles; the
engineering around the decoders is production-shaped: schema
contract, mapInPandas batch shape, per-partition decoder init,
explode-to-frames fan-out, and metadata-driven partition pruning.
Swapping a parser for PIL/torchaudio/ffmpeg changes one function.

Scale: payloads never leave the executor that read them; decode is
per-partition streaming over Arrow batches (no collect, no driver
hop); frame fan-out multiplies rows inside mapInPandas before the
shuffle so the exchange carries small feature rows, not blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skills_vectors_spark import sources
from skills_vectors_spark.registry import register


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal input contract from the documents
    table: (media_id, payload binary, media_type, meta struct). In
    production this is a parquet/lance scan of real blobs; the schema
    and partitioning are what matter here."""
    d = sources.load(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.struct(
            F.col("n_chars").cast("long").alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL image decode: binary P6 PPM (netpbm format spec, public —
    netpbm.sourceforge.net/doc/ppm.html). Parses the magic number,
    whitespace/comment-separated width, height, and maxval tokens,
    then reads the raw RGB raster into a (h, w, 3) uint8 array.
    Raises on anything malformed — a truncated raster must never
    silently yield a short image."""
    if payload[:2] != b"P6":
        raise ValueError(f"not a P6 PPM: magic {payload[:2]!r}")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos : pos + 1]
        if c == b"#":  # comment runs to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(payload) and payload[pos : pos + 1].isdigit():
                pos += 1
            tokens.append(int(payload[start:pos]))
        else:
            raise ValueError(f"bad PPM header byte {c!r} at {pos}")
    w, h, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    pos += 1  # exactly one whitespace byte separates maxval from raster
    raster = payload[pos : pos + h * w * 3]
    if len(raster) != h * w * 3:
        raise ValueError(f"truncated PPM raster: {len(raster)} != {h * w * 3}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def _plant_ppm(text: str) -> bytes:
    """Fixture planting for the image queries: a REAL binary P6 PPM
    whose dimensions and pixel values derive deterministically from
    md5(text), so the DuckDB oracle can predict exactly what the real
    decoder must recover. Raster: channel c pixel (y, x) = base_c +
    y + x, with base_c < 128 and y + x <= 28, so no byte ever wraps —
    which keeps the channel means closed-form (base_c + (h-1)/2 +
    (w-1)/2)."""
    digest = hashlib.md5(text.encode("utf-8")).hexdigest()
    h = 8 + int(digest[0:2], 16) % 8
    w = 8 + int(digest[2:4], 16) % 8
    base = [int(digest[4:6], 16) % 128, int(digest[6:8], 16) % 128, int(digest[8:10], 16) % 128]
    grad = np.arange(h)[:, None] + np.arange(w)[None, :]
    img = np.stack([b + grad for b in base], axis=-1).astype(np.uint8)
    return f"P6\n{w} {h}\n255\n".encode("ascii") + img.tobytes()


def ppm_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) for the IMAGE subset, with payloads that are
    real P6 PPM files planted from the documents table (_plant_ppm).
    The generic media_table keeps serving the frame/audio/metadata
    queries; the image decode path reads these genuine image bytes."""
    # NULL text plants no image (nothing to derive the raster from) —
    # the oracles carry the same text IS NOT NULL predicate
    d = sources.load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 0) & F.col("text").isNotNull()
    )
    spread = sources.spread(spark, d.select("doc_id", "text"))

    def plant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [_plant_ppm(t) for t in pdf["text"]],
                }
            )

    return spread.mapInPandas(
        plant,
        T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


_IMG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def image_features_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> per-channel feature extraction over image payloads,
    emitting the RAW feature columns (mean_r/g/b) a pipeline consumes.
    The decode is the REAL P6 PPM parser (decode_ppm) reading genuine
    planted image bytes; the means are computed from the decoded
    raster, not from any metadata shortcut."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition init: a real impl would set up the codec here
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = decode_ppm(bytes(payload))
                means = img.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        int(mid),
                        img.shape[0],
                        img.shape[1],
                        float(means[0]),
                        float(means[1]),
                        float(means[2]),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in _IMG_SCHEMA.fields])

    return ppm_media_table(spark, sf_dir).mapInPandas(run, _IMG_SCHEMA)


@register(
    "mm_image_features",
    """
    SELECT doc_id AS media_id,
           8 + ('0x' || substr(md5(text), 1, 2))::INT % 8 AS height,
           8 + ('0x' || substr(md5(text), 3, 2))::INT % 8 AS width,
           round(('0x' || substr(md5(text), 5, 2))::INT % 128
                 + (8 + ('0x' || substr(md5(text), 1, 2))::INT % 8 - 1) / 2.0
                 + (8 + ('0x' || substr(md5(text), 3, 2))::INT % 8 - 1) / 2.0,
                 6) AS mean_r,
           round(('0x' || substr(md5(text), 7, 2))::INT % 128
                 + (8 + ('0x' || substr(md5(text), 1, 2))::INT % 8 - 1) / 2.0
                 + (8 + ('0x' || substr(md5(text), 3, 2))::INT % 8 - 1) / 2.0,
                 6) AS mean_g,
           round(('0x' || substr(md5(text), 9, 2))::INT % 128
                 + (8 + ('0x' || substr(md5(text), 1, 2))::INT % 8 - 1) / 2.0
                 + (8 + ('0x' || substr(md5(text), 3, 2))::INT % 8 - 1) / 2.0,
                 6) AS mean_b
    FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
    """,
)
def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> per-channel feature extraction over image payloads.
    The decode is REAL since r6: payloads are genuine binary P6 PPM
    files (planted with md5-derived dims and a base_c + y + x gradient
    raster, _plant_ppm) and decode_ppm parses header and raster for
    real inside the Arrow batch iterator. The emitted channel means
    are computed from the decoded pixels, and the oracle predicts them
    EXACTLY in closed form (mean_c = base_c + (h-1)/2 + (w-1)/2 —
    every term a multiple of 0.5, so float arithmetic is exact in both
    engines): a decoder that misparses the header, drops raster bytes,
    or transposes channels breaks the hash match.

    Scale shape unchanged: metadata filter prunes to the image subset
    before any payload is materialized, decode streams per partition
    inside one Arrow pass, only small feature rows ever shuffle."""
    return image_features_full(spark, sf_dir).select(
        "media_id",
        "height",
        "width",
        *[F.round(c, 6).alias(c) for c in ("mean_r", "mean_g", "mean_b")],
    )


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_hash", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

FRAME_BYTES = 64  # fixture frame raster size (w * h = 64, Cmono)

# legal (w, h) factorizations of FRAME_BYTES the planter picks among —
# header variation the decoder must actually read to size the raster
_Y4M_DIMS = [(1, 64), (2, 32), (4, 16), (8, 8), (16, 4), (32, 2), (64, 1)]


def decode_y4m(payload: bytes) -> tuple[int, int, list[bytes]]:
    """REAL video container decode: YUV4MPEG2 (the public mjpegtools
    y4m format — wiki.multimedia.cx/index.php/YUV4MPEG2). Parses the
    space-separated stream-header tagged tokens (W width, H height,
    C chroma; F/I/A/X tokens validly present and skipped), then walks
    the frame list: each frame is a `FRAME` magic + optional
    parameters up to newline + exactly one fixed-size raster whose
    length is determined by W/H/C. Returns (w, h, [raster bytes]).
    Raises on bad stream magic, missing dims, unsupported chroma, a
    bad frame marker, or a truncated raster — a short final frame
    must never silently decode."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError(f"not a YUV4MPEG2 stream: {payload[:12]!r}")
    w = h = None
    chroma = b"420jpeg"  # spec default when no C token is present
    for tok in payload[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        if tag == b"W":
            w = int(val)
        elif tag == b"H":
            h = int(val)
        elif tag == b"C":
            chroma = val
        # F (rate), I (interlace), A (aspect), X (extension) are legal
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    plane_sizes = {b"mono": w * h, b"444": 3 * w * h, b"420jpeg": w * h * 3 // 2, b"420": w * h * 3 // 2}
    if chroma not in plane_sizes:
        raise ValueError(f"unsupported y4m chroma {chroma!r}")
    fsz = plane_sizes[chroma]
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at byte {pos}")
        fnl = payload.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("truncated FRAME header")
        raster = payload[fnl + 1 : fnl + 1 + fsz]
        if len(raster) != fsz:
            raise ValueError(f"truncated frame raster: {len(raster)} != {fsz}")
        frames.append(raster)
        pos = fnl + 1 + fsz
    return w, h, frames


def _plant_y4m(text: str) -> bytes:
    """Fixture planting for the video queries: a REAL YUV4MPEG2 stream
    (md5-picked W/H factorization of the 64-byte Cmono raster, F/I/A/X
    header tokens the decoder must skip) whose frame rasters are the
    document's consecutive 64-byte chunks — so the frame hashes the
    real decoder recovers are exactly md5 of the text's substrings,
    closed-form for the oracle. Only FULL chunks become frames: a
    synthetic padded tail frame would have no SQL-predictable hash."""
    if not text.isascii():
        # the mm_frame_sample oracle frames the payload by
        # length(text)/substr(text, ...) — CHARACTER arithmetic — while
        # this planter chunks the utf-8 BYTES; the two only agree on
        # ASCII, so a non-ASCII corpus document must fail loudly here
        # instead of silently desynchronizing frame counts/hashes
        # (advisor r7). _plant_ppm/_plant_wav need no such guard: their
        # oracles derive everything from md5(text), which both engines
        # compute over the same utf-8 bytes for ANY text.
        raise ValueError(
            "y4m fixture planting requires ASCII document text: the oracle's "
            "char-indexed substr framing must equal the planter's byte framing"
        )
    digest = hashlib.md5((text + "video").encode("utf-8")).hexdigest()
    w, h = _Y4M_DIMS[int(digest[0:2], 16) % len(_Y4M_DIMS)]
    raw = text.encode("utf-8")
    n = len(raw) // FRAME_BYTES
    parts = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 Cmono Xsvs\n".encode("ascii")]
    for k in range(n):
        parts.append(b"FRAME\n")
        parts.append(raw[k * FRAME_BYTES : (k + 1) * FRAME_BYTES])
    return b"".join(parts)


def y4m_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) for the VIDEO subset, with payloads that
    are real YUV4MPEG2 streams planted from the documents table
    (_plant_y4m) — the video mirror of ppm_media_table and
    wav_media_table."""
    # NULL text plants no video: the oracle's length(text) >= 64 drops it
    d = sources.load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 3 == 2) & F.col("text").isNotNull()
    )
    spread = sources.spread(spark, d.select("doc_id", "text"))

    def plant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [_plant_y4m(t) for t in pdf["text"]],
                }
            )

    return spread.mapInPandas(
        plant,
        T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


@register(
    "mm_frame_sample",
    f"""
    WITH v AS (
      SELECT doc_id AS media_id, text,
             CAST(length(text) // {FRAME_BYTES} AS INT) AS n_frames
      FROM documents WHERE doc_id % 3 = 2 AND length(text) >= {FRAME_BYTES}
    ), f AS (
      SELECT media_id, text, n_frames,
             unnest(range(0, n_frames)) AS g
      FROM v
    )
    SELECT media_id, CAST(g AS INT) AS frame_idx,
           substr(md5(substr(text, g * {FRAME_BYTES} + 1,
                             {FRAME_BYTES})), 1, 16) AS frame_hash,
           n_frames
    FROM f
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: decode -> hash every frame of each video
    payload, one input row fanning out to n_frames rows inside
    mapInPandas — the shuffle sees only small (id, idx, hash) rows,
    never the payload. The decode is REAL since r7 (the last synthetic
    decoder retired): payloads are genuine YUV4MPEG2 streams (planted
    with md5-picked W/H and real FRAME markers, _plant_y4m) and
    decode_y4m parses the stream header and walks the frame list for
    real inside the Arrow batch iterator. Because each planted raster
    carries one full 64-byte chunk of the (ASCII) document text, the
    oracle predicts every recovered frame hash EXACTLY as
    md5(substr(text, ...)): a decoder that misreads W/H/C, loses sync
    on a FRAME marker, or slices rasters short breaks the hash match.

    Scale shape unchanged: media-type pruning happens before payloads
    materialize, frames fan out executor-side before the exchange."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_hash": [], "n_frames": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m(bytes(payload))
                for idx, raster in enumerate(frames):
                    out["media_id"].append(int(mid))
                    out["frame_idx"].append(idx)
                    out["frame_hash"].append(hashlib.md5(raster).hexdigest()[:16])
                    out["n_frames"].append(len(frames))
            yield pd.DataFrame(out)

    return y4m_media_table(spark, sf_dir).mapInPandas(run, _FRAME_SCHEMA)


@register(
    "mm_metadata_stats",
    """
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             n_chars AS n_bytes
      FROM documents
    )
    SELECT media_type, CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           round(avg(n_bytes) * 100) / 100 AS avg_bytes
    FROM media GROUP BY media_type
    """,
)
def mm_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over the multimodal table — the planning
    query a pipeline runs BEFORE touching payloads (oracle-checked:
    payloads untouched, so it is SQL-expressible)."""
    m = media_table(spark, sf_dir)
    return m.groupBy("media_type").agg(
        F.count("*").alias("n_media"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        (F.round(F.avg(F.col("meta.n_bytes")) * 100) / 100).alias("avg_bytes"),
    )


AUDIO_SR = 16000  # fixture sample rate


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL audio decode: RIFF/WAVE PCM (the public Microsoft/IBM WAVE
    container format). Walks the chunk list, parses the `fmt ` chunk
    (requires uncompressed PCM, mono, 16-bit) and the `data` chunk,
    and returns (sample_rate, float64 waveform in [-1, 1)). Raises on
    anything malformed — a truncated data chunk must never silently
    yield a short clip."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE file: {payload[:12]!r}")
    pos, sr, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError(f"truncated {cid!r} chunk: {len(body)} != {size}")
        if cid == b"fmt ":
            fmt = int.from_bytes(body[0:2], "little")
            ch = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError(f"unsupported WAV: fmt={fmt} ch={ch} bits={bits}")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if sr is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return sr, samples.astype(np.float64) / 32768.0


def _plant_wav(text: str | None) -> bytes | None:
    """Fixture planting for the audio queries: a REAL RIFF/WAVE PCM
    file whose waveform is a square wave with md5-derived length n,
    amplitude A, and half-period p — so every emitted feature is
    closed-form for the oracle: rms == peak == A/32768 (all samples
    are ±A; exact in IEEE doubles since A < 2^15 and the divisor is a
    power of two), and the zero-crossing count over n samples is
    floor((n-1)/p) exactly. NULL text plants a NULL payload, as the
    oracle's md5(NULL) yields NULL n, amp and p."""
    if text is None:
        return None
    digest = hashlib.md5((text + "audio").encode("utf-8")).hexdigest()
    n = 8000 + int(digest[0:4], 16) % 24000
    amp = 1000 + int(digest[4:8], 16) % 15000
    p = 2 + int(digest[8:10], 16) % 14
    signs = 1 - 2 * ((np.arange(n) // p) % 2)  # +1, -1 blocks of length p
    samples = (signs * amp).astype("<i2")
    data = samples.tobytes()
    header = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVE"
        + b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + AUDIO_SR.to_bytes(4, "little")
        + (AUDIO_SR * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    return header + data


def wav_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, payload) for the AUDIO subset, with payloads that
    are real RIFF/WAVE PCM files planted from the documents table
    (_plant_wav) — the audio mirror of ppm_media_table."""
    d = sources.load(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 1)
    spread = sources.spread(spark, d.select("doc_id", "text"))

    def plant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [_plant_wav(t) for t in pdf["text"]],
                }
            )

    return spread.mapInPandas(
        plant,
        T.StructType(
            [
                T.StructField("media_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
    ]
)


def audio_features_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> waveform feature extraction over audio payloads,
    emitting the RAW feature columns (rms, peak, zcr) a pipeline
    consumes. The decode is the REAL RIFF/WAVE parser (decode_wav)
    reading genuine planted PCM bytes; every statistic is computed
    from the decoded waveform, not from any metadata shortcut."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:  # NULL text: every feature NULL
                    rows.append((int(mid), None, None, None, None, None))
                    continue
                sr, w = decode_wav(bytes(payload))
                zc = float(np.mean(np.abs(np.diff(np.signbit(w)))))
                rms = float(np.sqrt(np.mean(w**2)))
                peak = float(np.abs(w).max())
                rows.append((int(mid), len(w), len(w) / sr, rms, peak, zc))
            yield pd.DataFrame(rows, columns=[f.name for f in _AUDIO_SCHEMA.fields])

    return wav_media_table(spark, sf_dir).mapInPandas(run, _AUDIO_SCHEMA)


@register(
    "mm_audio_features",
    """
    WITH a AS (
      SELECT doc_id,
             8000 + ('0x' || substr(md5(text || 'audio'), 1, 4))::INT % 24000
               AS n,
             1000 + ('0x' || substr(md5(text || 'audio'), 5, 4))::INT % 15000
               AS amp,
             2 + ('0x' || substr(md5(text || 'audio'), 9, 2))::INT % 14 AS p
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT doc_id AS media_id,
           n AS n_samples,
           n / 16000.0 AS duration_s,
           round(amp / 32768.0 * 1e6) / 1e6 AS rms,
           round(amp / 32768.0 * 1e6) / 1e6 AS peak,
           round(((n - 1) // p) / CAST(n - 1 AS DOUBLE) * 1e6) / 1e6 AS zcr
    FROM a
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode -> waveform feature extraction over audio payloads
    (duration, RMS energy, peak, zero-crossing rate — the standard
    cheap audio quality/filtering features). The decode is REAL since
    r6: payloads are genuine RIFF/WAVE PCM files (planted square
    waves with md5-derived length/amplitude/half-period, _plant_wav)
    and decode_wav walks the chunk list and parses the samples for
    real inside the Arrow batch iterator. Every emitted feature is
    computed from the decoded waveform AND predicted exactly by the
    oracle in closed form: rms == peak == A/32768 (square wave, all
    samples ±A — equality by construction, and both are measured
    independently from the samples), zcr = floor((n-1)/p)/(n-1),
    duration the bit-identical IEEE division n/16000.0. A decoder
    that misreads the header, drops samples, or breaks the int16
    scaling fails the hash match.

    Scale shape unchanged: media_type predicate prunes before any
    payload is materialized, waveforms never leave the executor,
    only small feature rows shuffle."""
    return audio_features_full(spark, sf_dir).select(
        "media_id",
        "n_samples",
        "duration_s",
        (F.round(F.col("rms") * 1e6) / 1e6).alias("rms"),
        (F.round(F.col("peak") * 1e6) / 1e6).alias("peak"),
        (F.round(F.col("zcr") * 1e6) / 1e6).alias("zcr"),
    )


@register(
    "mm_arrow_bytes",
    """
    WITH m AS (
      SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                  WHEN doc_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS nb
      FROM documents
    )
    SELECT media_type,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(sum(nb) AS BIGINT) AS total_bytes,
           round(avg(nb) * 100) / 100 AS avg_bytes
    FROM m GROUP BY media_type
    """,
)
def mm_arrow_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality payload byte accounting via mapInArrow — the
    ZERO-COPY lane for binary columns: the pyarrow batch wraps the
    same buffers Tungsten handed over, `pc.binary_length` runs as a
    C++ kernel, and no pandas object boxing ever happens (for opaque
    blobs, mapInArrow beats mapInPandas precisely because pandas
    would copy every payload into Python bytes objects). The storage
    planner's input: modality mix and size distribution decide
    partition sizing and payload-vs-pointer layout at 100 TB."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def measure(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("media_type")),
                    pc.cast(
                        pc.binary_length(
                            batch.column(batch.schema.get_field_index("payload"))
                        ),
                        pa.int64(),
                    ),
                ],
                names=["media_type", "nb"],
            )

    m = media_table(spark, sf_dir).select("media_type", "payload")
    measured = m.mapInArrow(
        measure,
        T.StructType(
            [
                T.StructField("media_type", T.StringType()),
                T.StructField("nb", T.LongType()),
            ]
        ),
    )
    return measured.groupBy("media_type").agg(
        F.count("*").alias("n_payloads"),
        F.sum("nb").alias("total_bytes"),
        (F.round(F.avg("nb") * 100) / 100).alias("avg_bytes"),
    )
