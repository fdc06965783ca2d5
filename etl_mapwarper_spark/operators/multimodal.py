"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

Pattern (same result-struct discipline as the mask enrichment op,
reference mapwarper.js:79-110): media rows are ``(media_id, kind,
payload BINARY, meta STRUCT<width,height,channels,frames>)``; each
processing stage is a ``mapInPandas`` UDF that consumes whole Arrow
batches, never a row-at-a-time Python UDF.

Codecs: ``decode_real`` REALLY decodes PNG, WAV, and baseline JPEG
(functions/media_codec.py — zlib deflate + scanline filters, RIFF
PCM, T.81 markers/Huffman/DCT); only formats that genuinely need
external libraries (MP4/video via ffmpeg, absent here) raise
NotImplementedError behind an import-try. The arithmetic fixtures use
a **deterministic fake codec** — payload byte ``i`` of media ``m`` is
``(m + i) % 256``, generated JVM-side (hex-string → ``unhex``) — so
every downstream stat is exact integer arithmetic DuckDB reproduces;
mm_png_roundtrip re-encodes that pattern through the REAL PNG codec
and value-checks the decode against the same oracle, and
mm_jpeg_roundtrip does the same through the REAL JPEG codec on the
block-flat image class it preserves exactly.

Scale notes: payloads stay opaque bytes through shuffles (never
exploded to per-pixel rows on the JVM side); per-stage parallelism is
per-partition Arrow batches, so a 100 TB media corpus distributes by
repartitioning on media_id with bounded batch memory
(``spark.sql.execution.arrow.maxRecordsPerBatch`` caps batch rows).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import load_table
from . import registry

QUERIES, ORACLE, _register = registry()


META_TYPE = "struct<width:int,height:int,channels:int,frames:int>"

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("channels", T.IntegerType()),
                    T.StructField("frames", T.IntegerType()),
                ]
            ),
        ),
    ]
)

W, H = 8, 8  # fake image dims; video = FRAMES stacked images
FRAMES = 4


def decode_real(payload: bytes, kind: str) -> np.ndarray:
    """Real codec path: PNG/WAV with stdlib (zlib/wave) and baseline
    JPEG (markers + canonical Huffman + 8×8 DCT) — see
    functions/media_codec.py for each format's scope. MP4 and other
    video containers genuinely need external libraries (ffmpeg), which
    are not in this container; those kinds raise NotImplementedError
    behind an import-try, preserving the documented stub contract."""
    from ..functions.media_codec import (
        decode_jpeg,
        decode_png,
        decode_wav,
        sniff_kind,
    )

    sniffed = sniff_kind(bytes(payload))
    if sniffed == "png":
        return decode_png(bytes(payload))
    if sniffed == "wav":
        return decode_wav(bytes(payload))
    if sniffed == "jpeg":
        return decode_jpeg(bytes(payload))
    try:
        import PIL.Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            f"decode of kind={kind!r} (not PNG/WAV/JPEG) requires "
            "PIL/ffmpeg, not present in this environment"
        ) from e
    raise NotImplementedError("non-PNG/WAV/JPEG decode not implemented")


def decode_fake(payload: bytes) -> np.ndarray:
    """Deterministic fake codec: bytes ARE the pixels/samples."""
    return np.frombuffer(payload, dtype=np.uint8)


def synthetic_media(
    spark: SparkSession, sf_dir: str, kind: str = "image", limit: int = 200
) -> DataFrame:
    """Media fixture: payload byte i of media m = (m + i) % 256.

    Generated fully JVM-side so the binary ingestion path is exercised
    without any Python in the lineage. r13: the byte sequence is a
    rotation of the repeating 0..255 cycle, so the payload is built as
    ONE ``substring`` of a repeated-cycle binary literal starting at
    offset m % 256 — byte i = cycle[(m % 256) + i] = (m + i) % 256,
    byte-identical (pinned in tests/test_r13_rewrites.py) to the
    r1-r12 per-byte hex-string transform (lpad/lower/hex per byte +
    array_join + unhex) while evaluating O(1) expressions per row
    instead of O(n_bytes): at real media sizes the old form built a
    2·n_bytes-char string through an interpreted per-element lambda.
    """
    n_bytes = W * H * (FRAMES if kind == "video" else 1)
    reps = (256 + n_bytes + 255) // 256
    cycle = F.lit(bytes(range(256)) * reps)
    m = F.col("doc_id")
    payload = F.expr(
        f"substring(_cycle, cast(doc_id % 256 AS int) + 1, {n_bytes})"
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(m < limit)
        .withColumn("_cycle", cycle)
        .select(
            m.alias("media_id"),
            F.lit(kind).alias("kind"),
            payload.alias("payload"),
            F.struct(
                F.lit(W).alias("width"),
                F.lit(H).alias("height"),
                F.lit(1).alias("channels"),
                F.lit(FRAMES if kind == "video" else 1).alias("frames"),
            ).alias("meta"),
        )
    )


# ---------------------------------------------------------------------------
# mapInPandas stages
# ---------------------------------------------------------------------------

STATS_SCHEMA = (
    "media_id bigint, n_bytes int, mean_px double, min_px int, max_px int"
)


def image_stats(media: DataFrame) -> DataFrame:
    """Feature-extract stage: per-image pixel stats from the payload."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = [decode_fake(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": [len(a) for a in px],
                    "mean_px": [float(a.mean()) for a in px],
                    "min_px": [int(a.min()) for a in px],
                    "max_px": [int(a.max()) for a in px],
                }
            )

    return media.mapInPandas(stats, schema=STATS_SCHEMA)


RESIZE_SCHEMA = "media_id bigint, y int, x int, pooled double"


def resize_avgpool(media: DataFrame, factor: int = 2) -> DataFrame:
    """Resize stage: factor×factor average pooling, flattened output.

    Flattened (media_id, y, x, pooled) rows keep the result hashable
    for the oracle gate; a production pipeline would re-encode to a
    binary column instead of exploding.
    """

    def pool(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "y": [], "x": [], "pooled": []}
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                w, h = meta["width"], meta["height"]
                img = decode_fake(payload)[: w * h].reshape(h, w).astype(np.float64)
                ph, pw = h // factor, w // factor
                pooled = img.reshape(ph, factor, pw, factor).mean(axis=(1, 3))
                for y in range(ph):
                    for x in range(pw):
                        out["media_id"].append(mid)
                        out["y"].append(y)
                        out["x"].append(x)
                        out["pooled"].append(float(pooled[y, x]))
            yield pd.DataFrame(out)

    return media.mapInPandas(pool, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "media_id bigint, frame_idx int, frame_sum bigint"


def frame_sample(media: DataFrame, every: int = 2) -> DataFrame:
    """Video stage: sample every ``every``-th frame, emit a checksum."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_sum": []}
            for mid, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                w, h, n = meta["width"], meta["height"], meta["frames"]
                raw = decode_fake(payload)
                fsize = w * h
                for fi in range(0, n, every):
                    frame = raw[fi * fsize : (fi + 1) * fsize]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(fi)
                    out["frame_sum"].append(int(frame.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return media.mapInPandas(sample, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Oracle-gated queries. Payload byte i of media m is (m+i)%256, so all
# stats are closed-form integer arithmetic in DuckDB.
# ---------------------------------------------------------------------------


def mm_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_stats(synthetic_media(spark, sf_dir)).select(
        "media_id", "n_bytes", F.round("mean_px", 6).alias("mean_px"),
        "min_px", "max_px"
    )


_register(
    "mm_image_stats",
    mm_image_stats,
    f"""
    SELECT doc_id AS media_id,
           {W * H} AS n_bytes,
           round(avg((doc_id + i.i) % 256), 6) AS mean_px,
           min((doc_id + i.i) % 256)::INT AS min_px,
           max((doc_id + i.i) % 256)::INT AS max_px
    FROM documents CROSS JOIN (SELECT unnest(range(0, {W * H})) AS i) i
    WHERE doc_id < 200
    GROUP BY doc_id
    """,
)


def mm_resize_avgpool(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resize_avgpool(synthetic_media(spark, sf_dir))
    return out.select(
        "media_id", "y", "x", F.round("pooled", 6).alias("pooled")
    )


_register(
    "mm_resize_avgpool",
    mm_resize_avgpool,
    # pool cell (y,x) averages bytes at rows 2y,2y+1 × cols 2x,2x+1;
    # byte index = row*W + col.
    f"""
    WITH cells AS (
      SELECT doc_id, y.y::INT AS y, x.x::INT AS x
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, {H // 2})) AS y) y
      CROSS JOIN (SELECT unnest(range(0, {W // 2})) AS x) x
      WHERE doc_id < 200
    ), contrib AS (
      SELECT doc_id, y, x,
             (doc_id + ((2 * y + dy.dy) * {W} + (2 * x + dx.dx))) % 256 AS px
      FROM cells
      CROSS JOIN (VALUES (0), (1)) dy(dy)
      CROSS JOIN (VALUES (0), (1)) dx(dx)
    )
    SELECT doc_id AS media_id, y, x, round(avg(px), 6) AS pooled
    FROM contrib GROUP BY doc_id, y, x
    """,
)


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media(spark, sf_dir, kind="video")
    return frame_sample(media, every=2)


_register(
    "mm_frame_sample",
    mm_frame_sample,
    f"""
    SELECT doc_id AS media_id,
           f.f::INT AS frame_idx,
           sum((doc_id + (f.f * {W * H} + i.i)) % 256)::BIGINT AS frame_sum
    FROM documents
    CROSS JOIN (VALUES (0), (2)) f(f)
    CROSS JOIN (SELECT unnest(range(0, {W * H})) AS i) i
    WHERE doc_id < 200
    GROUP BY doc_id, f.f
    """,
)


# ---------------------------------------------------------------------------
# Real-codec roundtrip: the same (m+i)%256 pixel pattern is encoded to
# REAL PNG bytes (zlib deflate + filters) in one mapInPandas stage and
# decoded with decode_real in the next — so the whole binary-payload
# pipeline (encode → opaque bytes through Spark → sniff → decode →
# feature-extract) is value-checked against the closed-form oracle.
# ---------------------------------------------------------------------------


def encode_png_stage(media: DataFrame) -> DataFrame:
    """Re-encode fake-codec payloads as real PNG binary payloads."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.media_codec import encode_png

        for pdf in batches:
            payloads = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                w, h = meta["width"], meta["height"]
                img = decode_fake(payload)[: w * h].reshape(h, w)
                payloads.append(encode_png(img))
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    return media.mapInPandas(encode, schema=media.schema)


def image_stats_real(media: DataFrame) -> DataFrame:
    """image_stats over decode_real (PNG/WAV sniffing codec path)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            px = [
                decode_real(p, k).ravel()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "n_bytes": [a.size for a in px],
                    "mean_px": [float(a.mean()) for a in px],
                    "min_px": [int(a.min()) for a in px],
                    "max_px": [int(a.max()) for a in px],
                }
            )

    return media.mapInPandas(stats, schema=STATS_SCHEMA)


def mm_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = encode_png_stage(synthetic_media(spark, sf_dir))
    return image_stats_real(media).select(
        "media_id", "n_bytes", F.round("mean_px", 6).alias("mean_px"),
        "min_px", "max_px"
    )


_register(
    "mm_png_roundtrip",
    mm_png_roundtrip,
    # identical stats to mm_image_stats: the PNG encode/decode is
    # lossless, so any oracle mismatch is a codec bug
    f"""
    SELECT doc_id AS media_id,
           {W * H} AS n_bytes,
           round(avg((doc_id + i.i) % 256), 6) AS mean_px,
           min((doc_id + i.i) % 256)::INT AS min_px,
           max((doc_id + i.i) % 256)::INT AS max_px
    FROM documents CROSS JOIN (SELECT unnest(range(0, {W * H})) AS i) i
    WHERE doc_id < 200
    GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Real-codec roundtrip #2: baseline JPEG (markers + canonical Huffman +
# 8×8 DCT, functions/media_codec.py). JPEG is lossy in general, so the
# oracle-gated fixture uses the one image class the integer pipeline
# preserves bit-exactly: 8×8-block-CONSTANT images at quality 100
# (all-ones quant table ⇒ each block is a DC-only spectrum carried
# exactly through quantize/Huffman/dequantize/IDCT). That still
# exercises every moving part — marker emit/parse, DC DIFF coding
# across blocks, EOB runs, byte stuffing — with a closed-form SQL
# oracle; textured-image fidelity (AC paths) is pinned by golden tests
# in tests/test_media_codec.py.
# ---------------------------------------------------------------------------

JW = JH = 16  # JPEG fixture dims: 2×2 grid of 8×8 blocks
_JBLK_STEP = 37  # block value stride (coprime to 256 → distinct values)


def block_flat_media(
    spark: SparkSession, sf_dir: str, limit: int = 200
) -> DataFrame:
    """Fixture: pixel (y,x) of media m = (m + 37·block) % 256 where
    block = (y//8)*2 + (x//8) — constant over each 8×8 block.
    Generated JVM-side (hex → unhex) like synthetic_media."""
    m = F.col("doc_id")
    blk = lambda i: ((i / JW).cast("int") / 8).cast("int") * 2 + (
        (i % JW) / 8
    ).cast("int")
    payload_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(JW * JH - 1)),
            lambda i: F.lpad(
                F.lower(F.hex((m + _JBLK_STEP * blk(i)) % 256)), 2, "0"
            ),
        ),
        "",
    )
    return (
        load_table(spark, sf_dir, "documents")
        .filter(m < limit)
        .select(
            m.alias("media_id"),
            F.lit("image").alias("kind"),
            F.unhex(payload_hex).alias("payload"),
            F.struct(
                F.lit(JW).alias("width"),
                F.lit(JH).alias("height"),
                F.lit(1).alias("channels"),
                F.lit(1).alias("frames"),
            ).alias("meta"),
        )
    )


def encode_jpeg_stage(media: DataFrame, quality: int = 100) -> DataFrame:
    """Re-encode fake-codec payloads as real baseline-JPEG payloads."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.media_codec import encode_jpeg

        for pdf in batches:
            payloads = []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                w, h = meta["width"], meta["height"]
                img = decode_fake(payload)[: w * h].reshape(h, w)
                payloads.append(encode_jpeg(img, quality=quality))
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    return media.mapInPandas(encode, schema=media.schema)


def mm_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = encode_jpeg_stage(block_flat_media(spark, sf_dir), quality=100)
    return image_stats_real(media).select(
        "media_id", "n_bytes", F.round("mean_px", 6).alias("mean_px"),
        "min_px", "max_px"
    )


_register(
    "mm_jpeg_roundtrip",
    mm_jpeg_roundtrip,
    # Each 8×8 block holds 64 copies of (m + 37·b) % 256, b ∈ 0..3, so
    # stats over pixels equal stats over the four block values (equal
    # weights). Exact equality relies on the q=100 flat-block
    # losslessness documented on the codec.
    f"""
    SELECT doc_id AS media_id,
           {JW * JH} AS n_bytes,
           round(avg((doc_id + {_JBLK_STEP} * b.b) % 256), 6) AS mean_px,
           min((doc_id + {_JBLK_STEP} * b.b) % 256)::INT AS min_px,
           max((doc_id + {_JBLK_STEP} * b.b) % 256)::INT AS max_px
    FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b
    WHERE doc_id < 200
    GROUP BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# Audio stage: windowed RMS (the canonical audio feature-extraction
# shape — frame the sample stream, reduce each frame). Same fake-codec
# discipline: payload bytes are the samples, so the RMS is closed-form
# integer arithmetic up to the final sqrt (correctly-rounded IEEE in
# both engines, so values still hash-match).
# ---------------------------------------------------------------------------

AUDIO_WINDOW = 16

RMS_SCHEMA = "media_id bigint, win_idx int, rms double"


def audio_rms(media: DataFrame, window: int = AUDIO_WINDOW) -> DataFrame:
    def rms(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "win_idx": [], "rms": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples = decode_fake(payload).astype(np.float64)
                n_win = len(samples) // window
                for wi in range(n_win):
                    frame = samples[wi * window : (wi + 1) * window]
                    out["media_id"].append(mid)
                    out["win_idx"].append(wi)
                    out["rms"].append(float(np.sqrt(np.mean(frame**2))))
            yield pd.DataFrame(out)

    return media.mapInPandas(rms, schema=RMS_SCHEMA)


def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media(spark, sf_dir, kind="audio")
    return audio_rms(media).select(
        "media_id", "win_idx", F.round("rms", 6).alias("rms")
    )


_register(
    "mm_audio_rms",
    mm_audio_rms,
    f"""
    SELECT doc_id AS media_id,
           w.w::INT AS win_idx,
           round(sqrt(avg(((doc_id + (w.w * {AUDIO_WINDOW} + s.s)) % 256)
                          * ((doc_id + (w.w * {AUDIO_WINDOW} + s.s)) % 256))),
                 6) AS rms
    FROM documents
    CROSS JOIN (SELECT unnest(range(0, {W * H // AUDIO_WINDOW})) AS w) w
    CROSS JOIN (SELECT unnest(range(0, {AUDIO_WINDOW})) AS s) s
    WHERE doc_id < 200
    GROUP BY doc_id, w.w
    """,
)


# ---------------------------------------------------------------------------
# mm_audio_zcr — windowed zero-crossing RATE, the other canonical
# frame-level audio feature (the cheap voiced/unvoiced and
# silence-detection signal every VAD stack computes next to RMS).
# Samples are centered at 128; a crossing is a strict sign change
# between consecutive samples within the frame, rate = crossings /
# (window - 1). Integer arithmetic until one final division — values
# hash-match the closed-form oracle exactly. Same Arrow-batched
# mapInPandas shape as audio_rms.
# ---------------------------------------------------------------------------

ZCR_SCHEMA = "media_id bigint, win_idx int, zcr double"


def audio_zcr(media: DataFrame, window: int = AUDIO_WINDOW) -> DataFrame:
    def zcr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "win_idx": [], "zcr": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s = decode_fake(payload).astype(np.int64) - 128
                n_win = len(s) // window
                for wi in range(n_win):
                    fr = s[wi * window : (wi + 1) * window]
                    crossings = int(np.sum(fr[:-1] * fr[1:] < 0))
                    out["media_id"].append(mid)
                    out["win_idx"].append(wi)
                    out["zcr"].append(round(crossings / (window - 1), 6))
            yield pd.DataFrame(out)

    return media.mapInPandas(zcr, schema=ZCR_SCHEMA)


def mm_audio_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media(spark, sf_dir, kind="audio")
    return audio_zcr(media)


_register(
    "mm_audio_zcr",
    mm_audio_zcr,
    f"""
    SELECT doc_id AS media_id,
           w.w::INT AS win_idx,
           round(sum(CASE WHEN
                 (((doc_id + (w.w * {AUDIO_WINDOW} + s.s)) % 256) - 128)
               * (((doc_id + (w.w * {AUDIO_WINDOW} + s.s + 1)) % 256) - 128)
                 < 0 THEN 1 ELSE 0 END) / {AUDIO_WINDOW - 1}.0, 6) AS zcr
    FROM documents
    CROSS JOIN (SELECT unnest(range(0, {W * H // AUDIO_WINDOW})) AS w) w
    CROSS JOIN (SELECT unnest(range(0, {AUDIO_WINDOW - 1})) AS s) s
    WHERE doc_id < 200
    GROUP BY doc_id, w.w
    """,
)


# ---------------------------------------------------------------------------
# mm_arrow_hist — byte-value histogram via ``mapInArrow``: the stage
# consumes raw ``pyarrow.RecordBatch``es and computes with
# pyarrow.compute kernels — no Arrow→pandas materialization at all,
# the leanest Python boundary Spark offers (the right surface when the
# per-batch work is itself vectorized columnar compute). Each batch
# emits one partial 16-bucket histogram; the groupBy merges partials —
# map-side-combinable like any partial aggregate.
# ---------------------------------------------------------------------------

HIST_BUCKETS = 16


def byte_histogram(media: DataFrame) -> DataFrame:
    def hist(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            payloads = batch.column(batch.schema.get_field_index("payload"))
            # flatten all payload bytes in the batch into one buffer
            joined = b"".join(p.as_py() for p in payloads)
            arr = pa.array(
                np.frombuffer(joined, dtype=np.uint8).astype(np.int32)
            )
            bucket = pc.divide(arr, 256 // HIST_BUCKETS)
            counts = pa.table({"bucket": bucket}).group_by("bucket").aggregate(
                [("bucket", "count")]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    counts["bucket"].combine_chunks().cast(pa.int32()),
                    counts["bucket_count"].combine_chunks().cast(pa.int64()),
                ],
                ["bucket", "n"],
            )

    partials = media.mapInArrow(hist, schema="bucket int, n bigint")
    return partials.groupBy("bucket").agg(F.sum("n").alias("n_bytes"))


def mm_arrow_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return byte_histogram(synthetic_media(spark, sf_dir))


_register(
    "mm_arrow_hist",
    mm_arrow_hist,
    f"""
    SELECT (((doc_id + i.i) % 256) // (256 // {HIST_BUCKETS}))::INT AS bucket,
           count(*) AS n_bytes
    FROM documents CROSS JOIN (SELECT unnest(range(0, {W * H})) AS i) i
    WHERE doc_id < 200
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# mm_phash_neardups — perceptual-hash near-duplicate detection, the
# multimodal counterpart of text dedup and the standard image-dedup
# pass in multimodal training pipelines (LAION-style): aHash = pool
# the image to a coarse grid, threshold each cell against the image
# mean, compare hashes by Hamming distance with banded blocking (the
# dd_simhash_pairs shape — candidates only within matching 4-bit
# bands, never all-pairs). The decode+pool stage is the REAL
# mapInPandas path (resize_avgpool); everything after the pooled grid
# is JVM-side string/window arithmetic.
#
# On the synthetic gradient fixture most images collapse into one
# perceptual cluster (their normalized shape is identical — that IS
# the correct aHash answer for gradients; wrap-around images near
# media_id 192+ form the second cluster). The oracle reproduces the
# full pipeline from the closed-form byte pattern.
#
# r8 (hub-rehearsal fallout, the identical-image LAION case): the
# per-image count NEVER needed the pair list. An identical-image hub
# of size h (one image uploaded h times → one ahash) makes the
# banded self-join emit C(h,2) pairs for an answer that is just
# h−1 per member — the text-simhash quadratic, reproduced on the
# image side. Fix: collapse identical hashes FIRST (groupBy ahash →
# counts), run the banded Hamming join on DISTINCT hashes with
# counts as weights, and recover per-media counts as
# (cnt(h)−1) + Σ_{h'≠h, ham(h,h')≤_PH_MAX_HAMMING} cnt(h').
# The fuzzy join's input is bounded by the hash space (2^16)
# regardless of corpus size — at 100 TB the pair join is over a
# table that CANNOT grow past 65k rows. Value-identical to the
# pair-listing plan because band blocking is lossless here by
# pigeonhole (hamming ≤ 2 < _PH_BANDS ⇒ some band is intact), so
# the oracle below — which still lists pairs — is the equivalence
# proof, gate-checked at 3 scales. Rehearsal (BASELINE.md r8): the
# grouped plan is flat across 1×/10× while the pair count grows
# ~100×.
# ---------------------------------------------------------------------------

_PH_BANDS = 4
_PH_BITS = 16  # 4×4 pooled grid
_PH_MAX_HAMMING = 2


def _media_ahash(
    spark: SparkSession, sf_dir: str, limit: int
) -> DataFrame:
    """(media_id, ahash): mapInPandas pool → per-image mean threshold
    → 16-bit aHash string. The shared front of mm_phash_neardups and
    mm_phash_cluster_profile."""
    from pyspark.sql.window import Window

    pooled = resize_avgpool(synthetic_media(spark, sf_dir, limit=limit))
    wm = Window.partitionBy("media_id")
    bits = pooled.withColumn("m", F.avg("pooled").over(wm)).withColumn(
        "bit", (F.col("pooled") > F.col("m")).cast("int")
    )
    return bits.groupBy("media_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("y", "x", "bit"))),
                lambda s: s["bit"].cast("string"),
            ),
            "",
        ).alias("ahash")
    )


def mm_phash_neardups(
    spark: SparkSession, sf_dir: str, limit: int = 200
) -> DataFrame:
    # `limit` exists for the skew rehearsal (hash the WHOLE hostile
    # corpus, not the 200-image gate fixture); the registered entry
    # always runs at the default.
    ahash = _media_ahash(spark, sf_dir, limit)
    groups = ahash.groupBy("ahash").agg(F.count(F.lit(1)).alias("cnt"))
    hbands = groups.select(
        "ahash",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(
                            "ahash", b * (_PH_BITS // _PH_BANDS) + 1,
                            _PH_BITS // _PH_BANDS,
                        ).alias("bv"),
                    )
                    for b in range(_PH_BANDS)
                ]
            )
        ).alias("c"),
    ).select("ahash", "cnt", F.col("c.band"), F.col("c.bv"))
    a, b = hbands.alias("a"), hbands.alias("b")
    hpairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.ahash") < F.col("b.ahash")),
        )
        .select(
            F.col("a.ahash").alias("h1"),
            F.col("b.ahash").alias("h2"),
            F.col("a.cnt").alias("c1"),
            F.col("b.cnt").alias("c2"),
        )
        .distinct()
    )
    ham = F.expr(
        f"aggregate(sequence(1, {_PH_BITS}), 0, (acc, i) -> "
        "acc + IF(substring(h1, i, 1) = substring(h2, i, 1), 0, 1))"
    )
    near = hpairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= _PH_MAX_HAMMING
    )
    # per-hash cross-hash neighbor weight, both directions through
    # one narrow explode (the union-duplicates-the-subtree lesson
    # from the r7 plan audit)
    wt = (
        near.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("h1").alias("ahash"), F.col("c2").alias("w")
                    ),
                    F.struct(
                        F.col("h2").alias("ahash"), F.col("c1").alias("w")
                    ),
                )
            ).alias("e")
        )
        .select("e.ahash", "e.w")
        .groupBy("ahash")
        .agg(F.sum("w").alias("wt"))
    )
    return (
        ahash.join(F.broadcast(groups), "ahash")
        .join(F.broadcast(wt), "ahash", "left")
        .select(
            "media_id",
            "ahash",
            (
                F.col("cnt") - 1 + F.coalesce(F.col("wt"), F.lit(0))
            ).cast("long").alias("n_neardups"),
        )
    )


# The closed-form aHash CTE chain (cells → pooled → per-image mean →
# bits), shared by the mm_phash_neardups and mm_phash_cluster_profile
# oracles — the _ivfpq_train_ctes single-source-of-truth discipline.
_PH_AHASH_CTES = f"""cells AS (
      SELECT doc_id, y.y::INT AS y, x.x::INT AS x
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, {H // 2})) AS y) y
      CROSS JOIN (SELECT unnest(range(0, {W // 2})) AS x) x
      WHERE doc_id < 200
    ), contrib AS (
      SELECT doc_id, y, x,
             (doc_id + ((2 * y + dy.dy) * {W} + (2 * x + dx.dx))) % 256 AS px
      FROM cells
      CROSS JOIN (VALUES (0), (1)) dy(dy)
      CROSS JOIN (VALUES (0), (1)) dx(dx)
    ), pooled AS (
      SELECT doc_id, y, x, avg(px) AS p FROM contrib GROUP BY 1, 2, 3
    ), meaned AS (
      SELECT doc_id, y, x, p,
             avg(p) OVER (PARTITION BY doc_id) AS m
      FROM pooled
    ), bits AS (
      SELECT doc_id,
             string_agg(CASE WHEN p > m THEN '1' ELSE '0' END, ''
                        ORDER BY y, x) AS ahash
      FROM meaned GROUP BY 1
    )"""

_register(
    "mm_phash_neardups",
    mm_phash_neardups,
    f"""
    WITH {_PH_AHASH_CTES}, bands AS (
      SELECT doc_id, ahash, b.b AS band,
             substr(ahash, b.b * {_PH_BITS // _PH_BANDS} + 1,
                    {_PH_BITS // _PH_BANDS}) AS bv
      FROM bits CROSS JOIN (SELECT unnest(range({_PH_BANDS})) AS b) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2,
             a.ahash AS h1, c.ahash AS h2
      FROM bands a JOIN bands c
        ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id
    ), ham AS (
      SELECT d1, d2 FROM cand
      WHERE len(list_filter(range(1, {_PH_BITS + 1}),
                i -> substr(h1, i::INT, 1) != substr(h2, i::INT, 1)))
            <= {_PH_MAX_HAMMING}
    ), cnt AS (
      SELECT id, count(*) AS n FROM (
        SELECT d1 AS id FROM ham UNION ALL SELECT d2 AS id FROM ham
      ) GROUP BY 1
    )
    SELECT b.doc_id AS media_id, b.ahash,
           coalesce(c.n, 0)::BIGINT AS n_neardups
    FROM bits b LEFT JOIN cnt c ON b.doc_id = c.id
    """,
)


# ---------------------------------------------------------------------------
# mm_phash_cluster_profile — hash-cluster occupancy profile of the
# perceptual-hash index (r8): dd_shingle_df_profile for the image
# side. For each cluster size, how many ahash clusters sit at that
# size and how many identical-hash PAIRS they represent
# (n·C(size,2) — the quadratic term the grouped mm_phash_neardups
# plan never materializes). Reading this table is how an image-dedup
# deployment sizes its band/hash budget: one 37k-image cluster at
# 10× rehearsal scale means 711M would-be pairs — the number that
# says "collapse identical hashes first" before the fuzzy join.
# ---------------------------------------------------------------------------


def mm_phash_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = _media_ahash(spark, sf_dir, 200).groupBy("ahash").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return groups.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (
            F.count(F.lit(1))
            * F.first("cluster_size")
            * (F.first("cluster_size") - 1)
            / 2
        )
        .cast("long")
        .alias("pair_volume"),
    )


_register(
    "mm_phash_cluster_profile",
    mm_phash_cluster_profile,
    f"""
    WITH {_PH_AHASH_CTES},
    g AS (
      SELECT ahash, count(*) AS cluster_size FROM bits GROUP BY 1
    )
    SELECT cluster_size,
           count(*) AS n_clusters,
           (count(*) * cluster_size * (cluster_size - 1) / 2)::BIGINT
             AS pair_volume
    FROM g GROUP BY cluster_size
    """,
)


# ---------------------------------------------------------------------------
# mm_audio_vad — energy-threshold voice-activity detection over the
# windowed-RMS stage: frames above the energy threshold are "speech",
# contiguous active runs are segments (run-length via lag), and the
# per-clip report (frames, active frames, segment count, active
# fraction) is what an ASR-corpus pipeline uses to trim silence and
# drop dead clips. Layering: the frame features come from the REAL
# mapInPandas stage (audio_rms); the segmentation on top is pure JVM
# window arithmetic — the decode boundary is crossed exactly once.
# ---------------------------------------------------------------------------

_VAD_THRESH = 128.0


def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    frames = audio_rms(synthetic_media(spark, sf_dir, kind="audio"))
    w = Window.partitionBy("media_id").orderBy("win_idx")
    act = frames.withColumn(
        "active", F.col("rms") > _VAD_THRESH
    ).withColumn(
        "seg_start",
        F.col("active")
        & ~F.coalesce(F.lag("active").over(w), F.lit(False)),
    )
    return act.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.count_if(F.col("active")).alias("n_active"),
        F.count_if(F.col("seg_start")).alias("n_segments"),
        F.round(F.avg(F.col("active").cast("int")), 4).alias("active_frac"),
    )


_register(
    "mm_audio_vad",
    mm_audio_vad,
    f"""
    WITH wins AS (
      SELECT doc_id, w.w::INT AS win_idx
      FROM documents
      CROSS JOIN (SELECT unnest(range({(W * H) // AUDIO_WINDOW})) AS w) w
      WHERE doc_id < 200
    ),
    px AS (
      SELECT doc_id, win_idx,
             (doc_id + (win_idx * {AUDIO_WINDOW} + j.j)) % 256 AS v
      FROM wins
      CROSS JOIN (SELECT unnest(range({AUDIO_WINDOW})) AS j) j
    ),
    fr AS (
      SELECT doc_id, win_idx, sqrt(avg(v * v)) AS rms
      FROM px GROUP BY 1, 2
    ),
    act AS (
      SELECT doc_id, win_idx, rms > {_VAD_THRESH} AS active,
             lag(rms > {_VAD_THRESH}) OVER (
               PARTITION BY doc_id ORDER BY win_idx) AS prev
      FROM fr
    )
    SELECT doc_id AS media_id,
           count(*) AS n_frames,
           count(*) FILTER (WHERE active) AS n_active,
           count(*) FILTER (WHERE active AND NOT coalesce(prev, false))
             AS n_segments,
           round(avg(CASE WHEN active THEN 1.0 ELSE 0.0 END), 4)
             AS active_frac
    FROM act
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# mm_shot_detect — shot-boundary detection over the video frame stage:
# consecutive-frame difference above a threshold marks a cut, shots =
# boundaries + 1 (the video-curation primitive behind keyframe
# selection and per-shot sampling in multimodal training sets). Same
# layering as mm_audio_vad: frame checksums come from the REAL
# mapInPandas stage (frame_sample, stride 1 — every frame), the
# boundary logic is JVM lag/window arithmetic.
# ---------------------------------------------------------------------------

_SHOT_THRESH = 5000


def mm_shot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    frames = frame_sample(
        synthetic_media(spark, sf_dir, kind="video"), every=1
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    d = frames.withColumn(
        "jump",
        F.abs(
            F.col("frame_sum")
            - F.lag("frame_sum").over(w)
        ),
    )
    return d.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        (F.count_if(F.col("jump") > _SHOT_THRESH) + 1).alias("n_shots"),
        F.coalesce(F.max("jump"), F.lit(0)).alias("max_jump"),
    )


_register(
    "mm_shot_detect",
    mm_shot_detect,
    f"""
    WITH frames AS (
      SELECT doc_id, f.f::INT AS frame_idx
      FROM documents
      CROSS JOIN (SELECT unnest(range({FRAMES})) AS f) f
      WHERE doc_id < 200
    ),
    px AS (
      SELECT doc_id, frame_idx,
             (doc_id + (frame_idx * {W * H} + j.j)) % 256 AS v
      FROM frames
      CROSS JOIN (SELECT unnest(range({W * H})) AS j) j
    ),
    fs AS (
      SELECT doc_id, frame_idx, sum(v)::BIGINT AS frame_sum
      FROM px GROUP BY 1, 2
    ),
    d AS (
      SELECT doc_id,
             abs(frame_sum - lag(frame_sum) OVER (
               PARTITION BY doc_id ORDER BY frame_idx)) AS jump
      FROM fs
    )
    SELECT doc_id AS media_id,
           count(*) AS n_frames,
           (count(*) FILTER (WHERE jump > {_SHOT_THRESH}) + 1)::BIGINT
             AS n_shots,
           coalesce(max(jump), 0)::BIGINT AS max_jump
    FROM d
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# mm_image_entropy — per-image byte-histogram entropy, the standard
# blank/flat-image detector (a solid-color or heavily-compressed-
# artifact image has near-zero byte entropy; a natural photo is
# high): bucket the pixel bytes, H = −Σ p·ln p over the bucket
# distribution. Entropy is computed inside the Arrow-batched decode
# stage (one pass over the payload, no per-byte rows on the JVM);
# the oracle reproduces it from the closed-form byte pattern.
# ---------------------------------------------------------------------------

_ENT_BUCKETS = 16


def mm_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    def ent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "entropy": [],
                "n_buckets_used": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = decode_fake(payload).astype(np.int64) // (
                    256 // _ENT_BUCKETS
                )
                counts = np.bincount(b, minlength=_ENT_BUCKETS).astype(
                    np.float64
                )
                p = counts[counts > 0] / counts.sum()
                out["media_id"].append(mid)
                out["entropy"].append(round(float(-(p * np.log(p)).sum()), 6))
                out["n_buckets_used"].append(int((counts > 0).sum()))
            yield pd.DataFrame(out)

    return synthetic_media(spark, sf_dir).mapInPandas(
        ent, schema="media_id bigint, entropy double, n_buckets_used int"
    )


_register(
    "mm_image_entropy",
    mm_image_entropy,
    f"""
    WITH px AS (
      SELECT doc_id, ((doc_id + i.i) % 256) // (256 // {_ENT_BUCKETS}) AS b
      FROM documents
      CROSS JOIN (SELECT unnest(range({W * H})) AS i) i
      WHERE doc_id < 200
    ),
    counts AS (
      SELECT doc_id, b, count(*) AS c FROM px GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, sum(c) AS n FROM counts GROUP BY 1)
    SELECT c.doc_id AS media_id,
           round(-sum((c.c * 1.0 / t.n) * ln(c.c * 1.0 / t.n)), 6)
             AS entropy,
           count(*)::INT AS n_buckets_used
    FROM counts c JOIN tot t USING (doc_id)
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# mm_av_sync_check — audio/video pairing integrity (the multimodal
# counterpart of referential integrity): durations derived from the
# two payloads must agree per media id. Video duration = decoded
# frame count / fps; audio duration = sample count / sample rate —
# both computed from the BINARY payload length (binary substring
# exercises byte-level truncation, the realistic corruption mode).
# The fixture desyncs every 7th clip by dropping one audio window, so
# the check must flag exactly those. Two deterministic fixture scans
# and one id-keyed join; all durations are small dyadic rationals, so
# cross-engine doubles are exact.
# ---------------------------------------------------------------------------

_AV_FPS = 2.0
_AV_SR = 32.0
_AV_DRIFT_TOL = 0.01


def mm_av_sync_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    vid = synthetic_media(spark, sf_dir, kind="video").select(
        "media_id", F.length("payload").alias("v_bytes")
    )
    aud_payload = F.when(
        F.col("media_id") % 7 == 0,
        F.expr(f"substring(payload, 1, {W * H - AUDIO_WINDOW})"),
    ).otherwise(F.col("payload"))
    aud = synthetic_media(spark, sf_dir, kind="audio").select(
        "media_id", F.length(aud_payload).alias("a_bytes")
    )
    j = vid.join(aud, "media_id")
    v_dur = (F.col("v_bytes") / (W * H)) / _AV_FPS
    a_dur = F.col("a_bytes") / _AV_SR
    drift = F.round(F.abs(v_dur - a_dur), 6)
    return j.select(
        "media_id",
        (F.col("v_bytes") / (W * H)).cast("int").alias("n_frames"),
        F.col("a_bytes").cast("int").alias("n_samples"),
        F.round(v_dur, 6).alias("video_s"),
        F.round(a_dur, 6).alias("audio_s"),
        drift.alias("drift_s"),
        (drift <= _AV_DRIFT_TOL).alias("in_sync"),
    )


_register(
    "mm_av_sync_check",
    mm_av_sync_check,
    f"""
    SELECT doc_id AS media_id,
           {FRAMES} AS n_frames,
           CASE WHEN doc_id % 7 = 0 THEN {W * H - AUDIO_WINDOW}
                ELSE {W * H} END AS n_samples,
           round({FRAMES} / {_AV_FPS}, 6) AS video_s,
           round((CASE WHEN doc_id % 7 = 0 THEN {W * H - AUDIO_WINDOW}
                       ELSE {W * H} END) / {_AV_SR}, 6) AS audio_s,
           round(abs({FRAMES} / {_AV_FPS}
                 - (CASE WHEN doc_id % 7 = 0 THEN {W * H - AUDIO_WINDOW}
                         ELSE {W * H} END) / {_AV_SR}), 6) AS drift_s,
           abs({FRAMES} / {_AV_FPS}
               - (CASE WHEN doc_id % 7 = 0 THEN {W * H - AUDIO_WINDOW}
                       ELSE {W * H} END) / {_AV_SR})
             <= {_AV_DRIFT_TOL} AS in_sync
    FROM documents WHERE doc_id < 200
    """,
)


# ---------------------------------------------------------------------------
# mm_audio_autocorr — windowed integer autocorrelation at lags 1..4:
# the periodicity feature (pitch detection, hum/tone screening,
# silence-vs-structure) that complements the energy (RMS), activity
# (VAD) and noisiness (ZCR) stages. Computed on CENTERED integer
# samples with int64 arithmetic, so both engines produce bit-identical
# sums — no float summation order to defend. The normalized column
# r_l / r_0 divides two exact integers (one float op per output
# value). Same Arrow-batched mapInPandas shape as the other audio
# stages; at scale the decode+window work is embarrassingly parallel
# per media row and the output is bounded by windows × lags.
# ---------------------------------------------------------------------------

AC_LAGS = 4
AC_SCHEMA = (
    "media_id bigint, win_idx int, lag int, r bigint, r_norm double"
)


def audio_autocorr(media: DataFrame, window: int = AUDIO_WINDOW) -> DataFrame:
    def ac(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "win_idx": [],
                "lag": [],
                "r": [],
                "r_norm": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s = decode_fake(payload).astype(np.int64) - 128
                n_win = len(s) // window
                for wi in range(n_win):
                    fr = s[wi * window : (wi + 1) * window]
                    r0 = int(np.dot(fr, fr))
                    for lag in range(1, AC_LAGS + 1):
                        rl = int(np.dot(fr[:-lag], fr[lag:]))
                        out["media_id"].append(mid)
                        out["win_idx"].append(wi)
                        out["lag"].append(lag)
                        out["r"].append(rl)
                        out["r_norm"].append(
                            round(rl / r0, 6) if r0 else 0.0
                        )
            yield pd.DataFrame(out)

    return media.mapInPandas(ac, schema=AC_SCHEMA)


def mm_audio_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthetic_media(spark, sf_dir, kind="audio")
    return audio_autocorr(media)


_register(
    "mm_audio_autocorr",
    mm_audio_autocorr,
    f"""
    WITH sm AS (
      -- Bound s to FULL windows only ((W*H // window) * window): the
      -- engine drops any partial tail window (n_win = len(s) // window),
      -- so the oracle must too — parity must not depend on W*H being
      -- divisible by AUDIO_WINDOW.
      SELECT doc_id AS media_id,
             (s.s // {AUDIO_WINDOW})::INT AS win_idx,
             s.s % {AUDIO_WINDOW} AS n,
             ((doc_id + s.s) % 256) - 128 AS x
      FROM documents
      CROSS JOIN (
        SELECT unnest(range(0, {(W * H // AUDIO_WINDOW) * AUDIO_WINDOW}))
          AS s
      ) s
      WHERE doc_id < 200
    ),
    lagged AS (
      SELECT a.media_id, a.win_idx, l.lag,
             sum(a.x * b.x)::BIGINT AS rl
      FROM sm a
      JOIN (SELECT unnest(range(1, {AC_LAGS + 1})) AS lag) l ON true
      JOIN sm b ON b.media_id = a.media_id AND b.win_idx = a.win_idx
                AND b.n = a.n + l.lag
      GROUP BY 1, 2, 3
    ),
    r0 AS (
      SELECT media_id, win_idx, sum(x * x)::BIGINT AS r0
      FROM sm GROUP BY 1, 2
    )
    SELECT l.media_id, l.win_idx, l.lag::INT AS lag, l.rl AS r,
           CASE WHEN r0.r0 = 0 THEN 0.0
                ELSE round(l.rl * 1.0 / r0.r0, 6) END AS r_norm
    FROM lagged l JOIN r0 USING (media_id, win_idx)
    """,
)
