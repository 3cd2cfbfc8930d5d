"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side plumbing (schemas, batch iteration, partition-size
control) is real and tested. Decode: ``strict=True`` performs REAL
decoded-domain featurization — Pillow when importable, else the
zero-dependency stdlib decoders in ``media_codecs`` (PNG via zlib,
BMP, PCM WAV), raising ``NotImplementedError`` only for formats
neither path can handle (JPEG/WebP/MP3 need Pillow/ffmpeg, absent in
this container). ``strict=False`` computes a deterministic fake from
the raw bytes (the oracle-matched default) so pipelines stay
end-to-end testable on any payload.

Scale notes:
- Payloads stay in executors; nothing collects. ``mapInPandas``
  streams Arrow record batches, so peak memory is one batch of
  payloads — cap ``spark.sql.files.maxPartitionBytes`` (and/or
  ``maxRecordsPerBatch``) so batch_size × median_payload fits the
  executor; for 100 TB of images that's the knob that matters.
- Feature extraction is embarrassingly parallel (map-only); resize/
  frame-sample keep binary in, binary out — no shuffle anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FEATURE_DIM = 16

try:  # decoder probe: real decode activates if the container ever
    # gains Pillow; everything below works without it
    from PIL import Image as _PILImage  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def attach_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic fake media table from any text source: payload =
    utf8 bytes, mime tagged, synthetic dimensions derived from length.
    (Real pipelines read payloads from object storage; this keeps the
    column/typing contract identical.)"""
    payload = F.encode(F.col(text_col), "utf-8")
    n = F.length(payload)
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        n.cast("long").alias("n_bytes"),
        (n % 640 + 16).cast("int").alias("width"),
        (n % 480 + 16).cast("int").alias("height"),
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a decoded-image feature vector:
    bucketed byte-value histogram, L1-normalized."""
    if not payload:
        return [0.0] * FEATURE_DIM
    # vectorized bucket histogram: byte * FEATURE_DIM // 256 == byte >> 4
    # for FEATURE_DIM=16 — np.bincount over the uint8 view instead of a
    # per-byte Python loop (the loop dominated the whole query runtime)
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    counts = np.bincount(arr * FEATURE_DIM // 256, minlength=FEATURE_DIM)
    return (counts / float(len(payload))).tolist()


def _pil_features(payload: bytes) -> list[float]:
    """Real decoded-pixel featurization (reachable only when Pillow is
    installed): grayscale pixel-value histogram in FEATURE_DIM buckets,
    L1-normalized — the decoded-domain analogue of _fake_features."""
    import io as _io

    from PIL import Image

    with Image.open(_io.BytesIO(payload)) as im:
        arr = np.asarray(im.convert("L"), dtype=np.int64).ravel()
    if arr.size == 0:
        return [0.0] * FEATURE_DIM
    counts = np.bincount(arr * FEATURE_DIM // 256, minlength=FEATURE_DIM)
    return (counts / float(arr.size)).tolist()


def extract_features(df: DataFrame, strict: bool = False, decoder=None) -> DataFrame:
    """Decode + featurize media payloads via Arrow-batched mapInPandas.

    Decoder resolution: an explicit ``decoder`` callable (bytes ->
    FEATURE_DIM floats, shipped to executors inside the closure) wins;
    otherwise ``strict=True`` uses the real Pillow grayscale-histogram
    decode when the library is importable, else the zero-dependency
    stdlib decoders (PNG via zlib, BMP, PCM WAV — see
    ``media_codecs``), which still raise NotImplementedError for
    formats neither can handle (JPEG/WebP/MP3 need Pillow/ffmpeg);
    ``strict=False`` computes the deterministic byte-histogram fake
    (the oracle-matched default). The UDF signature, batch shape, and
    output schema are identical on every path."""
    if decoder is None and strict:
        if _HAS_PIL:
            decoder = _pil_features
        else:
            from kairos_spark.operators.media_codecs import stdlib_features

            decoder = stdlib_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            featurize = decoder if decoder is not None else _fake_features
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(lambda p: len(p) if p is not None else 0),
                    "features": pdf["payload"].map(
                        lambda p: featurize(bytes(p)) if p is not None else [0.0] * FEATURE_DIM
                    ),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, schema=_FEATURE_SCHEMA)


def resize_stub(df: DataFrame, max_dim: int = 256) -> DataFrame:
    """Resize plumbing: metadata transforms JVM-side; payload byte
    truncation stands in for the recompressed image (same contract:
    binary in → smaller binary out)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_dim)) / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    new_bytes = F.greatest((F.col("n_bytes") * scale * scale).cast("long"), F.lit(1))
    return df.select(
        "media_id",
        # deterministic stand-in for the recompressed payload
        F.substring(F.col("payload"), 1, 1 << 20).alias("payload"),
        "mime",
        new_bytes.alias("n_bytes"),
        (F.col("width") * scale).cast("int").alias("width"),
        (F.col("height") * scale).cast("int").alias("height"),
    )


def frame_sample_stub(df: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled offset
    (posexplode over a JVM-computed offset sequence); the 'frame'
    payload is a deterministic byte slice. A real ffmpeg sampler swaps
    into the same explode shape."""
    offsets = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_bytes") - 1, F.lit(0)),
        F.lit(every_n_bytes),
    )
    exploded = df.select(
        "media_id",
        "payload",
        F.posexplode(offsets).alias("frame_idx", "offset"),
    )
    return exploded.select(
        "media_id",
        "frame_idx",
        "offset",
        F.substring(F.col("payload"), F.col("offset") + 1, 64).alias("frame"),
    )


def resize_media(df: DataFrame, max_dim: int = 256, resizer=None) -> DataFrame:
    """REAL image resize via Arrow-batched mapInPandas: decode ->
    downsample so the longer side is <= max_dim -> re-encode. The
    default resizer is the zero-dep ``media_codecs.resize_image``
    (PNG/BMP in, grayscale PNG out, nearest-neighbor); a Pillow/ffmpeg
    deployment ships a color-preserving callable through the same
    seam. Unknown formats raise inside the batch (fail loudly — use
    ``resize_stub`` for metadata-only plumbing on opaque payloads).
    Same scale shape as extract_features: map-only, payloads never
    leave executors, batch size is the memory knob."""
    if resizer is None:
        from kairos_spark.operators.media_codecs import resize_image

        resizer = resize_image

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("mime", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = [resizer(bytes(p), max_dim) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [o[0] for o in outs],
                    "mime": ["image/png"] * len(outs),
                    "n_bytes": [len(o[0]) for o in outs],
                    "width": [o[1] for o in outs],
                    "height": [o[2] for o in outs],
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, schema=schema)


_AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("offset_samples", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def audio_frame_sample(
    df: DataFrame, frame_len: int = 1024, hop: int | None = None
) -> DataFrame:
    """REAL audio frame sampling over decoded PCM (stdlib wave): one
    output row per window of ``frame_len`` samples every ``hop``
    samples — sample-domain offsets, unlike ``frame_sample_stub``'s
    raw byte slices which cut through the RIFF header. Map-only
    explode; a 100 TB audio sweep shuffles nothing."""
    from kairos_spark.operators.media_codecs import wav_frame_slices

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, frames = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for idx, off, frame in wav_frame_slices(bytes(p), frame_len, hop):
                    ids.append(mid)
                    idxs.append(idx)
                    offs.append(off)
                    frames.append(frame)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "offset_samples": pd.Series(offs, dtype="int64"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, schema=_AUDIO_FRAME_SCHEMA)


def signature_buckets(df: DataFrame) -> DataFrame:
    """pHash-style coarse perceptual bucketing of media payloads: the
    16-dim byte-histogram feature vector (``extract_features`` — the
    Arrow mapInPandas path) quantizes to one bit per dimension by
    comparing against the CORPUS mean of that dimension (exactly the
    pHash recipe: block statistic vs global statistic → sign bit),
    packing a 16-bit integer signature. Media sharing a signature are
    coarse perceptual near-neighbors — the candidate-blocking front of
    an image-dedup pipeline (a real decoder swaps into the same
    shape). Returns (signature, n_media, min_media_id) per bucket.

    Determinism: features are exact byte-count ratios; per-dim means
    accumulate in DECIMAL(38,12) (associative) and the bit compare is
    strict ``>`` — an independent engine reproduces every bit from
    hex(payload).

    Scale shape: one map-only feature pass, a 16-row per-dim mean
    aggregate broadcast back onto the exploded (media, dim) rows,
    then two hash aggregations (bit-pack per media, census per
    signature). Nothing quadratic — pair enumeration within buckets
    is the (separate) downstream step and stays bounded by bucket
    sizes."""
    feats = extract_features(df)
    exploded = feats.select("media_id", F.posexplode("features").alias("pos", "fv"))
    per_dim = exploded.groupBy("pos").agg(
        (
            F.sum(F.col("fv").cast("decimal(38,12)")).cast("double") / F.count("*")
        ).alias("mv")
    )
    sigs = (
        exploded.join(F.broadcast(per_dim), "pos")
        .groupBy("media_id")
        .agg(
            F.sum(
                F.when(
                    F.col("fv") > F.col("mv"),
                    F.pow(F.lit(2.0), F.col("pos")).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("signature")
        )
    )
    return sigs.groupBy("signature").agg(
        F.count("*").cast("long").alias("n_media"),
        F.min("media_id").cast("long").alias("min_media_id"),
    )


def frame_dup_rate(df: DataFrame, frame_bytes: int = 256) -> DataFrame:
    """Cross-media duplicate-frame audit: slice every payload into
    fixed-size frames (the ``frame_sample_stub`` windowing), digest
    each frame, and per media report how many of its frames also occur
    in at least one OTHER media — (media_id, n_frames, dup_frames,
    dup_frame_rate). The intro/outro/boilerplate detector for
    video-style corpora: a media whose frames are mostly cross-media
    duplicates is a re-upload or a template even when its container
    digest is unique. Pairs with ``media_signature_buckets`` (whole-
    payload grain) the way ``paragraph_dedup`` pairs with exact doc
    dedup.

    Engine contract: the frame digest is md5 over the frame's UPPERCASE
    hex rendering — DuckDB's md5 only accepts VARCHAR and both engines'
    hex() agree byte-for-byte, so digests are reproducible without a
    binary-md5 seam; framing is byte-denominated (the r7
    byte-vs-codepoint lesson: any byte-denominated oracle must slice
    hex(payload), never text). dup_frame_rate is one exact integer
    ratio with the 1-frame floor shared by frame_sample's convention.

    Scale shape: frames digest map-side and only (digest, media_id)
    short keys shuffle — payload bytes never move; the flagged-digest
    set joins back on the digest key (correctly NOT broadcast —
    template-heavy corpora make it large); per-media rollup is the
    final combiner aggregate."""
    from kairos_spark.exact import _round6_ratio

    offsets = F.sequence(
        F.lit(0),
        F.greatest(F.col("n_bytes") - 1, F.lit(0)),
        F.lit(int(frame_bytes)),
    )
    frames = df.select(
        "media_id",
        F.hex(F.col("payload")).alias("__h"),
        F.explode(offsets).alias("__off"),
    ).select(
        "media_id",
        F.md5(
            F.substring(F.col("__h"), F.col("__off") * 2 + 1, frame_bytes * 2)
        ).alias("__d"),
    )
    flagged = (
        frames.groupBy("__d")
        .agg(F.countDistinct("media_id").alias("__nm"))
        .where(F.col("__nm") >= 2)
        .select("__d")
    )
    marked = frames.join(flagged.withColumn("__dup", F.lit(1)), "__d", "left")
    return marked.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_frames"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long").alias("dup_frames"),
        _round6_ratio(
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))), F.count("*")
        ).alias("dup_frame_rate"),
    )
