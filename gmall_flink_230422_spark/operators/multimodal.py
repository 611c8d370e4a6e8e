"""Multimodal column handling (LLM-pipeline extension).

Pattern: media travel as opaque ``binary`` columns with typed metadata
structs; decode / feature-extract runs as Arrow-batched ``mapInPandas`` so
each task processes a columnar batch without JVM↔Python row overhead. The
actual image/audio decode libraries are not in this container, so the decode
kernel is STUBBED with a deterministic fake (clearly marked below); the
Spark-side plumbing — schema, batch iteration, partitioning — is real and
tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("media_type", T.StringType()),
    ]
)


def to_media_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Wrap a text column as an opaque binary media column + metadata —
    stands in for image/audio payloads in this container."""
    media = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        media.alias("media"),
        F.lit("application/octet-stream").alias("media_type"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
    )


def _fake_decode(blob: bytes) -> tuple[int, int]:
    """STUB: deterministic fake of an image-dimension probe.

    A real deployment replaces this with e.g. PIL.Image.open(BytesIO(blob))
    — the library is not available here (see module docstring). The fake
    derives stable pseudo-dimensions from the payload length so tests and
    oracles are reproducible.
    """
    n = len(blob)
    return (n % 64 + 1, (n // 64) % 64 + 1)


def decode_media(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Arrow-batched decode via mapInPandas: binary in → typed metadata out.

    At scale: one pass, no shuffle; partition sizing governed by
    spark.sql.files.maxPartitionBytes on the media source.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["media"].map(lambda b: _fake_decode(bytes(b)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["media"].map(len).astype("int64"),
                    "width": dims.map(lambda d: d[0]).astype("int64"),
                    "height": dims.map(lambda d: d[1]).astype("int64"),
                    "media_type": pdf["media_type"],
                }
            )

    return media.mapInPandas(decode_batches, DECODED_SCHEMA)


def resize_media(media: DataFrame, max_bytes: int = 128) -> DataFrame:
    """Resize analog: cap each payload at ``max_bytes`` (stands in for
    image downscale; a real kernel swaps the byte-truncation for a PIL/ffmpeg
    call inside the same batch loop). Binary in → binary out, no shuffle;
    the metadata column is recomputed so downstream operators never trust
    stale sizes."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            clipped = pdf["media"].map(lambda b: bytes(b)[:max_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media": clipped,
                    "media_type": pdf["media_type"],
                    "n_bytes": clipped.map(len).astype("int64"),
                }
            )

    return media.mapInPandas(resize_batches, MEDIA_SCHEMA)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Feature-extraction analog: fixed-width float vector per payload.

    STUB kernel (no vision/audio models in this container), but a *portable*
    one: feature i = (md5(payload ∥ ':' ∥ i) as int60) mod 1000 / 1000 —
    the same construction as functions/hashing.py, so the whole path is
    DuckDB-oracle-checkable end to end. Emitted as one column per dim
    (f0..f{dim-1}) for cross-engine value comparison; a real model swaps
    the hash for an ONNX/torch call over the same Arrow batches.
    """
    import hashlib

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(f"f{i}", T.DoubleType()) for i in range(dim)]
    )

    def feat(blob: bytes, i: int) -> float:
        h = hashlib.md5(bytes(blob) + f":{i}".encode()).hexdigest()
        return (int(h[:15], 16) % 1000) / 1000.0

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": pdf["doc_id"]}
            for i in range(dim):
                out[f"f{i}"] = pdf["media"].map(lambda b, i=i: feat(b, i))
            yield pd.DataFrame(out)

    return media.mapInPandas(feature_batches, schema)


def explode_frames(media: DataFrame, frame_bytes: int = 32) -> DataFrame:
    """Video-frame explosion analog: one row per fixed-size slice of the
    payload — (doc_id, frame_idx, frame, frame_len). The real-world shape of
    video→frames / audio→windows fan-out.

    Entirely JVM-side (sequence → explode → binary substring): no Python in
    the hot path, no shuffle; output rows ≈ bytes/frame_bytes scale linearly
    with input and stay partition-local. A real decoder swaps the byte
    slicing for keyframe offsets; the fan-out plumbing is the scalable part.
    """
    n_frames = F.ceil(F.col("n_bytes") / F.lit(frame_bytes)).cast("long")
    return (
        # empty payloads emit no frames (sequence(0, -1) would count DOWN)
        media.filter(F.col("n_bytes") > 0)
        .select(
            "doc_id",
            "media",
            "n_bytes",
            F.explode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            F.expr(f"substring(media, cast(frame_idx * {frame_bytes} + 1 as int), {frame_bytes})").alias("frame"),
            F.least(
                F.lit(frame_bytes).cast("long"),
                F.col("n_bytes") - F.col("frame_idx") * frame_bytes,
            ).alias("frame_len"),
        )
    )


def window_signal(
    media: DataFrame, window_units: int = 64, hop_units: int = 32
) -> DataFrame:
    """Audio-windowing analog: OVERLAPPED fixed windows over the payload
    (hop < window — the STFT/mel-frame shape, vs `explode_frames`'
    disjoint slices), one row per FULL window with a deterministic
    energy proxy (sum of sample values).

    "Samples" here are the characters of the UTF-8-decoded payload (the
    container has no audio libs — see module docstring); a real pipeline
    swaps the char-sum kernel for an FFT/mel Pandas UDF in the same
    mapInPandas position as `decode_media`, while THIS fan-out (sequence →
    explode → windowed fold) is the scalable JVM-side part that survives
    the swap: no Python, no shuffle, output rows ≈ units/hop per doc,
    partition-local.
    """
    sig = F.expr("decode(media, 'utf-8')")
    df = media.select(
        "doc_id", sig.alias("_sig"), F.length(sig).cast("long").alias("n_units")
    )
    n_win = (F.floor((F.col("n_units") - window_units) / hop_units) + 1).cast("long")
    return (
        df.filter(F.col("n_units") >= window_units)
        .select(
            "doc_id",
            "_sig",
            F.explode(
                F.sequence(F.lit(0).cast("long"), n_win - 1)
            ).alias("win_idx"),
        )
        .select(
            "doc_id",
            "win_idx",
            (F.col("win_idx") * hop_units + 1).alias("start_unit"),
            F.expr(
                f"aggregate(sequence(win_idx * {hop_units} + 1, "
                f"win_idx * {hop_units} + {window_units}), 0L, "
                "(acc, i) -> acc + ascii(substring(_sig, cast(i as int), 1)))"
            ).alias("energy"),
        )
    )
