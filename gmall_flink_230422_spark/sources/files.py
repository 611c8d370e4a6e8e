"""File-based batch/stream sources — the tested transport in this repo.

The reference's app chain hands records between layers via Kafka topics; the
same macro-dataflow here is parquet directories per "topic": each pipeline
stage writes parquet, the next reads it (batch) or readStream's it
(micro-batch file source, which is also the scalable pattern for replayable
ingestion at 100 TB: immutable files + checkpointed offsets).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def stream_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming file source: replays a parquet directory as micro-batches —
    the deterministic stand-in for a Kafka topic in tests. Without a
    ``schema`` the one the files at ``path`` already hold is used."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def _force_mtime(path: str, seen: set[str], stamp: float) -> set[str]:
    """Pin every not-yet-seen file under ``path`` to mtime ``stamp``.

    The file-stream source replays files oldest-mtime-first; consecutive
    ``coalesce(1)`` writes *usually* get increasing mtimes, but on
    filesystems with coarse mtime granularity (1 s on HFS+/some network
    mounts) chunks can tie and replay order becomes nondeterministic. An
    explicit ``os.utime`` per chunk makes the ordering a guarantee instead
    of a timing accident. Returns the updated seen-set."""
    import os

    current: set[str] = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            current.add(os.path.join(root, n))
    for f in current - seen:
        os.utime(f, (stamp, stamp))
    return current


def write_time_chunks(df: DataFrame, ts_col: str, path: str, n_chunks: int = 6) -> str:
    """Replay-harness writer: land ``df`` as ``n_chunks`` sequential
    single-file parquet chunks partitioned by event-time ranges, so the
    streaming file source (which processes files oldest-modification-first)
    replays them in event-time order — the deterministic stand-in for a
    Kafka topic whose producer emits in event order.

    Harness-side only (test/oracle replay at fixture scale): the sequential
    single-file writes are intentional — they give strictly increasing file
    mtimes, one time-range per micro-batch. Production ingestion is the
    multi-file checkpointed path in ``stream_parquet``.
    """
    from pyspark.sql import functions as F

    lo, hi = (
        df.agg(
            F.min(F.unix_micros(F.col(ts_col))),
            F.max(F.unix_micros(F.col(ts_col))),
        ).first()
    )
    step = max(1, (hi - lo) // n_chunks + 1)
    us = F.unix_micros(F.col(ts_col))
    seen: set[str] = set()
    base = time.time()
    for i in range(n_chunks):
        chunk = df.filter((us >= lo + i * step) & (us < lo + (i + 1) * step))
        chunk.coalesce(1).write.mode("append").parquet(path)
        seen = _force_mtime(path, seen, base + i)
    return path


def write_chunks_by(
    df: DataFrame, chunk_col: str, path: str, n_chunks: int
) -> str:
    """Replay-harness writer, arbitrary chunk assignment: land chunk k as
    the k-th single-file parquet write (mtimes pinned strictly increasing
    via ``_force_mtime`` ⇒ the file stream replays chunks in index order
    even on coarse-mtime filesystems). With a hash-derived ``chunk_col``
    this produces a DETERMINISTIC out-of-order arrival pattern — the
    harness for exercising watermark late-data semantics."""
    from pyspark.sql import functions as F

    seen: set[str] = set()
    base = time.time()
    for i in range(n_chunks):
        df.filter(F.col(chunk_col) == i).drop(chunk_col).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        seen = _force_mtime(path, seen, base + i)
    return path


def stream_text(spark: SparkSession, path: str, files_per_trigger: int = 1) -> DataFrame:
    """Streaming text source: one ``value`` string column per line — the
    shape a Kafka value stream presents (S1's CAST(value AS STRING))."""
    return (
        spark.readStream.option("maxFilesPerTrigger", files_per_trigger)
        .text(path)
    )
