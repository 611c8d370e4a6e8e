"""File-based batch/stream sources — the tested transport in this repo.

The reference's app chain hands records between layers via Kafka topics; the
same macro-dataflow here is parquet directories per "topic": each pipeline
stage writes parquet, the next reads it (batch) or readStream's it
(micro-batch file source, which is also the scalable pattern for replayable
ingestion at 100 TB: immutable files + checkpointed offsets).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import read_parquet, scratch_dir


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
        schema = read_parquet(spark, path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def replay(df: DataFrame, batches: int = 4, order: str | None = None) -> DataFrame:
    """Replay ``df`` as a file stream of ``batches`` micro-batches — the
    deterministic stand-in for a Kafka topic every streaming twin reads.

    ``df`` lands under an ``io.scratch_dir`` as one parquet file per
    micro-batch, and the stream reads one file per trigger with
    ``df.schema``, so no schema-read job runs. With ``order=None`` rows are
    split arbitrarily across the files. With the name of a timestamp or
    integer column, file k holds the k-th of ``batches`` equal ranges of
    that column (an integer column holding 0…n−1 cut into n ranges puts
    each value in its own batch), and the files' mtimes are pinned one
    second apart, so the source — which replays oldest mtime first —
    replays them in range order even where mtimes are coarse.
    """
    path = os.path.join(scratch_dir("replay_"), "topic")
    if order is None:
        df.repartition(batches).write.parquet(path)
    else:
        key = F.col(order)
        if isinstance(df.schema[order].dataType, T.TimestampType):
            key = F.unix_micros(key)
        lo, hi = df.agg(F.min(key), F.max(key)).first()
        step = (hi - lo) // batches + 1
        stamp = time.time()
        landed: set[str] = set()
        for i in range(batches):
            part = df.filter((key >= lo + i * step) & (key < lo + (i + 1) * step))
            part.coalesce(1).write.mode("append").parquet(path)
            for name in set(os.listdir(path)) - landed:
                os.utime(os.path.join(path, name), (stamp + i, stamp + i))
                landed.add(name)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def stream_text(spark: SparkSession, path: str, files_per_trigger: int = 1) -> DataFrame:
    """Streaming text source: one ``value`` string column per line — the
    shape a Kafka value stream presents (S1's CAST(value AS STRING))."""
    return (
        spark.readStream.option("maxFilesPerTrigger", files_per_trigger)
        .text(path)
    )
