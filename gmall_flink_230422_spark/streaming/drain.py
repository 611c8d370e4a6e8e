"""Run a streaming query to completion and read back what it landed — the
one micro-batch loop every streaming twin in ``plans/`` goes through."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from ..io import read_parquet, scratch_dir
from ..sinks import land_batch

_SHUFFLE = "spark.sql.shuffle.partitions"


def drain(out: DataFrame, each=None, mode: str = "append") -> DataFrame | None:
    """Drain the streaming frame ``out`` with ``Trigger.AvailableNow``
    (process every file the source holds now, then stop) and return the
    landed output as a batch DataFrame, ``batch_id`` dropped.

    Per micro-batch, ``each(batch, batch_id)`` — or the batch itself when
    ``each`` is None — lands through ``sinks.land_batch`` under
    ``batch_id=N`` with overwrite, so a replayed batch replaces its own
    rows. ``mode`` is Spark's ``outputMode``: in ``complete`` mode every
    trigger re-emits the whole result table, so each one overwrites a
    single image and only the final image is returned.

    A callback that does its own side effects returns None; if no batch
    landed anything, ``drain`` returns None. The temp and checkpoint
    directories belong to ``drain``: both sit in an ``io.scratch_dir``, and
    the checkpoint is deleted as soon as the query stops, whether it
    succeeded or failed. The returned frame reads the landed output
    lazily, so it stays until the enclosing ``io.query_scope`` exits, or
    until the process exits when there is no scope. A failed query raises
    ``StreamingQueryException``, whose message carries the callback's
    original error.
    """
    tmp = scratch_dir("drain_")

    def _land(batch: DataFrame, batch_id: int) -> None:
        frame = batch if each is None else each(batch, batch_id)
        if frame is not None:
            key = 0 if mode == "complete" else batch_id
            land_batch(batch, key, {"out": frame}, tmp)

    checkpoint = os.path.join(tmp, "ck")
    conf = out.sparkSession.conf
    clamp = conf.get(_SHUFFLE, "200") == "200"
    if clamp:
        conf.set(_SHUFFLE, str(out.sparkSession.sparkContext.defaultParallelism))
    try:
        query = (
            out.writeStream.outputMode(mode)
            .foreachBatch(_land)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if clamp:
            conf.set(_SHUFFLE, "200")
    try:
        query.awaitTermination()
    finally:
        query.stop()
        shutil.rmtree(checkpoint, ignore_errors=True)
    landed = os.path.join(tmp, "out")
    if not os.path.isdir(landed):
        return None
    return read_parquet(out.sparkSession, landed).drop("batch_id")
