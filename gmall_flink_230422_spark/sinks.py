"""Sink helpers (SURVEY §2.1 S8, S10, S11).

  - column-order contract writer: the reference's ClickHouse sink binds JDBC
    placeholders by reflecting declared bean-field order and skipping
    @TransientSink fields (MyClickHouseUtil.java:97-118). Here the contract
    is an explicit ordered column list — same guarantee, no reflection.
  - upsert writer: per-key latest-row MERGE semantics (Phoenix upsert,
    DimSinkFunction.java:13-34 / upsert-kafka, MyKafkaUtil.java:91-100)
    over parquet: foreachBatch → union with existing → latest_by_key →
    overwrite. (On a real lakehouse this is a Delta MERGE; parquet
    overwrite keeps the container dependency-free.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import read_parquet
from .operators.stateful import latest_by_key


def select_contract(df: DataFrame, columns: list[str], transient: set[str] = frozenset()) -> DataFrame:
    """S10: enforce the ordered sink-column contract; ``transient`` columns
    are excluded (the @TransientSink analog, e.g. KeywordBean.source)."""
    return df.select(*[c for c in columns if c not in transient])


def write_topic(df: DataFrame, path: str, mode: str = "append") -> None:
    """S6-analog batch sink: a parquet directory acts as a named topic."""
    df.write.mode(mode).parquet(path)


def upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: list[str],
    seq_cols: list[str],
) -> None:
    """S8/S11: MERGE-by-key into a parquet table: new batch wins over
    existing rows with the same key when its sequence columns are newer."""
    if os.path.exists(path):
        existing = read_parquet(spark, path)
        merged = existing.unionByName(batch, allowMissingColumns=True)
    else:
        merged = batch
    latest = latest_by_key(merged, keys, [F.col(c) for c in seq_cols])
    # write via temp dir to avoid reading+overwriting the same files
    tmp = path.rstrip("/") + "._tmp"
    latest.write.mode("overwrite").parquet(tmp)
    final = read_parquet(spark, tmp)
    final.write.mode("overwrite").parquet(path)
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def land_batch(batch: DataFrame, batch_id: int, branches: dict, out_dir: str) -> None:
    """Land one micro-batch's named outputs: ``branches[name]`` goes to
    ``out_dir/<name>/batch_id=<batch_id>`` with ``mode("overwrite")``, so a
    crash-and-replay of batch N overwrites the same directories instead of
    appending duplicates — the idempotent-replay pattern, same as
    upsert_parquet. ``batch`` is persisted only while more than one branch
    reads it. Shared by fan_out_sink and streaming.drain."""
    many = len(branches) > 1
    if many:
        batch.persist()
    try:
        for name, frame in branches.items():
            frame.write.mode("overwrite").parquet(
                os.path.join(out_dir, name, f"batch_id={batch_id}")
            )
    finally:
        if many:
            batch.unpersist()


def fan_out_sink(
    raw_stream: DataFrame,
    split_fn,
    out_dir: str,
    checkpoint: str,
    query_name: str = "fan_out",
):
    """T6: one streaming query, N outputs — the side-output pattern.

    The reference fans BaseLogApp into 5 topics + dirty via side outputs
    (BaseLogApp.java:93-174). In Spark the cheap equivalent is a single
    ``foreachBatch`` that applies the splitter to each micro-batch and
    writes every branch to its own parquet "topic" — the source is read
    once per batch (N writeStream queries would read it N times).

    Exactly-once story: each branch batch lands through ``land_batch`` in a
    ``batch_id=N`` subdirectory with overwrite, so a replayed batch is
    idempotent. Consumers read ``out_dir/<name>`` and see ``batch_id`` as a
    discovered partition column (the Kafka offset analog); drop it if
    unwanted.

    ``split_fn``: batch DataFrame -> dict[name, DataFrame].
    Returns the started StreamingQuery (caller awaits/stops).
    """
    return (
        raw_stream.writeStream.foreachBatch(
            lambda batch, batch_id: land_batch(batch, batch_id, split_fn(batch), out_dir)
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def jdbc_sink(
    df: DataFrame,
    url: str,
    table: str,
    columns: list[str],
    mode: str = "append",
    batch_size: int = 5,
    properties: dict | None = None,
) -> None:
    """S10: the ClickHouse-style JDBC batch sink (MyClickHouseUtil.java:
    80-129) — ordered-column contract + batched inserts via Spark's JDBC
    writer (`batchsize` ≙ the reference's JdbcExecutionOptions batch of 5).
    Exercised against a REAL JDBC database in tests/test_jdbc_derby.py
    (embedded Apache Derby, which Spark ships — round-trip + filter
    pushdown); on a real cluster the same writer is the drop-in
    ClickHouse/MySQL sink.
    """
    (
        select_contract(df, columns)
        .write.mode(mode)
        .option("batchsize", str(batch_size))
        .jdbc(url, table, properties=properties or {})
    )
