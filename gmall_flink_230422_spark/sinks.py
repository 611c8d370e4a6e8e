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


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` balanced files and atomically swap it in.
    Streaming micro-batch sinks accrete one-file-per-batch fragments; at
    100 TB the resulting listing/open overhead dominates scans, and the
    periodic compactor (this) is the standard fix.

    The rewrite is one round-robin repartition (no key assumption, even
    output sizes); the swap is rename-based (write to ``path.compact``,
    move the old dir aside, move the new one in, drop the old). Readers
    never observe a *half-written* directory, but the two-rename swap is
    NOT atomic: there is a window between the renames where ``path`` does
    not exist, and a crash inside it strands the data at ``path + ".old"``.
    Mitigations here: stale ``.compact``/``.old`` dirs from a prior failed
    run are reclaimed up front (restoring ``.old`` to ``path`` if ``path``
    is gone), and a failed swap rolls the original directory back. On a
    real deployment use a table format with a manifest commit (Delta /
    Iceberg ``RewriteDataFiles``) for a truly atomic swap. Returns the new
    file count.
    """
    import shutil

    tmp = path.rstrip("/") + ".compact"
    old = path.rstrip("/") + ".old"
    # Crash recovery + pre-clean: a prior run may have died mid-swap
    # (data stranded at .old) or mid-write (half-built .compact); either
    # leftover would also make os.rename below raise (dest exists).
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    df = read_parquet(spark, path)
    files = df.inputFiles()
    total = sum(
        os.path.getsize(f[len("file:") :] if f.startswith("file:") else f)
        for f in files
    )
    n_files = max(1, -(-total // target_file_bytes))
    if n_files >= len(files):
        return len(files)  # already compact enough
    df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        os.rename(old, path)  # roll back so readers keep the original data
        raise
    shutil.rmtree(old)
    return int(n_files)


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


def snapshot_write(df: DataFrame, table_dir: str) -> int:
    """Versioned snapshot write (poor-man's table format): each call lands
    a new immutable ``v=N`` directory under ``table_dir`` and then commits
    it by atomically renaming a manifest tempfile over ``_latest`` — the
    Iceberg/Delta commit protocol reduced to its load-bearing move (data
    first, single-file pointer swap last, so readers either see the old
    version or the new one, never a partial write). Returns the new
    version number.

    Concurrency (ADVICE r3): the version number is CLAIMED atomically —
    ``os.mkdir(v=N)`` either creates the directory or raises
    FileExistsError, in which case the writer retries with N+1 — so two
    concurrent writers can never both land in the same ``v=N`` and
    silently clobber one commit. Last pointer swap still wins the
    ``_latest`` race, which is the Iceberg/Delta last-committer-wins
    semantic, but both versions' data survive."""
    import json
    import os

    os.makedirs(table_dir, exist_ok=True)
    versions = [
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    ]
    v = max(versions, default=0) + 1
    while True:
        try:
            os.mkdir(os.path.join(table_dir, f"v={v}"))
            break
        except FileExistsError:
            v += 1
    df.write.mode("overwrite").parquet(os.path.join(table_dir, f"v={v}"))
    tmp = os.path.join(table_dir, f"_latest.tmp.{v}")
    with open(tmp, "w") as fh:
        json.dump({"version": v}, fh)
    os.replace(tmp, os.path.join(table_dir, "_latest"))
    return v


def snapshot_read(spark, table_dir: str, version: int | None = None) -> DataFrame:
    """Read a snapshot table written by :func:`snapshot_write` — the
    committed latest by default, or time-travel to any retained ``version``.
    Uncommitted/partial version dirs are invisible: the reader trusts only
    the ``_latest`` pointer (or the explicit version argument)."""
    import json
    import os

    if version is None:
        with open(os.path.join(table_dir, "_latest")) as fh:
            version = json.load(fh)["version"]
    return read_parquet(spark, os.path.join(table_dir, f"v={version}"))
