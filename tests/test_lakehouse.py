"""Lakehouse plumbing: footer-stats file skipping (io.prune_files_by_stats).
Plumbing tier — no SQL-expressible oracle form, correctness asserted
directly (pruning must be LOSSLESS: pruned read ≡ full read + filter)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_230422_spark.io import prune_files_by_stats


def test_prune_files_by_stats_lossless_and_selective(spark, tmp_path):
    # 10 files, each covering a disjoint id range -> range predicates can
    # skip most files from footer stats alone
    out = str(tmp_path / "t")
    df = spark.range(0, 1000).withColumn("payload", F.col("id") * 2)
    df.repartitionByRange(10, "id").write.parquet(out)

    kept, total = prune_files_by_stats(out, "id", 150, 249)
    assert total == 10
    assert len(kept) <= 3  # ~1-2 overlapping range files + boundary slack

    pruned = spark.read.parquet(*kept).filter(F.col("id").between(150, 249))
    full = spark.read.parquet(out).filter(F.col("id").between(150, 249))
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )


def test_prune_missing_stats_keeps_file(spark, tmp_path):
    out = str(tmp_path / "t2")
    spark.range(0, 10).write.parquet(out)
    kept, total = prune_files_by_stats(out, "no_such_column", 0, 1)
    assert len(kept) == total  # cannot skip without stats: keep everything
