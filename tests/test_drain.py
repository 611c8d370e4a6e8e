"""streaming.drain: the one AvailableNow micro-batch loop of the streaming
twins — append lands the union of the batches, complete lands only the
final image, a failing callback fails the drain, a side-effect-only
callback makes it return None."""

import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from gmall_flink_230422_spark.sources.files import stream_parquet
from gmall_flink_230422_spark.streaming.drain import drain

N_FILES = 3


@pytest.fixture(scope="module")
def src(spark):
    """Three single-file parquet writes → three micro-batches (one file per
    trigger); rows (k, v) with k = file index."""
    d = tempfile.mkdtemp(prefix="gmall_drain_")
    for i in range(N_FILES):
        spark.createDataFrame(
            [(i, i * 10 + j) for j in range(4)], "k long, v long"
        ).coalesce(1).write.mode("append").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_append_returns_union_without_batch_id(spark, src):
    seen = []

    def each(batch, batch_id):
        seen.append(batch_id)
        return batch.withColumn("w", F.col("v") + 1)

    out = drain(stream_parquet(spark, src), each)
    assert len(seen) == N_FILES
    assert "batch_id" not in out.columns
    assert out.columns == ["k", "v", "w"]
    want = sorted((i, i * 10 + j, i * 10 + j + 1) for i in range(N_FILES) for j in range(4))
    assert sorted(map(tuple, out.collect())) == want


def test_complete_returns_only_final_image(spark, src):
    counts = stream_parquet(spark, src).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    out = drain(counts, mode="complete")
    assert "batch_id" not in out.columns
    # one row per key: earlier triggers' images were overwritten, not kept
    assert sorted(map(tuple, out.collect())) == [(i, 4) for i in range(N_FILES)]


def test_failing_callback_raises_with_original_error(spark, src):
    def each(batch, batch_id):
        if batch_id == 1:
            raise RuntimeError("boom-in-batch-one")
        return batch

    with pytest.raises(StreamingQueryException, match="boom-in-batch-one"):
        drain(stream_parquet(spark, src), each)


def test_side_effect_callback_returns_none(spark, src):
    rows = []

    def each(batch, _batch_id):
        rows.extend(batch.collect())

    assert drain(stream_parquet(spark, src), each) is None
    assert len(rows) == 4 * N_FILES
