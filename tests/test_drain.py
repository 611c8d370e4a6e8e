"""streaming.drain: the one AvailableNow micro-batch loop of the streaming
twins — append lands the union of the batches, complete lands only the
final image, a failing callback fails the drain, a side-effect-only
callback makes it return None, the shuffle clamp stays inside the query,
and nothing it writes outlives its process."""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from gmall_flink_230422_spark.sources.files import stream_parquet
from gmall_flink_230422_spark.streaming.drain import drain

N_FILES = 3
ROOT = Path(__file__).resolve().parent.parent


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


def test_shuffle_clamp_scoped_to_the_query(spark, src):
    """On a session at Spark's untouched default of 200 shuffle partitions,
    the drained query's stateful shuffles run at defaultParallelism and the
    session reads 200 again afterwards."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.parts = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [op.numShufflePartitions for op in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    listener = Progress()
    spark.streams.addListener(listener)
    spark.conf.set(key, "200")
    try:
        counts = stream_parquet(spark, src).groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        drain(counts, mode="complete")
        assert spark.conf.get(key) == "200"
        deadline = time.time() + 60  # progress events reach Python asynchronously
        while len(listener.parts) < N_FILES and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, before)
    assert len(listener.parts) == N_FILES
    assert set(listener.parts) == {spark.sparkContext.defaultParallelism}


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


TWO_DRAINS = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from gmall_flink_230422_spark import io
from gmall_flink_230422_spark.session import get_spark
from gmall_flink_230422_spark.sources.files import stream_parquet
from gmall_flink_230422_spark.streaming.drain import drain

spark = get_spark("drain-probe", master="local[1]")
rows = [sorted(map(list, drain(stream_parquet(spark, sys.argv[2])).collect())) for _ in range(2)]
print(json.dumps({"root": io._scratch_root, "rows": rows,
                  "left": sorted(os.path.relpath(os.path.join(d, n), io._scratch_root)
                                 for d, dirs, _ in os.walk(io._scratch_root) for n in dirs)}))
"""


def test_drain_leaves_nothing_after_exit(src, tmp_path):
    out = subprocess.run([sys.executable, "-c", TWO_DRAINS, str(ROOT), src],
                         capture_output=True, text=True, timeout=300, cwd=tmp_path)
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    want = sorted([i, i * 10 + j] for i in range(N_FILES) for j in range(4))
    assert rec["rows"] == [want, want]
    # while the process ran: two drains, their landed output, no checkpoint
    drains = [d for d in rec["left"] if os.sep not in d]
    assert len(drains) == 2 and all(d.startswith("drain_") for d in drains)
    assert {d + os.sep + "out" for d in drains} <= set(rec["left"])
    assert not [d for d in rec["left"] if os.path.basename(d) == "ck"]
    # after it exited: the scratch root is gone
    assert not os.path.exists(rec["root"])
