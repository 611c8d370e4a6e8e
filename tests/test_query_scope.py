"""Failure semantics of ``io.query_scope``, the one owner of a query's
state: on exit, normal or by exception, the session holds no cached frame,
no persisted RDD and none of the scratch dirs the query made. A cached
frame read afterwards recomputes; a checkpointed one fails loudly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gmall_flink_230422_spark.io import query_scope, scratch_dir
from gmall_flink_230422_spark.plans import registry

SF_DIR = "/root/testdata/sf0.001"


def _held(spark):
    """(cached frames?, persisted RDD count) of the session."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    return not cache_manager.isEmpty(), spark.sparkContext._jsc.getPersistentRDDs().size()


def _make_state(spark):
    cached = spark.range(40).withColumn("k", F.col("id") % 7).cache()
    assert cached.count() == 40
    checkpointed = spark.range(30).withColumn("v", F.col("id") * 2).localCheckpoint(eager=False)
    assert checkpointed.count() == 30
    tmp = scratch_dir("scope_test_")
    with open(os.path.join(tmp, "part"), "w") as f:
        f.write("x")
    held, n_rdds = _held(spark)
    assert held and n_rdds >= 2
    return cached, checkpointed, tmp


def _assert_released(spark, cached, checkpointed, tmp):
    assert _held(spark) == (False, 0)
    assert not os.path.exists(tmp)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        checkpointed.collect()
    assert sorted(tuple(r) for r in cached.collect()) == [(i, i % 7) for i in range(40)]


def test_scope_releases_state_on_exit(spark):
    with query_scope(spark):
        state = _make_state(spark)
    _assert_released(spark, *state)


def test_scope_releases_state_when_body_raises(spark):
    state = []
    with pytest.raises(RuntimeError, match="query failed"):
        with query_scope(spark):
            state.extend(_make_state(spark))
            raise RuntimeError("query failed")
    _assert_released(spark, *state)


def test_scope_keeps_dirs_made_before_entry(spark):
    outer = scratch_dir("scope_outer_")
    with query_scope(spark):
        inner = scratch_dir("scope_inner_")
    assert os.path.isdir(outer) and not os.path.exists(inner)
    os.rmdir(outer)


@pytest.mark.parametrize("name", ["x_dedup_clusters", "x_bpe_apply"])
def test_former_memo_consumers_repeat_across_scopes(spark, name):
    """The cluster map and the trained BPE vocab are built per query now;
    two consecutive scopes return the same rows."""
    runs = []
    for _ in range(2):
        with query_scope(spark):
            runs.append(sorted(tuple(r) for r in registry()[name].fn(spark, SF_DIR).collect()))
        assert _held(spark) == (False, 0)
    assert runs[0] and runs[0] == runs[1]
