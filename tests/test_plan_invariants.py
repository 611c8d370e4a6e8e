"""Plan-invariant guard for the bench headliners: the regressions the
round-2 verdict asked to gate (tools/audit_plans.py audits the FULL
registry; this test pins the invariants on the queries whose timings the
driver records, so a plan regression fails CI, not just the audit doc).

Invariants per headliner plan (built at sf0.001 — plan shape, not data):
  - no ``BatchEvalPython``: Python in the hot path must be Arrow-batched;
  - no ``CartesianProduct``: 1-row scalar attaches compile to
    BroadcastNestedLoopJoin, so CartesianProduct means a real quadratic
    join escaped;
  - no data-proportional ``SinglePartition`` exchange: global top-k must
    compile to TakeOrderedAndProject and windows must be keyed (the q15
    round-1 bug class). Classification is shared with
    tools/audit_plans.py:single_partition_audit — a single-partition
    exchange feeding a grand-total aggregate (``Keys: []``) is benign
    because the partial aggregate already reduced each partition to one
    row; anything else fails. (Round-3 verdict: the old literal match on
    ``Exchange SinglePartition`` was vacuous in formatted mode, where the
    distribution prints on a separate ``Arguments:`` line.)

Each headliner is built inside its own ``io.query_scope``, so its plan does
not depend on what earlier tests cached or checkpointed in the session.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from audit_plans import (  # noqa: E402
    MAX_SCAN_REPEAT,
    MAX_SHUFFLES,
    SCAN_REPEAT_OK,
    SHUFFLE_OK,
    SINGLE_PARTITION_OK,
    scan_repeat_audit,
    single_partition_audit,
)

from gmall_flink_230422_spark.io import query_scope
from gmall_flink_230422_spark.plans import registry

SF_DIR = "/root/testdata/sf0.001"


def _headline_names():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parent.parent / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.HEADLINE


@pytest.fixture(scope="module", autouse=True)
def _released_session(spark):
    """Start the module from what earlier test modules left released, so
    the first headliner's plan is as free of their caches as the rest."""
    with query_scope(spark):
        pass


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", _headline_names())
def test_headliner_plan_invariants(spark, name):
    spec = registry()[name]
    with query_scope(spark):
        plan = plan_of(spec.fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan"
    )
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in the plan"
    _, sp_other = single_partition_audit(plan)
    if name not in SINGLE_PARTITION_OK:
        assert not sp_other, (
            f"{name}: data-proportional single-partition exchange(s) in the "
            f"plan: {sp_other}"
        )
    rep = scan_repeat_audit(plan)
    assert rep <= SCAN_REPEAT_OK.get(name, MAX_SCAN_REPEAT), (
        f"{name}: same scan signature compiled {rep}x — an uncached "
        "multi-consumer intermediate (cache/localCheckpoint it)"
    )
    import re

    n_shuffle = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_shuffle <= SHUFFLE_OK.get(name, MAX_SHUFFLES), (
        f"{name}: {n_shuffle} shuffles — recompiled lineage or runaway plan"
    )


def test_single_partition_classifier_fires(spark):
    """Canary for the r3 vacuous-invariant bug: the classifier MUST flag a
    deliberately-bad plan (unpartitioned Window -> global Sort ->
    SinglePartition exchange) and MUST pass a benign grand-total
    aggregate. If formatted-explain output ever changes shape again, this
    fails loudly instead of letting the guard silently match nothing."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("v", F.col("id") % 7)

    bad = df.withColumn(
        "cum",
        F.sum("v").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    _, sp_other = single_partition_audit(plan_of(bad))
    assert sp_other, "classifier failed to flag an unpartitioned window"

    benign = df.agg(F.sum("v").alias("s"))
    n_scalar, sp_other = single_partition_audit(plan_of(benign))
    assert n_scalar >= 1 and not sp_other, (
        "grand-total aggregate misclassified"
    )


def test_scan_repeat_detector_fires(spark):
    """Canary for the recompiled-lineage gate (r4 verdict #2): an uncached
    frame with many consumers compiles its parquet scan once PER consumer
    — the mad_outliers (r3) / basket_rules (r4) / triangle_count (r5) bug
    class, hand-found one instance per round until this gate. The detector
    must flag the uncached shape and pass the cached twin (whose consumers
    read InMemoryTableScan, not parquet)."""
    from functools import reduce

    from pyspark.sql import functions as F

    base = (
        spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uncached = reduce(
        lambda a, b: a.unionAll(b), [base] * (MAX_SCAN_REPEAT + 2)
    )
    assert scan_repeat_audit(plan_of(uncached)) > MAX_SCAN_REPEAT, (
        "detector failed to flag an uncached multi-consumer lineage"
    )

    cached = base.cache()
    try:
        fixed = reduce(
            lambda a, b: a.unionAll(b), [cached] * (MAX_SCAN_REPEAT + 2)
        )
        assert scan_repeat_audit(plan_of(fixed)) <= 1, (
            "cached twin should compile the scan at most once"
        )
    finally:
        cached.unpersist()
