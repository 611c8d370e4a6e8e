"""Batch-2 round-3 ops: point-in-time features, MAD outliers, data profile,
token budgeting, weighted sampling, energy segments — hand-sized semantic
checks beside the registry's DuckDB oracle parity."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def test_pit_features_no_leakage(spark):
    # purchase at t=100000s: one event 10s earlier (in window), one event
    # at the same second (excluded — leakage), one 2 days earlier (aged out)
    base = dt.datetime(2024, 1, 5, 0, 0, 0)
    rows = [
        (1, "u1", "click", base - dt.timedelta(days=2), 5.0),
        (2, "u1", "view", base - dt.timedelta(seconds=10), 7.0),
        (3, "u1", "click", base, 9.0),  # same second as the purchase
        (4, "u1", "purchase", base, 11.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp, value double"
    )
    import gmall_flink_230422_spark.plans.analytics as an
    from gmall_flink_230422_spark.io import load_table as real_load

    # drive the plan fn against an in-memory table by monkeypatching loads
    an_load = an.load_table
    try:
        an.load_table = lambda spark, sf, name: ev if name == "events" else real_load(spark, sf, name)
        out = an.q_pit_features(spark, "unused").collect()
    finally:
        an.load_table = an_load
    assert len(out) == 1
    r = out[0]
    assert r["trail_cnt"] == 1  # only the t-10s view
    assert r["trail_value"] == 7.0


def test_mad_outliers_flags_spike(spark):
    import gmall_flink_230422_spark.plans.analytics as an

    vals = [10.0] * 9 + [10.5] * 9 + [1000.0]
    rows = [(i, "u", "click", dt.datetime(2024, 1, 1, 0, 0, i % 60), v)
            for i, v in enumerate(vals)]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts timestamp, value double"
    )
    an_load = an.load_table
    try:
        an.load_table = lambda spark, sf, name: ev
        out = {r["event_type"]: r for r in an.q_mad_outliers(spark, "unused").collect()}
    finally:
        an.load_table = an_load
    r = out["click"]
    # n=19: nearest-rank (cum*2 >= n) lands on the 10th value = 10.5
    assert r["median_value"] == 10.5
    assert r["mad_value"] == 0.5
    assert r["n_outliers"] == 1  # the 1000.0 spike; MAD ignores it entirely


def test_token_budget_respects_budget(spark):
    from gmall_flink_230422_spark.plans.curationq import _TB_BUDGET, q_token_budget

    for r in q_token_budget(spark, "/root/testdata/sf0.001").collect():
        assert r["tokens_kept"] <= _TB_BUDGET
        assert r["n_kept"] <= r["n_docs"]
        assert r["n_kept"] >= 1  # greedy prefix always admits the first doc
        # (fixture docs are far smaller than the budget)


def test_weighted_sample_deterministic_topk(spark):
    from gmall_flink_230422_spark.plans.curationq import q_weighted_sample

    a = [tuple(r) for r in q_weighted_sample(spark, "/root/testdata/sf0.001").collect()]
    b = [tuple(r) for r in q_weighted_sample(spark, "/root/testdata/sf0.001").collect()]
    assert a == b  # derandomized: same race every run
    keys = [r[2] for r in a]
    assert keys == sorted(keys)
    assert len(a) == 20


def test_energy_segments_merge_consecutive(spark):
    from gmall_flink_230422_spark.plans.mediaq import q_energy_segments

    segs = q_energy_segments(spark, "/root/testdata/sf0.001")
    rows = segs.collect()
    assert rows
    for r in rows:
        assert r["seg_start"] <= r["seg_end"]
        assert r["n_frames"] == r["seg_end"] - r["seg_start"] + 1  # contiguous


def test_data_profile_counts(spark):
    import gmall_flink_230422_spark.plans.analytics as an

    out = {r["column_name"]: r for r in an.q_data_profile(spark, "/root/testdata/sf0.001").collect()}
    assert set(out) == {"event_id", "user_id", "event_type", "value"}
    assert out["event_type"]["n_distinct"] == 5
    assert out["event_id"]["n_null"] == 0
